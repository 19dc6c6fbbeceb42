"""sf1 scale probe (r7 verdict #5): measure how the most expensive
registry queries scale from sf0.1 to sf1 (10x rows), converting the
100 TB design claims (bucketed dedup, bounded windows, codec-seam
repartition) from plan-shape argument into measurement.

Dataset: /root/testdata ships only sf<=0.1 and is read-only, so sf1 is
generated HERE as a 10x key-offset replication of sf0.1 — the TPC-H
scaling model exactly (fact/dim row counts scale linearly with SF,
the calendar and the nation/region dims stay fixed). Each replica i
offsets every surrogate key by i * OFFSET (10**9, far above any sf0.1
key), so foreign keys stay consistent within a replica and the 10
shards are disjoint — which is how TPC-H itself scales customers,
orders, and parts. Caveats (documented, inherent to replication):
  - documents text gains a per-replica suffix token so near-dup
    density stays at the fixture's rate instead of inflating 10x
    with exact cross-replica clones;
  - embeddings replicate with vec_id offsets only (ANN probes bound
    by vec_id keep their working set; index training sees 10x rows).
Output: BENCH_SCALE.md with per-query sf0.1 vs sf1 wall seconds and
the scaling ratio; anything super-linear beyond 10x*(1+slack) is
flagged for inspection.

Timing is bench.py's core on a get_spark session: ``warm_engine`` once,
one untimed warm run per query, then ``time_cold`` (min of 2 cold-state
runs, construct + execute to the noop sink) at each scale.

Usage:
    python tools/scale_probe.py [N_QUERIES]     # top-N by the newest
        BENCH_LOCAL record's cost
    python tools/scale_probe.py --names a,b,c   # explicit slice;
        appends a named section to BENCH_SCALE.md instead of
        overwriting the top-N table
    python tools/scale_probe.py --perturbed --names a,b,c
        # same, against the perturbed-clone replica (sf1p): part
        # names suffixed per shard, embedding dims rotated per shard
        # — density preserved, exact-clone pair blowup gone (r8
        # verdict #5)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from bench import newest_record, time_cold, warm_engine  # noqa: E402
from doeecommerce_datapipeline_spark.session import get_spark  # noqa: E402

SF1_DIR = os.path.join(REPO, ".scale_probe", "sf1")
# perturbed-clone variant (r8 verdict #5): same 10x replication, but
# clone artifacts that are adversarial for pair-enumeration operators
# are removed while preserving density — see generate_sf1(perturbed=)
SF1P_DIR = os.path.join(REPO, ".scale_probe", "sf1p")
SF01_DIR = "/root/testdata/sf0.1"
OFFSET = 10**9
REPLICAS = 10

# key columns to offset per table; None -> copy unchanged
_KEYED = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_FIXED = ["nation", "region"]


def generate_sf1(dst_dir: str = SF1_DIR, perturbed: bool = False) -> None:
    """10x replica generator. perturbed=True (r8 verdict #5) removes
    the exact-clone artifacts that are adversarial for
    pair-enumeration operators while preserving density:

    - part.p_name: replicas i>0 get a per-shard letter-run suffix
      (' ' || repeat(chr(97+i), 6+i)). WITHIN a shard both names of
      any pair carry the identical suffix, so every levenshtein
      distance — and hence each shard's match set — is exactly
      sf0.1's; ACROSS shards the suffixes alone differ by >5 edits,
      so clone pairs stop matching. Blocked-quadratic match output
      grows linearly (10x) instead of ~100x.
    - embeddings.embedding: replica i>0 gets its DIMENSIONS rotated
      by 7*i (mod dim; 7*i is distinct mod 64 for i=0..9). A shared
      permutation preserves norms and every WITHIN-shard dot product
      bit-for-bit (each shard reproduces sf0.1's near-dup geometry),
      while CROSS-shard clones decorrelate to ~random cosine —
      exact-clone pair enumeration (mllib_lsh_join's measured 26.8x)
      collapses to linear.
    - documents.text already gets the replica-unique token suffix in
      both modes (exact-dup dedup stays honest)."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    con = duckdb.connect()
    for t in _FIXED:
        dst = os.path.join(dst_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        con.sql(
            f"COPY (SELECT * FROM '{SF01_DIR}/{t}.parquet') "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
    for t, keys in _KEYED.items():
        dst = os.path.join(dst_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        cols = [
            r[0]
            for r in con.sql(
                f"DESCRIBE SELECT * FROM '{SF01_DIR}/{t}.parquet'"
            ).fetchall()
        ]
        sel = []
        for c in cols:
            if c in keys:
                sel.append(f"{c} + r.i * {OFFSET} AS {c}")
            elif t == "documents" and c == "text":
                # keep near-dup density at the fixture rate: one
                # replica-unique token appended per document
                sel.append(
                    "CASE WHEN r.i = 0 THEN text "
                    "ELSE text || ' shard' || r.i END AS text"
                )
            elif t == "documents" and c == "n_chars":
                # r8 ADVICE: bump by the true appended length so the
                # fixture invariant n_chars == length(text) survives
                # replication (' shard' = 6 chars + the digits of i)
                sel.append(
                    "CASE WHEN r.i = 0 THEN n_chars "
                    "ELSE n_chars + length(' shard' || r.i) "
                    "END AS n_chars"
                )
            elif perturbed and t == "part" and c == "p_name":
                sel.append(
                    "CASE WHEN r.i = 0 THEN p_name "
                    "ELSE p_name || ' ' || "
                    "repeat(chr(CAST(97 + r.i AS INTEGER)), 6 + r.i) "
                    "END AS p_name"
                )
            elif perturbed and t == "embeddings" and c == "embedding":
                sel.append(
                    "CASE WHEN r.i = 0 THEN embedding "
                    "ELSE list_transform(range(0, len(embedding)), d -> "
                    "embedding[((d + 7 * r.i) % len(embedding)) + 1]) "
                    "END AS embedding"
                )
            else:
                sel.append(c)
        con.sql(
            f"COPY (SELECT {', '.join(sel)} "
            f"FROM '{SF01_DIR}/{t}.parquet', "
            f"(SELECT unnest(range({REPLICAS})) AS i) r) "
            f"TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 122880)"
        )
    con.close()


def top_queries(n: int) -> list[str]:
    with open(newest_record(REPO)) as f:
        d = json.load(f)
    q = d["queries"]
    return sorted(q, key=lambda k: -q[k])[:n]


def main() -> None:
    argv = sys.argv[1:]
    perturbed = False
    if argv and argv[0] == "--perturbed":
        perturbed = True
        argv = argv[1:]
    explicit = None
    if len(argv) > 1 and argv[0] == "--names":
        explicit = [x for x in argv[1].split(",") if x]
        n = len(explicit)
    else:
        n = int(argv[0]) if argv else 20
    big_dir = SF1P_DIR if perturbed else SF1_DIR
    generate_sf1(big_dir, perturbed)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("scale_probe", cpus=cpus, shuffle_partitions=cpus)
    warm_engine(spark, SF01_DIR)
    queries = entrymod.queries()
    names = [
        q
        for q in (explicit if explicit is not None else top_queries(n))
        if q in queries
    ]

    rows = []
    for name in names:
        fn = queries[name]
        # one untimed warm run (plan/code caches), then time both SFs
        # back-to-back
        time_cold(spark, fn, SF01_DIR, 1)
        t_small = time_cold(spark, fn, SF01_DIR, 2)
        t_big = time_cold(spark, fn, big_dir, 2)
        ratio = t_big / t_small if t_small > 0 else float("inf")
        rows.append((name, t_small, t_big, ratio))
        print(f"{name}: sf0.1 {t_small:.2f}s sf1 {t_big:.2f}s x{ratio:.1f}",
              flush=True)

    out = os.path.join(REPO, "BENCH_SCALE.md")
    if explicit is not None:
        title = (
            "\n## Perturbed-clone slice (appended; sf1p — see "
            "generate_sf1(perturbed=True))\n\n"
            if perturbed
            else "\n## Named slice (appended)\n\n"
        )
        with open(out, "a") as f:
            f.write(
                title
                + "| query | sf0.1 s | sf1 s | ratio | note |\n"
                "|---|---|---|---|---|\n"
            )
            for name, a, b, r in sorted(rows, key=lambda x: -x[3]):
                note = "SUPER-LINEAR" if r > 15 else ""
                f.write(
                    f"| {name} | {a:.2f} | {b:.2f} | {r:.1f}x | {note} |\n"
                )
        print(f"appended to {out}")
        spark.stop()
        return
    with open(out, "w") as f:
        f.write(
            "# sf0.1 -> sf1 scale probe (r8, verdict #5)\n\n"
            "10x data via key-offset replication of sf0.1 (see\n"
            "tools/scale_probe.py docstring for the model + caveats),\n"
            f"local[{cpus}], min-of-2 cold runs after warm, top-{len(rows)}\n"
            "most expensive entries from the newest BENCH_LOCAL record.\n"
            "A ratio near or below 10 means the operator scales\n"
            "at-or-better than linearly in rows on a fixed-core box;\n"
            "sub-linear ratios\n"
            "mean sf0.1 underutilized the cores (fixed overheads\n"
            "amortize). Entries flagged SUPER-LINEAR (>15x) warrant a\n"
            "plan audit.\n\n"
            "| query | sf0.1 s | sf1 s | ratio | note |\n"
            "|---|---|---|---|---|\n"
        )
        for name, a, b, r in sorted(rows, key=lambda x: -x[3]):
            note = "SUPER-LINEAR" if r > 15 else ""
            f.write(f"| {name} | {a:.2f} | {b:.2f} | {r:.1f}x | {note} |\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
