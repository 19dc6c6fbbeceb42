"""Versioned-manifest table format: atomic commits + time travel on
plain parquet — the transactional upgrade over the staged-swap sinks
(SURVEY.md §7.4 risk 1: the reference's upsert is Postgres-
transactional; plain-directory overwrites are not).

Design (a minimal Delta-style log, built from public concepts):

    table/
      _manifests/v00000001.json   # ordered list of live data files
      _manifests/v00000002.json
      part-<uuid>.parquet         # immutable data files, append-only

- Writers add new parquet files, then commit a new manifest listing the
  table's full live-file set. The manifest create is O_EXCL-atomic: two
  racing writers can't both claim version N (one loses and retries).
- Readers list `_manifests/`, pick the highest version (or any older
  one — time travel), and read exactly those files. A crashed writer
  leaves orphan data files but never a torn table.
- Delete/upsert = rewrite affected files + commit a manifest that drops
  the old ones. VACUUM = remove data files referenced by no manifest.

At 100 TB the manifest lists (file, row-count, per-column min/max) so
planning can prune without touching the data — the same trajectory
Delta/Iceberg take. Stats are harvested from the parquet FOOTERS the
writer already produced (no extra data pass), carried forward across
commits, and drive two pruning paths:

- ``read(..., where=[(col, op, lit), ...])`` skips files whose stats
  prove no row can match, then applies the exact predicate to the
  survivors (pruning is a performance fact, never a semantic one).
- ``upsert`` rewrites ONLY the files whose key range intersects the
  update batch's key range — a disjoint file provably contains none of
  the updated keys, so it is carried into the new manifest untouched
  (Delta-style MERGE file pruning; without it every upsert rewrites
  the whole table).
"""

from __future__ import annotations

import base64
import datetime
import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..sources.rest import RecordsSource

#: predicate operators usable in ``where=[(col, op, literal), ...]``
_OPS = ("==", "<", "<=", ">", ">=")


def _stat_value(v):
    """JSON-encode a footer stat; None = unusable (pruning disabled
    for that column). Dates/timestamps go to ISO strings, which order
    lexicographically like their values."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return None


def _normalize_literal(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _may_match(stats: dict | None, col: str, op: str, value) -> bool:
    """False only when the file's footer stats PROVE no row matches."""
    if not stats or col not in stats:
        return True
    lo, hi = stats[col].get("min"), stats[col].get("max")
    if lo is None or hi is None:
        return True
    value = _normalize_literal(value)
    try:
        if op == "==":
            return not (value < lo or value > hi)
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # incomparable types: never prune on a guess
    raise ValueError(f"unsupported predicate op {op!r} (use one of {_OPS})")


class ManifestTable:
    """``bloom_cols`` opts columns into per-file Bloom filters for
    EQUALITY pruning — the complement to min/max stats: a
    high-cardinality key (uuid, content hash) interleaves across files,
    so every file's [min, max] covers every probe and range stats prune
    nothing, while a few hundred bytes of Bloom bits per file answer
    "definitely not here" almost always. Bits are computed
    EXECUTOR-side in one extra job over the just-written files (the
    only stats input the footers don't already hold) and ride in the
    manifest like the range stats do."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 4,
    ):
        self.spark = spark
        self.path = path
        self.mdir = os.path.join(path, "_manifests")
        self.bloom_cols = bloom_cols or []
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        self._pending_blooms: dict[str, dict[str, str]] = {}

    # ---- log internals -------------------------------------------------
    def _versions(self) -> list[int]:
        return sorted(
            int(os.path.basename(p)[1:9])
            for p in glob.glob(os.path.join(self.mdir, "v*.json"))
        )

    def current_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else 0

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self.mdir, f"v{version:08d}.json")) as f:
            return json.load(f)

    def _try_commit(self, version: int, files: list[str], meta: dict) -> bool:
        """O_EXCL manifest create — the atomic commit point."""
        os.makedirs(self.mdir, exist_ok=True)
        target = os.path.join(self.mdir, f"v{version:08d}.json")
        payload = json.dumps({"version": version, "files": files, **meta})
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return True

    def _write_data(self, df: DataFrame) -> list[str]:
        """Write df as new immutable files under the table root; return
        their names. Uses a scratch dir then moves files in (the move is
        per-file but files are invisible until a manifest names them)."""
        import pyarrow.parquet as pq

        scratch = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(scratch)
        blooms = self._blooms_for_scratch(scratch, df)
        os.makedirs(self.path, exist_ok=True)
        names = []
        for p in glob.glob(os.path.join(scratch, "*.parquet")):
            # zero-row part files (empty write partitions) carry no
            # footer stats, so they'd defeat every pruning check —
            # and they hold nothing. Never commit them.
            if pq.ParquetFile(p).metadata.num_rows == 0:
                continue
            name = f"part-{uuid.uuid4().hex}.parquet"
            os.rename(p, os.path.join(self.path, name))
            names.append(name)
            if os.path.basename(p) in blooms:
                self._pending_blooms[name] = blooms[os.path.basename(p)]
        shutil.rmtree(scratch)  # _SUCCESS markers, crc files, etc.
        return names

    def _hash_positions(self, col):
        """The k Bloom bit positions of a column value, as a Spark
        expression — the SAME expression hashes writes (executor-side,
        per row) and probes (one-row driver job), so the two can never
        disagree."""
        from pyspark.sql import functions as F

        return F.array(
            *[
                F.pmod(F.xxhash64(col, F.lit(i)), F.lit(self.bloom_bits))
                for i in range(self.bloom_hashes)
            ]
        )

    def _blooms_for_scratch(
        self, scratch: str, df: DataFrame
    ) -> dict[str, dict[str, str]]:
        """Per-scratch-file Bloom bitmaps (base64) for each bloom_col —
        one executor-side aggregation over the freshly-written files."""
        from pyspark.sql import functions as F

        cols = [c for c in self.bloom_cols if c in df.columns]
        if not cols:
            return {}
        raw = self.spark.read.parquet(scratch)
        out: dict[str, dict[str, str]] = {}
        for c in cols:
            rows = (
                raw.select(
                    F.element_at(
                        F.split(F.input_file_name(), "/"), -1
                    ).alias("_f"),
                    F.explode(self._hash_positions(F.col(c))).alias("_p"),
                )
                .groupBy("_f")
                .agg(F.collect_set("_p").alias("_ps"))
                .collect()
            )
            for r in rows:
                bm = bytearray(self.bloom_bits // 8)
                for p in r["_ps"]:
                    bm[p // 8] |= 1 << (p % 8)
                out.setdefault(r["_f"], {})[c] = base64.b64encode(
                    bytes(bm)
                ).decode()
        return out

    def _probe_positions(self, col: str, value) -> list[int] | None:
        """Bit positions for an equality literal, evaluated through the
        same Spark expression that built the file blooms, over the same
        ``F.lit`` the exact filter in ``read`` compares against (so a
        naive datetime names the same instant on both sides). Returns
        None (no pruning) when the column's type can't be recovered."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        v = self.current_version()
        schema_json = self._read_manifest(v).get("schema") if v else None
        if not schema_json:
            return None
        schema = StructType.fromJson(json.loads(schema_json))
        fields = [f for f in schema.fields if f.name == col]
        if not fields:
            return None
        probe = F.lit(value).cast(fields[0].dataType)
        return list(
            self.spark.range(1)
            .select(self._hash_positions(probe).alias("p"))
            .head()["p"]
        )

    @staticmethod
    def _bloom_may_contain(b64: str, positions: list[int]) -> bool:
        bm = base64.b64decode(b64)
        return all(bm[p // 8] & (1 << (p % 8)) for p in positions)

    def _stats_for(self, names: list[str]) -> dict[str, dict]:
        """Per-file row count + column min/max, read from the parquet
        footers the writer just produced — metadata-only, no data scan.
        Columns whose stats aren't JSON/order-safe (binary, decimal,
        nested) are simply absent, which disables pruning on them."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for name in names:
            md = pq.ParquetFile(os.path.join(self.path, name)).metadata
            cols: dict[str, dict] = {}
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = _stat_value(st.min), _stat_value(st.max)
                    if lo is None or hi is None:
                        continue
                    name_c = col.path_in_schema
                    if "." in name_c:
                        continue  # nested leaves: no top-level pruning
                    cur = cols.get(name_c)
                    if cur is None:
                        cols[name_c] = {"min": lo, "max": hi}
                    else:
                        cur["min"] = min(cur["min"], lo)
                        cur["max"] = max(cur["max"], hi)
            out[name] = {"rows": md.num_rows, "cols": cols}
            if name in self._pending_blooms:
                out[name]["bloom"] = self._pending_blooms[name]
        return out

    def _commit_retry(
        self,
        build,
        extra_meta: dict | None = None,
        carry_meta: bool = False,
    ) -> int:
        """Optimistic-concurrency commit loop. ``build(base)`` must
        compute the new live-file set AGAINST snapshot ``base`` and
        return (files, schema_json, stats) — so when the O_EXCL create
        loses a race, the next iteration recomputes the rewrite from
        the advanced snapshot instead of committing a stale file list
        (the lost-update hazard: a concurrent append landing between
        read and commit would otherwise be silently dropped). Losing
        iterations may leave orphan data files; vacuum() collects them
        after the retention window. ``extra_meta`` rides in the commit
        payload — state a writer needs atomically-with-the-data (e.g.
        the incremental-view source-version pointer). ``carry_meta``
        re-commits the BASE snapshot's custom meta keys: logical
        no-ops (compact) must not erase another writer's pointers."""
        reserved = {"version", "files", "base", "schema", "stats"}
        while True:
            base = self.current_version()
            files, schema_json, stats = build(base)
            carried = (
                {
                    k: v
                    for k, v in self._read_manifest(base).items()
                    if k not in reserved
                }
                if carry_meta and base
                else {}
            )
            if self._try_commit(
                base + 1,
                files,
                {
                    "base": base,
                    "schema": schema_json,
                    "stats": stats,
                    **carried,
                    **(extra_meta or {}),
                },
            ):
                return base + 1

    def _carried_stats(self, base: int, files: list[str]) -> dict:
        """Stats for files inherited from snapshot ``base`` (empty for
        files committed before stats tracking — they just never prune)."""
        if base == 0:
            return {}
        old = self._read_manifest(base).get("stats") or {}
        return {f: old[f] for f in files if f in old}

    # ---- public API ----------------------------------------------------
    def candidate_files(
        self, where: list[tuple], version: int | None = None
    ) -> list[str]:
        """The files whose footer stats ALLOW a match for the ANDed
        ``(col, op, literal)`` predicates — the planning half of a
        pruned read, exposed so tests (and curious users) can see the
        skip count."""
        v = version if version is not None else self.current_version()
        if v == 0:
            raise FileNotFoundError(f"no committed version in {self.path}")
        man = self._read_manifest(v)
        stats = man.get("stats") or {}
        # Bloom probes: hash each equality literal once (one-row job),
        # only for columns some file actually carries a bloom for.
        probes: dict = {}
        for col, op, val in where:
            if op != "==" or col in probes:
                continue
            if any(
                (stats.get(f) or {}).get("bloom", {}).get(col)
                for f in man["files"]
            ):
                probes[col] = self._probe_positions(col, val)

        def keep(f: str) -> bool:
            fs = stats.get(f) or {}
            for col, op, val in where:
                if not _may_match(fs.get("cols"), col, op, val):
                    return False
                if op == "==" and probes.get(col) is not None:
                    b64 = fs.get("bloom", {}).get(col)
                    if b64 and not self._bloom_may_contain(b64, probes[col]):
                        return False
            return True

        return [f for f in man["files"] if keep(f)]

    def read(
        self, version: int | None = None, where: list[tuple] | None = None
    ) -> DataFrame:
        """Snapshot read; with ``where`` the manifest stats skip files
        first, then the exact predicate filters the survivors (so the
        result is identical to an unpruned read + filter)."""
        v = version if version is not None else self.current_version()
        if v == 0:
            raise FileNotFoundError(f"no committed version in {self.path}")
        man = self._read_manifest(v)
        files = (
            self.candidate_files(where, version=v) if where else man["files"]
        )
        if not files:
            schema_json = man.get("schema")
            if not schema_json:
                raise ValueError(
                    f"manifest v{v} is empty and predates schema tracking"
                )
            from pyspark.sql.types import StructType

            return RecordsSource(
                self.spark, StructType.fromJson(json.loads(schema_json))
            ).to_df([])
        # pin the COMMITTED schema: a bare multi-file read takes its
        # schema from whichever file lists first, so an additive column
        # could silently vanish behind old files. With the schema
        # explicit, files missing a column yield typed NULLs and
        # widened columns upcast — snapshot reads are deterministic
        # regardless of file order.
        reader = self.spark.read
        schema_json = man.get("schema")
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        df = reader.parquet(
            *[os.path.join(self.path, f) for f in files]
        )
        if where:
            from pyspark.sql import functions as F

            for col, op, val in where:
                c = F.col(col)
                df = df.where(
                    {
                        "==": c == F.lit(val),
                        "<": c < F.lit(val),
                        "<=": c <= F.lit(val),
                        ">": c > F.lit(val),
                        ">=": c >= F.lit(val),
                    }[op]
                )
        return df

    def append(self, df: DataFrame) -> int:
        """Appends commute: the new files are written once, and on a
        lost race the retry just re-reads the advanced base's file list.

        The committed schema is the ADDITIVE UNION of the base
        snapshot's schema and the batch's (evolution.merge_schemas:
        new columns append, shared columns widen along the explicit
        lattice, incompatible changes raise) — so an evolving-schema
        append never hides previous columns and reads stay total."""
        new = self._write_data(df)
        new_stats = self._stats_for(new)

        def build(base: int):
            schema_json = df.schema.json()
            carried = []
            if base:
                man = self._read_manifest(base)
                carried = man["files"]
                prev = man.get("schema")
                if prev:
                    from pyspark.sql.types import StructType

                    from ..evolution import merge_schemas

                    schema_json = merge_schemas(
                        StructType.fromJson(json.loads(prev)), df.schema
                    ).json()
            return (
                carried + new,
                schema_json,
                {**self._carried_stats(base, carried), **new_stats},
            )

        return self._commit_retry(build)

    def overwrite(self, df: DataFrame, extra_meta: dict | None = None) -> int:
        """Full replacement — last writer wins BY DESIGN: whatever
        snapshot is current at commit time is superseded wholesale, so
        there is nothing to recompute on a lost race."""
        new = self._write_data(df)
        new_stats = self._stats_for(new)
        schema_json = df.schema.json()
        return self._commit_retry(
            lambda base: (list(new), schema_json, dict(new_stats)),
            extra_meta=extra_meta,
        )

    def upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        retire_keys: DataFrame | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """MERGE-style keyed upsert with FILE PRUNING: the update
        batch's key range (one metadata-cheap agg) is intersected with
        each live file's footer stats; provably-disjoint files carry
        into the new manifest untouched, and only intersecting files
        are anti-joined and rewritten together with the batch. The
        rewrite runs INSIDE the commit loop against the base snapshot,
        so a concurrent append that wins the race is merged on retry,
        never dropped. Readers at any point see either the old snapshot
        or the new one.

        ``retire_keys`` deletes those keys in the SAME commit (MERGE's
        WHEN MATCHED THEN DELETE clause) — the incremental-view layer
        needs update+delete to be one atomic snapshot transition."""
        from pyspark.sql import functions as F

        drop = updates.select(*keys).distinct()
        if retire_keys is not None:
            drop = drop.unionByName(retire_keys.select(*keys).distinct())
        bounds = drop.agg(
            F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
        ).collect()[0]

        def build(base: int):
            if base == 0:
                new = self._write_data(updates)
                return new, updates.schema.json(), self._stats_for(new)
            touched = self.candidate_files(
                [(keys[0], ">=", bounds["lo"]), (keys[0], "<=", bounds["hi"])],
                version=base,
            ) if bounds["lo"] is not None else []
            untouched = [
                f
                for f in self._read_manifest(base)["files"]
                if f not in set(touched)
            ]
            if touched:
                old = self.spark.read.parquet(
                    *[os.path.join(self.path, f) for f in touched]
                )
                kept = old.join(drop, keys, "left_anti")
                merged = kept.unionByName(updates)
            else:
                merged = updates
            new = self._write_data(merged)
            return (
                untouched + new,
                merged.schema.json(),
                {
                    **self._carried_stats(base, untouched),
                    **self._stats_for(new),
                },
            )

        return self._commit_retry(build, extra_meta=extra_meta)

    def upsert_latest_wins(
        self,
        updates: DataFrame,
        keys: list[str],
        ts_col: str,
        extra_meta: dict | None = None,
    ) -> int:
        """Conditional MERGE — Delta's ``WHEN MATCHED AND s.ts > t.ts
        THEN UPDATE``: an update only lands if it is NEWER than the row
        it would replace, so late / out-of-order / replayed deliveries
        can never regress the table. This is the CDC latest-wins merge
        a streaming upsert needs (plain ``upsert`` is last-BATCH-wins,
        which clobbers when a stale redelivery arrives after the fresh
        row — see tests/test_stateful_streaming.py e2e).

        Resolution runs INSIDE the commit loop against the base
        snapshot: the batch is first reduced to its newest row per key,
        then unioned with the touched files' rows and re-reduced —
        newest ``ts_col`` wins, existing row wins ties (idempotent on
        exact replay). File pruning is identical to ``upsert``.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w_batch = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
        batch = (
            updates.withColumn("_rn", F.row_number().over(w_batch))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        bounds = batch.agg(
            F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
        ).collect()[0]

        def build(base: int):
            if base == 0:
                new = self._write_data(batch)
                return new, batch.schema.json(), self._stats_for(new)
            touched = self.candidate_files(
                [(keys[0], ">=", bounds["lo"]), (keys[0], "<=", bounds["hi"])],
                version=base,
            ) if bounds["lo"] is not None else []
            untouched = [
                f
                for f in self._read_manifest(base)["files"]
                if f not in set(touched)
            ]
            if touched:
                old = self.spark.read.parquet(
                    *[os.path.join(self.path, f) for f in touched]
                )
                # _src: 0 = existing row, 1 = incoming — ties on ts_col
                # keep the existing row (replay-idempotent)
                combined = old.withColumn("_src", F.lit(0)).unionByName(
                    batch.withColumn("_src", F.lit(1))
                )
                w = Window.partitionBy(*keys).orderBy(
                    F.col(ts_col).desc(), F.col("_src").asc()
                )
                merged = (
                    combined.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn", "_src")
                )
            else:
                merged = batch
            new = self._write_data(merged)
            return (
                untouched + new,
                merged.schema.json(),
                {
                    **self._carried_stats(base, untouched),
                    **self._stats_for(new),
                },
            )

        return self._commit_retry(build, extra_meta=extra_meta)

    def delete_where(self, condition) -> int:
        """Predicate delete, recomputed against the base snapshot on a
        lost race (same reasoning as upsert)."""

        def build(base: int):
            if base == 0:
                raise FileNotFoundError(f"no committed version in {self.path}")
            survivors = self.read(base).where(~condition)
            new = self._write_data(survivors)
            return new, survivors.schema.json(), self._stats_for(new)

        return self._commit_retry(build)

    def delete_keys(self, keys_df: DataFrame, key_cols: list[str]) -> int:
        """Anti-join delete: drop every row whose key appears in
        ``keys_df``. The set-valued twin of ``delete_where`` (a Column
        predicate can't reference another DataFrame); used by the
        incremental-view layer to retire emptied groups."""
        probe = keys_df.select(*key_cols).distinct()

        def build(base: int):
            if base == 0:
                raise FileNotFoundError(f"no committed version in {self.path}")
            survivors = self.read(base).join(probe, key_cols, "left_anti")
            new = self._write_data(survivors)
            return new, survivors.schema.json(), self._stats_for(new)

        return self._commit_retry(build)

    def compact(
        self, target_files: int = 1, cluster_by: list[str] | None = None
    ) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current
        snapshot into ``target_files`` larger files and commit it as a
        new version — no logical data change. Streaming upserts and
        frequent appends accrete one-file-per-batch tables; bin-packing
        them back together is the standard table-format maintenance op
        (Delta OPTIMIZE / Iceberg rewrite_data_files). Runs inside the
        commit loop, so a concurrent writer that wins the race just
        triggers recompaction of the advanced snapshot — never a lost
        update. Old versions still reference the old files, so time
        travel survives until vacuum() reaps them.

        ``cluster_by`` range-partitions the rewrite on those columns
        (OPTIMIZE ... ZORDER's single-dimension cousin; compose with
        ``layout.zorder_key`` for multi-dimension). Clustered files
        carry tight footer min/max on the cluster columns, which is
        what makes the stats pruning in ``read``/``upsert`` actually
        skip files — a coalesce-only compaction mixes key ranges and
        every file stays a candidate for every predicate."""

        def build(base: int):
            if base == 0:
                raise FileNotFoundError(f"no committed version in {self.path}")
            df = self.read(base)
            if cluster_by:
                df = df.repartitionByRange(target_files, *cluster_by)
            else:
                df = df.coalesce(target_files)
            new = self._write_data(df)
            return new, df.schema.json(), self._stats_for(new)

        return self._commit_retry(build, carry_meta=True)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per committed version —
        (version, committed_at, n_files, base, meta json). Commit time
        is the manifest file's mtime (the O_EXCL create IS the commit
        point, so its timestamp is authoritative)."""
        import datetime

        rows = []
        for v in range(1, self.current_version() + 1):
            man = self._read_manifest(v)
            path = os.path.join(self.mdir, f"v{v:08d}.json")
            ts = datetime.datetime.fromtimestamp(
                os.path.getmtime(path), tz=datetime.timezone.utc
            ).replace(tzinfo=None)
            reserved = {"version", "files", "base", "schema", "stats"}
            extra = {k: man[k] for k in man if k not in reserved}
            rows.append(
                (
                    v,
                    ts,
                    len(man["files"]),
                    man.get("base"),
                    json.dumps(extra, sort_keys=True) if extra else None,
                )
            )
        return RecordsSource(
            self.spark,
            "version long, committed_at timestamp, n_files long, "
            "base long, meta string",
        ).to_df(rows)

    def version_as_of(self, ts: float) -> int:
        """Highest version committed at or before unix time ``ts`` —
        the TIMESTAMP AS OF resolver."""
        best = 0
        for v in range(1, self.current_version() + 1):
            path = os.path.join(self.mdir, f"v{v:08d}.json")
            if os.path.getmtime(path) <= ts:
                best = v
        if best == 0:
            raise FileNotFoundError(
                f"no version of {self.path} existed at ts={ts}"
            )
        return best

    def read_as_of(self, ts: float) -> DataFrame:
        """TIMESTAMP AS OF read: the snapshot current at unix time
        ``ts``."""
        return self.read(version=self.version_as_of(ts))

    def restore(self, version: int) -> int:
        """Delta-style RESTORE: re-commit an old snapshot's file list
        as a NEW version. No data files move or rewrite — the manifest
        just points back; history stays intact (the undone versions
        remain time-travelable and their files stay vacuum-protected
        while referenced). The standard bad-deploy rollback."""
        man = self._read_manifest(version)

        def build(base: int):
            return (
                list(man["files"]),
                man.get("schema"),
                dict(man.get("stats") or {}),
            )

        return self._commit_retry(build, extra_meta={"restored_from": version})


    def clone(self, dst_path: str, version: int | None = None,
              **table_kwargs) -> "ManifestTable":
        """Zero-copy CLONE: fork this table's snapshot into a brand-new
        table at ``dst_path`` by HARD-LINKING the snapshot's data files
        and committing a fresh v1 manifest that names them — the
        dev/test-against-prod-data primitive (fork, experiment, drop).

        Hard links make the clone SAFER than a shallow clone that
        references the source's files in place: each table owns its own
        directory entries, so the source's vacuum() can never break the
        clone (and vice versa) — the inode only dies when the last
        referencing table unlinks it. Falls back to a byte copy when
        dst is on a different filesystem. Either way no DataFrame is
        read or rewritten: clone cost is one directory of link() calls
        regardless of table size.

        The clone starts its OWN history at v1 (meta records
        cloned_from/source version); subsequent writes to either table
        are invisible to the other.
        """
        import shutil

        man = self._read_manifest(
            version if version is not None else self.current_version()
        )
        os.makedirs(dst_path, exist_ok=True)
        for f in man["files"]:
            src = os.path.join(self.path, f)
            dst = os.path.join(dst_path, f)
            if os.path.exists(dst):
                continue  # idempotent re-clone into the same dir
            try:
                os.link(src, dst)
            except OSError:  # cross-device: fall back to a copy
                shutil.copy2(src, dst)
        other = ManifestTable(self.spark, dst_path, **table_kwargs)
        ok = other._try_commit(
            1,
            list(man["files"]),
            {
                "schema": man.get("schema"),
                "stats": dict(man.get("stats") or {}),
                "blooms": dict(man.get("blooms") or {}),
                "cloned_from": self.path,
                "cloned_version": man["version"],
                "op": "clone",
            },
        )
        if not ok:
            raise FileExistsError(
                f"{dst_path} already has a manifest log - clone targets"
                " must be fresh directories"
            )
        return other

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots: rows in
        ``v_to`` but not ``v_from`` tagged ``insert``, rows gone from
        ``v_from`` tagged ``delete`` (an update surfaces as
        delete+insert, multiset semantics via exceptAll). This is what
        lets downstream consumers process a table INCREMENTALLY —
        recompute only what changed since the version they last saw —
        instead of full-table rescans; versions already give exact
        boundaries, so the diff needs no extra bookkeeping at write
        time. Two shuffles over the two snapshots' width; at 100 TB
        prefer diffing a key projection, then joining back."""
        new = self.read(v_to if v_to is not None else self.current_version())
        old = self.read(v_from)
        from pyspark.sql import functions as F

        return new.exceptAll(old).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        )

    def vacuum(self, min_age_sec: float = 3600.0) -> list[str]:
        """Remove data files referenced by no manifest (crashed writers,
        losing commit attempts). Files younger than ``min_age_sec`` are
        kept: an in-flight writer moves data files in BEFORE its
        manifest commit names them, so reaping by reference-count alone
        would tear that writer's table. The default window (1 h) must
        exceed the longest plausible write-to-commit gap."""
        import time

        live: set[str] = set()
        for v in self._versions():
            live |= set(self._read_manifest(v)["files"])
        cutoff = time.time() - min_age_sec
        removed = []
        for p in glob.glob(os.path.join(self.path, "part-*.parquet")):
            if os.path.basename(p) not in live and os.path.getmtime(p) <= cutoff:
                os.remove(p)
                removed.append(os.path.basename(p))
        return removed

