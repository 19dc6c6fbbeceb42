"""ManifestTable: atomic commits, snapshot isolation, time travel,
upsert semantics, vacuum."""

import pytest

from pyspark.sql import functions as F

from doeecommerce_datapipeline_spark.sinks.manifest_store import ManifestTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


@pytest.fixture()
def mt(spark, tmp_path):
    return ManifestTable(spark, str(tmp_path / "t"))


def test_append_and_read(spark, mt):
    v1 = mt.append(_df(spark, [(1, "a")]))
    v2 = mt.append(_df(spark, [(2, "b")]))
    assert (v1, v2) == (1, 2)
    assert {r["id"] for r in mt.read().collect()} == {1, 2}


def test_time_travel(spark, mt):
    mt.append(_df(spark, [(1, "a")]))
    mt.overwrite(_df(spark, [(9, "z")]))
    assert {r["id"] for r in mt.read(version=1).collect()} == {1}
    assert {r["id"] for r in mt.read().collect()} == {9}


def test_upsert_snapshot_semantics(spark, mt):
    mt.append(_df(spark, [(1, "old"), (2, "old")]))
    old_snapshot = mt.current_version()
    mt.upsert(_df(spark, [(2, "new"), (3, "new")]), ["id"])
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert got == {1: "old", 2: "new", 3: "new"}
    # the pre-upsert snapshot is still fully readable
    before = {r["id"]: r["v"] for r in mt.read(version=old_snapshot).collect()}
    assert before == {1: "old", 2: "old"}


def test_delete_where(spark, mt):
    mt.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    mt.delete_where(F.col("id") == 2)
    assert {r["id"] for r in mt.read().collect()} == {1, 3}


def test_vacuum_keeps_all_referenced(spark, mt, tmp_path):
    import glob
    import os

    mt.append(_df(spark, [(1, "a")]))
    mt.overwrite(_df(spark, [(2, "b")]))
    # drop an orphan file (simulated crashed writer)
    orphan = os.path.join(str(tmp_path / "t"), "part-deadbeef.parquet")
    open(orphan, "wb").close()
    removed = mt.vacuum(min_age_sec=0)
    assert "part-deadbeef.parquet" in removed
    # both committed snapshots still readable after vacuum
    assert {r["id"] for r in mt.read(version=1).collect()} == {1}
    assert {r["id"] for r in mt.read(version=2).collect()} == {2}


def test_commit_conflict_retries(spark, mt, monkeypatch):
    """A losing O_EXCL race must retry against the new snapshot."""
    mt.append(_df(spark, [(1, "a")]))
    real = mt._try_commit
    calls = {"n": 0}

    def flaky(version, files, meta):
        if calls["n"] == 0:
            calls["n"] += 1
            # sneak a competing commit in first
            real(version, self_files := list(files), {"base": version - 1})
            return False  # then report the loss
        return real(version, files, meta)

    monkeypatch.setattr(mt, "_try_commit", flaky)
    mt.append(_df(spark, [(2, "b")]))
    assert {r["id"] for r in mt.read().collect()} == {1, 2}


def test_upsert_merges_concurrent_append(spark, mt, tmp_path, monkeypatch):
    """Lost-update guard: an append that commits between the upsert's
    snapshot read and its commit must survive — the upsert recomputes
    its rewrite against the advanced base instead of dropping it."""
    from doeecommerce_datapipeline_spark.sinks.manifest_store import ManifestTable

    mt.append(_df(spark, [(1, "old"), (2, "old")]))
    competitor = ManifestTable(spark, str(tmp_path / "t"))
    real = mt._try_commit
    calls = {"n": 0}

    def flaky(version, files, meta):
        if calls["n"] == 0:
            calls["n"] += 1
            competitor.append(_df(spark, [(99, "concurrent")]))
            return False  # our first commit attempt loses the race
        return real(version, files, meta)

    monkeypatch.setattr(mt, "_try_commit", flaky)
    mt.upsert(_df(spark, [(2, "new"), (3, "new")]), ["id"])
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert got == {1: "old", 2: "new", 3: "new", 99: "concurrent"}


def test_delete_all_rows_leaves_readable_empty_table(spark, mt):
    mt.append(_df(spark, [(1, "a"), (2, "b")]))
    mt.delete_where(F.col("id") > 0)
    out = mt.read()
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_vacuum_retention_spares_young_orphans(spark, mt, tmp_path):
    import os

    mt.append(_df(spark, [(1, "a")]))
    orphan = os.path.join(str(tmp_path / "t"), "part-young.parquet")
    open(orphan, "wb").close()
    assert mt.vacuum(min_age_sec=3600) == []  # young in-flight file kept
    assert os.path.exists(orphan)


def test_compact_bin_packs_without_data_change(spark, mt):
    for i in range(5):
        mt.append(_df(spark, [(i, f"v{i}")]))
    before = mt._read_manifest(mt.current_version())["files"]
    assert len(before) >= 5  # one file per append
    v_pre = mt.current_version()

    v = mt.compact(target_files=1)
    after = mt._read_manifest(v)["files"]
    assert len(after) == 1
    assert {(r["id"], r["v"]) for r in mt.read().collect()} == {
        (i, f"v{i}") for i in range(5)
    }
    # time travel to the pre-compaction snapshot still works (old
    # files stay on disk until vacuum)
    assert mt.read(version=v_pre).count() == 5
    # vacuum keeps everything: old files are still referenced by the
    # pre-compaction manifests
    assert mt.vacuum(min_age_sec=0.0) == []


def test_stats_pruned_read_skips_disjoint_files(spark, mt):
    """Three appends with disjoint id ranges → a range predicate plans
    exactly one candidate file, and the pruned read equals the
    unpruned-read-then-filter result."""
    for lo in (0, 100, 200):
        mt.append(
            _df(spark, [(lo + i, f"v{lo + i}") for i in range(100)]).coalesce(1)
        )
    man = mt._read_manifest(mt.current_version())
    assert len(man["files"]) == 3
    assert set(man["stats"]) == set(man["files"])  # footer stats on all

    cands = mt.candidate_files([("id", ">=", 250)])
    assert len(cands) == 1
    got = {r["id"] for r in mt.read(where=[("id", ">=", 250)]).collect()}
    assert got == set(range(250, 300))

    # equality probe plans one file too
    assert len(mt.candidate_files([("id", "==", 150)])) == 1
    assert {r["id"] for r in mt.read(where=[("id", "==", 150)]).collect()} == {150}

    # an impossible predicate plans zero files but still returns a
    # well-typed empty frame
    assert mt.candidate_files([("id", ">", 10_000)]) == []
    empty = mt.read(where=[("id", ">", 10_000)])
    assert empty.count() == 0 and empty.columns == ["id", "v"]


def test_string_and_multi_predicate_pruning(spark, mt):
    mt.append(_df(spark, [(1, "apple"), (2, "banana")]).coalesce(1))
    mt.append(_df(spark, [(3, "yam"), (4, "zucchini")]).coalesce(1))
    assert len(mt.candidate_files([("v", ">=", "x")])) == 1
    # ANDed predicates intersect their prunes
    assert mt.candidate_files([("id", "<=", 2), ("v", ">=", "x")]) == []


def test_upsert_rewrites_only_intersecting_files(spark, mt):
    """Files whose key range is disjoint from the update batch survive
    by NAME (no rewrite); only the intersecting file is replaced."""
    for lo in (0, 100, 200):
        mt.append(_df(spark, [(lo + i, "old") for i in range(100)]).coalesce(1))
    before = set(mt._read_manifest(mt.current_version())["files"])

    mt.upsert(_df(spark, [(150, "new"), (151, "new")]), ["id"])
    after = set(mt._read_manifest(mt.current_version())["files"])

    survivors = before & after
    assert len(survivors) == 2  # the 0-99 and 200-299 files untouched
    got = {r["id"]: r["v"] for r in mt.read().collect()}
    assert len(got) == 300
    assert got[150] == "new" and got[151] == "new" and got[0] == "old"
    # carried files keep their stats → pruning still works post-upsert
    assert len(mt.candidate_files([("id", "<", 100)])) == 1


def test_changes_feed_tracks_upsert_and_delete(spark, mt):
    v1 = mt.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    v2 = mt.upsert(_df(spark, [(2, "B"), (4, "d")]), ["id"])
    v3 = mt.delete_where(F.col("id") == 1)

    step1 = {
        (r["id"], r["v"], r["_change_type"])
        for r in mt.changes(v1, v2).collect()
    }
    # update of 2 surfaces as delete+insert; 4 is a pure insert
    assert step1 == {(2, "b", "delete"), (2, "B", "insert"), (4, "d", "insert")}

    step2 = {
        (r["id"], r["_change_type"]) for r in mt.changes(v2, v3).collect()
    }
    assert step2 == {(1, "delete")}

    # full-range diff composes the steps
    full = {
        (r["id"], r["v"], r["_change_type"])
        for r in mt.changes(v1).collect()
    }
    assert (1, "a", "delete") in full and (4, "d", "insert") in full


def test_bloom_pruning_on_interleaved_keys(spark, tmp_path):
    """Keys interleave mod-3 across files, so every file's [min,max]
    covers every probe — range stats prune NOTHING — while the Bloom
    bits still isolate the one file that can hold the key."""
    mt = ManifestTable(spark, str(tmp_path / "tb"), bloom_cols=["id"])
    for r in range(3):
        mt.append(
            _df(spark, [(i * 3 + r, f"v{i * 3 + r}") for i in range(100)])
            .coalesce(1)
        )
    man = mt._read_manifest(mt.current_version())
    assert len(man["files"]) == 3
    assert all("bloom" in man["stats"][f] for f in man["files"])

    # range stats alone cannot prune an interior probe
    # (id=151 ≡ 1 mod 3 → only the r=1 file may contain it)
    cands = mt.candidate_files([("id", "==", 151)])
    assert len(cands) == 1
    got = {r["id"] for r in mt.read(where=[("id", "==", 151)]).collect()}
    assert got == {151}

    # an absent key inside every file's range: blooms prune all files
    # (8192 bits / 100 keys ⇒ false-positive odds are negligible)
    assert mt.candidate_files([("id", "==", 152_000)]) == []

    # blooms survive carry-forward through an upsert of other keys
    mt.upsert(_df(spark, [(300, "new")]), ["id"])
    assert len(mt.candidate_files([("id", "==", 1)])) == 1


def test_bloom_pruning_on_string_keys(spark, tmp_path):
    """String equality — where min/max is weakest (uuid-ish keys)."""
    mt = ManifestTable(spark, str(tmp_path / "ts"), bloom_cols=["v"])
    mt.append(_df(spark, [(1, "aaa"), (2, "zzz")]).coalesce(1))
    mt.append(_df(spark, [(3, "abc"), (4, "zzy")]).coalesce(1))
    assert len(mt.candidate_files([("v", "==", "abc")])) == 1
    assert mt.candidate_files([("v", "==", "nope")]) == []
    got = {r["id"] for r in mt.read(where=[("v", "==", "abc")]).collect()}
    assert got == {3}


def test_bloom_pruning_on_timestamp_keys_off_utc_host(spark, tmp_path, host_tz):
    """A naive datetime literal must hash to the instant the exact
    filter compares against, whatever the host's TZ — otherwise the
    Bloom probe prunes the one file that holds the matching row."""
    import datetime as dt

    host_tz("America/New_York")
    mt = ManifestTable(spark, str(tmp_path / "tt"), bloom_cols=["ts"])
    hours = spark.range(48).select(
        "id",
        F.timestamp_seconds(F.lit(1705276800) + F.col("id") * 3600).alias("ts"),
    )  # 2024-01-15T00:00Z + id hours
    for r in range(3):
        mt.append(hours.where(F.col("id") % 3 == r).coalesce(1))
    naive = dt.datetime(2024, 1, 15, 12, 0)
    expected = {
        r["id"] for r in mt.read().where(F.col("ts") == F.lit(naive)).collect()
    }
    assert expected  # the literal lands on a stored instant
    got = {r["id"] for r in mt.read(where=[("ts", "==", naive)]).collect()}
    assert got == expected


def test_tables_without_bloom_cols_unchanged(spark, mt):
    mt.append(_df(spark, [(1, "a")]).coalesce(1))
    man = mt._read_manifest(mt.current_version())
    assert all("bloom" not in s for s in man["stats"].values())
    assert len(mt.candidate_files([("id", "==", 1)])) == 1


def _tdf(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, ts long")


def test_upsert_latest_wins_semantics(spark, mt):
    """Stale updates never regress; fresh ones land; within-batch dups
    reduce to newest; ties keep the existing row (replay no-op)."""
    mt.append(_tdf(spark, [(1, "v1", 10), (2, "v1", 10)]))
    mt.upsert_latest_wins(
        _tdf(
            spark,
            [
                (1, "stale", 5),      # older → must not clobber
                (2, "fresh", 20),     # newer → lands
                (3, "dup_old", 7),    # within-batch dup…
                (3, "dup_new", 9),    # …newest wins
            ],
        ),
        ["id"],
        "ts",
    )
    got = {r["id"]: (r["v"], r["ts"]) for r in mt.read().collect()}
    assert got == {1: ("v1", 10), 2: ("fresh", 20), 3: ("dup_new", 9)}
    # exact replay: tie on ts keeps the existing rows — nothing moves
    mt.upsert_latest_wins(
        _tdf(spark, [(2, "replay", 20), (3, "replay", 9)]), ["id"], "ts"
    )
    again = {r["id"]: (r["v"], r["ts"]) for r in mt.read().collect()}
    assert again == got


def test_latest_wins_merges_concurrent_append(spark, mt, tmp_path, monkeypatch):
    """Same lost-update guard as plain upsert: a concurrent append
    committed mid-merge survives, and the conditional semantics still
    hold against the ADVANCED snapshot."""
    mt.append(_tdf(spark, [(1, "old", 10)]))
    competitor = ManifestTable(spark, str(tmp_path / "t"))
    real = mt._try_commit
    calls = {"n": 0}

    def flaky(version, files, meta):
        if calls["n"] == 0:
            calls["n"] += 1
            # the competitor lands key 5 AND a NEWER version of key 1
            competitor.append(_tdf(spark, [(5, "concurrent", 1), (1, "newer", 99)]))
            return False
        return real(version, files, meta)

    monkeypatch.setattr(mt, "_try_commit", flaky)
    # our batch carries ts=50 for key 1 — newer than the base snapshot
    # (10) but OLDER than the competitor's 99; the retry must resolve
    # against the advanced snapshot and keep 99
    mt.upsert_latest_wins(_tdf(spark, [(1, "mine", 50), (4, "mine", 50)]), ["id"], "ts")
    got = {r["id"]: (r["v"], r["ts"]) for r in mt.read().collect()}
    assert got[5] == ("concurrent", 1)
    assert got[4] == ("mine", 50)
    assert got[1] == ("newer", 99), f"lost-update: {got[1]}"


def test_restore_old_snapshot(spark, mt):
    """RESTORE re-commits an old file list as a new version: data
    rolls back, history stays time-travelable, no files rewritten."""
    import glob
    import os

    mt.append(_df(spark, [(1, "a")]))          # v1
    mt.overwrite(_df(spark, [(9, "bad")]))     # v2 — the bad deploy
    files_before = set(glob.glob(os.path.join(mt.path, "*.parquet")))
    v3 = mt.restore(1)
    assert v3 == 3
    assert {r["id"] for r in mt.read().collect()} == {1}
    # the undone version is still readable (history intact)
    assert {r["id"] for r in mt.read(version=2).collect()} == {9}
    # restore moved the pointer only — zero new data files
    assert set(glob.glob(os.path.join(mt.path, "*.parquet"))) == files_before
    # and vacuum keeps every referenced file across all versions
    assert mt.vacuum(min_age_sec=0) == []
    assert {r["id"] for r in mt.read().collect()} == {1}


def test_history_and_timestamp_as_of(spark, mt):
    import os

    mt.append(_df(spark, [(1, "a")]))                   # v1
    mt.append(_df(spark, [(2, "b")]))                   # v2
    mt.restore(1)                                       # v3
    # pin commit times: v1@1000, v2@2000, v3@3000
    for v, t in ((1, 1000), (2, 2000), (3, 3000)):
        p = os.path.join(mt.mdir, f"v{v:08d}.json")
        os.utime(p, (t, t))

    h = {r["version"]: r for r in mt.history().collect()}
    assert sorted(h) == [1, 2, 3]
    assert h[1]["base"] == 0 and h[2]["base"] == 1
    assert '"restored_from": 1' in h[3]["meta"]
    assert h[2]["committed_at"] > h[1]["committed_at"]

    assert mt.version_as_of(1500) == 1
    assert {r["id"] for r in mt.read_as_of(2500).collect()} == {1, 2}
    assert {r["id"] for r in mt.read_as_of(9999).collect()} == {1}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        mt.version_as_of(500)


def test_append_schema_evolution_union_and_pinned_reads(spark, mt):
    """Additive/widening appends: the committed schema is the union
    (old columns never vanish regardless of file listing order), old
    rows surface NULLs for new columns, int widens to long, and
    time travel sees each version's own schema."""
    import pytest as _pytest

    mt.append(spark.createDataFrame([(1, "a", 7)], "id long, v string, n int"))
    mt.append(
        spark.createDataFrame(
            [(2, "b", 8, 9.5)], "id long, v string, n long, extra double"
        )
    )
    out = mt.read()
    assert out.columns == ["id", "v", "n", "extra"]
    assert dict(out.dtypes)["n"] == "bigint"  # widened int -> long
    got = {r["id"]: (r["n"], r["extra"]) for r in out.collect()}
    assert got == {1: (7, None), 2: (8, 9.5)}
    # a narrowing append (column gone from the batch) still unions
    mt.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    out2 = mt.read()
    assert out2.columns == ["id", "v", "n", "extra"]
    assert out2.where("id = 3").head()["n"] is None
    # time travel: v1's schema had no 'extra'
    assert mt.read(version=1).columns == ["id", "v", "n"]
    # incompatible type change raises (no silent corruption)
    from doeecommerce_datapipeline_spark.evolution import SchemaEvolutionError

    with _pytest.raises(SchemaEvolutionError):
        mt.append(spark.createDataFrame([("x", "d")], "id string, v string"))


def test_clone_is_zero_copy_and_independent(spark, mt, tmp_path):
    """CLONE forks a snapshot via hard links: same data, own history,
    and each side's writes/vacuum are invisible to the other."""
    import json
    import os

    mt.append(_df(spark, [(1, "a"), (2, "b")]))
    mt.append(_df(spark, [(3, "c")]))
    clone = mt.clone(str(tmp_path / "fork"))
    assert {r["id"] for r in clone.read().collect()} == {1, 2, 3}
    assert clone.current_version() == 1  # fresh history
    meta = json.loads(
        clone.history().where("version = 1").collect()[0]["meta"]
    )
    assert meta["op"] == "clone" and meta["cloned_version"] == 2
    # zero-copy: every cloned file shares its inode with the source
    man = clone._read_manifest(1)
    for f in man["files"]:
        assert os.path.samefile(
            os.path.join(mt.path, f), os.path.join(clone.path, f)
        )
    # divergence: writes to the clone don't touch the source
    clone.upsert(_df(spark, [(1, "CHANGED")]), keys=["id"])
    assert {r["v"] for r in mt.read().collect()} == {"a", "b", "c"}
    got = {r["id"]: r["v"] for r in clone.read().collect()}
    assert got[1] == "CHANGED" and got[2] == "b"
    # deleting the SOURCE's directory entries (the worst a source-side
    # retention sweep could do) cannot break the clone: the hard links
    # own the inodes, so the clone's snapshot stays readable
    for f in man["files"]:
        os.remove(os.path.join(mt.path, f))
    assert {r["id"] for r in clone.read(version=1).collect()} == {1, 2, 3}


def test_clone_refuses_existing_table(spark, mt, tmp_path):
    mt.append(_df(spark, [(1, "a")]))
    mt.clone(str(tmp_path / "fork2"))
    with pytest.raises(FileExistsError):
        mt.clone(str(tmp_path / "fork2"))
