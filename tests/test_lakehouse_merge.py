"""ACID MERGE sink (S5 upgraded): upsert/delete semantics, snapshot
isolation + time travel, file-level pruning (untouched files carried by
reference, never rewritten), and optimistic-concurrency conflict handling."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark import StorageLevel

from transilien_api_etl_spark.sources import lakehouse as lh


def _mk_table(spark, rows, tmp=None):
    table = tmp or tempfile.mkdtemp(prefix="lakehouse-")
    df = spark.createDataFrame(rows, "id long, name string, v double")
    # Two key-clustered files: ids 0-49 and 50-99 — the pruning fixture.
    low = df.where("id < 50").coalesce(1)
    high = df.where("id >= 50").coalesce(1)
    lh.create_table(spark, table, low, ["id"])
    snap = lh.load_snapshot(table)
    entries = lh._write_data_files(high, table, ["id"])
    lh._commit(table, 1, ["id"], list(snap.files) + entries)
    return table


@pytest.fixture
def table(spark):
    return _mk_table(
        spark, [(i, f"n{i}", float(i)) for i in range(100)]
    )


def test_merge_upsert_insert_delete(spark, table):
    src = spark.createDataFrame(
        [
            (3, "updated", 99.0, False),
            (200, "inserted", 1.0, False),
            (7, None, 0.0, True),  # delete id 7
        ],
        "id long, name string, v double, is_delete boolean",
    )
    snap = lh.merge_into(spark, table, src, delete_col="is_delete")
    got = {
        r["id"]: (r["name"], r["v"])
        for r in lh.read_table(spark, table).collect()
    }
    assert got[3] == ("updated", 99.0)
    assert got[200] == ("inserted", 1.0)
    assert 7 not in got
    assert got[42] == ("n42", 42.0)  # untouched row intact
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    assert snap.version == 2


def test_time_travel_reads_pre_merge_snapshot(spark, table):
    v_before = lh.load_snapshot(table).version
    src = spark.createDataFrame([(3, "x", 0.0)], "id long, name string, v double")
    lh.merge_into(spark, table, src)
    old = lh.read_table(spark, table, version=v_before)
    assert {r["name"] for r in old.where("id = 3").collect()} == {"n3"}
    new = lh.read_table(spark, table)
    assert {r["name"] for r in new.where("id = 3").collect()} == {"x"}
    hist = lh.table_history(table)
    assert [h["version"] for h in hist] == list(range(v_before + 2))


def test_file_pruning_skips_out_of_range_files(spark, table):
    before = lh.load_snapshot(table)
    # All source keys < 50: the [50, 99] file must be carried by reference.
    src = spark.createDataFrame([(10, "u", 0.0)], "id long, name string, v double")
    after = lh.merge_into(spark, table, src)
    before_paths = {e["path"] for e in before.files}
    after_paths = {e["path"] for e in after.files}
    high_files = {e["path"] for e in before.files if e["min_key"] >= 50}
    low_files = before_paths - high_files
    assert high_files and high_files <= after_paths  # untouched, same file
    assert not (low_files & after_paths)  # touched file was rewritten
    # Data survives pruning decisions.
    assert lh.read_table(spark, table).count() == 100


def test_merge_rejects_duplicate_source_keys(spark, table):
    src = spark.createDataFrame(
        [(1, "a", 0.0), (1, "b", 0.0)], "id long, name string, v double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        lh.merge_into(spark, table, src)


def test_concurrent_commit_conflict_and_retry(spark, table):
    snap = lh.load_snapshot(table)
    # A rival writer publishes the next version directly.
    lh._commit(table, snap.version + 1, list(snap.key_cols), list(snap.files))
    # Direct single-attempt merge against the stale snapshot must conflict.
    src = spark.createDataFrame([(5, "z", 0.0)], "id long, name string, v double")
    with pytest.raises(lh.ConcurrentWriteError):
        lh._merge_once(spark, table, src, snap, None)
    # The retrying entry point re-reads the new snapshot and lands.
    out = lh.merge_into(spark, table, src)
    assert out.version == snap.version + 2
    got = lh.read_table(spark, table).where("id = 5").collect()
    assert got[0]["name"] == "z"


def test_aborted_writer_invisible_to_readers(spark, table):
    # Staged-but-uncommitted data files (a crashed writer) are never listed.
    n_before = lh.read_table(spark, table).count()
    orphan = spark.createDataFrame([(999, "ghost", 0.0)], "id long, name string, v double")
    lh._write_data_files(orphan, table, ["id"])  # stage without commit
    assert lh.read_table(spark, table).count() == n_before


def test_compact_preserves_data_and_improves_layout(spark):
    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    # Several point merges create small delta files.
    for key in (3, 57, 91):
        src = spark.createDataFrame(
            [(key, "upd", -1.0)], "id long, name string, v double"
        )
        lh.merge_into(spark, table, src)
    before = lh.load_snapshot(table)
    rows_before = sorted(
        tuple(r) for r in lh.read_table(spark, table).collect()
    )
    after = lh.compact(spark, table, target_files=2)
    assert after.version == before.version + 1
    assert len(after.files) <= len(before.files)
    rows_after = sorted(tuple(r) for r in lh.read_table(spark, table).collect())
    assert rows_after == rows_before
    # Key-sorted layout: file ranges must not overlap after compaction.
    ranges = sorted((e["min_key"], e["max_key"]) for e in after.files)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_vacuum_removes_only_unreferenced_files(spark):
    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    src = spark.createDataFrame([(3, "x", 0.0)], "id long, name string, v double")
    lh.merge_into(spark, table, src)
    latest = lh.load_snapshot(table)
    removed = lh.vacuum(table, keep_versions=1)
    assert removed  # the rewritten low file's old copy is gone
    # Current snapshot still fully readable.
    assert lh.read_table(spark, table).count() == 100
    # All remaining manifest entries point at existing files.
    for e in latest.files:
        assert os.path.exists(os.path.join(table, e["path"]))
    # Old manifests are gone: time travel beyond retention raises.
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        lh.load_snapshot(table, 0)


def test_change_feed_classifies_all_three_kinds(spark):
    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    v0 = lh.load_snapshot(table).version
    src = spark.createDataFrame(
        [
            (3, "updated", 99.0, False),
            (200, "inserted", 1.0, False),
            (7, None, 0.0, True),
        ],
        "id long, name string, v double, is_delete boolean",
    )
    lh.merge_into(spark, table, src, delete_col="is_delete")
    v1 = lh.load_snapshot(table).version
    cdc = {
        r["id"]: r["_change_type"]
        for r in lh.change_feed(spark, table, v0, v1).collect()
    }
    assert cdc[3] == "update_postimage"
    assert cdc[200] == "insert"
    assert cdc[7] == "delete"
    # Unchanged keys in rewritten files must NOT appear: the diff is
    # key-accurate even though rewrites copy untouched neighbours.
    assert 42 not in cdc
    assert set(cdc) == {3, 200, 7}
    # Identical versions diff to empty.
    assert lh.change_feed(spark, table, v1, v1).count() == 0


def test_streaming_merge_sink_exactly_once(spark):
    import tempfile as _tf

    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    d = _tf.mkdtemp(prefix="stream-merge-")
    src_dir = os.path.join(d, "in")
    spark.createDataFrame(
        [(i, "streamed", float(i * 10)) for i in range(90, 110)],
        "id long, name string, v double",
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("id long, name string, v double").parquet(src_dir)
    sink = lh.stream_merge_sink(table)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["id"]: r["name"] for r in lh.read_table(spark, table).collect()}
    assert got[95] == "streamed" and got[105] == "streamed"
    assert len(got) == 110
    # Replaying the same batch id must be a no-op (crash-between-commit
    # -and-checkpoint simulation).
    version_before = lh.load_snapshot(table).version
    replay = spark.createDataFrame(
        [(95, "REPLAYED", 0.0)], "id long, name string, v double"
    )
    sink(replay, 0)  # batch id 0 already applied
    assert lh.load_snapshot(table).version == version_before
    assert lh.read_table(spark, table).where("id = 95").collect()[0]["name"] == "streamed"


def test_schema_evolution_adds_and_retains_columns(spark):
    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    # Source carries a NEW column `score` and LACKS the existing `v`.
    src = spark.createDataFrame(
        [(3, "updated", 0.9), (200, "inserted", 0.5)],
        "id long, name string, score double",
    )
    lh.merge_into(spark, table, src)
    out = lh.read_table(spark, table)
    assert set(out.columns) == {"id", "name", "v", "score"}
    got = {r["id"]: r for r in out.collect()}
    # Updated row: new col set, absent col RETAINED from target.
    assert got[3]["score"] == 0.9 and got[3]["v"] == 3.0 and got[3]["name"] == "updated"
    # Inserted row: absent col NULL.
    assert got[200]["score"] == 0.5 and got[200]["v"] is None
    # Untouched rows (old files, pre-evolution schema): score reads NULL.
    assert got[42]["score"] is None and got[42]["v"] == 42.0
    # CDC across the evolution is still key-accurate.
    v1 = lh.load_snapshot(table).version
    cdc = {r["id"]: r["_change_type"] for r in lh.change_feed(spark, table, v1 - 1, v1).collect()}
    assert cdc == {3: "update_postimage", 200: "insert"}


def test_stats_pruned_read_skips_files(spark):
    import pyspark.sql.functions as F

    table = _mk_table(spark, [(i, f"n{i}", float(i)) for i in range(100)])
    pruned = lh.read_table(spark, table, key_between=(10, 20))
    # Only the [0,49] file is opened.
    n_files = pruned.select(F.input_file_name()).distinct().count()
    assert n_files == 1
    assert sorted(r["id"] for r in pruned.collect()) == list(range(10, 21))
    # Empty range: schema preserved, zero rows, zero data read beyond footer.
    empty = lh.read_table(spark, table, key_between=(500, 600))
    assert empty.count() == 0 and set(empty.columns) == {"id", "name", "v"}


def test_full_delete_leaves_readable_empty_table(spark):
    """A merge that deletes every row must publish a schema-bearing
    snapshot: read_table returns 0 rows with the table schema instead of
    crashing on a file-less manifest (round-5 review finding)."""
    table = tempfile.mkdtemp(prefix="lakehouse-empty-")
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    src = spark.createDataFrame(
        [(1, None, 0.0, True), (2, None, 0.0, True)],
        "id long, name string, v double, is_delete boolean",
    )
    lh.merge_into(spark, table, src, delete_col="is_delete")
    out = lh.read_table(spark, table)
    assert out.count() == 0
    assert set(out.columns) == {"id", "name", "v"}
    # and pruned reads still work on the empty snapshot
    assert lh.read_table(spark, table, key_between=(0, 10)).count() == 0
    # the table is still mergeable afterwards
    lh.merge_into(
        spark,
        table,
        spark.createDataFrame([(5, "new", 5.0)], "id long, name string, v double"),
    )
    assert lh.read_table(spark, table).count() == 1


def test_merge_rejects_mixed_null_keys(spark):
    """A NULL merge key can never equi-match; silently inserting it would
    accumulate unupdatable duplicates across replays — reject instead."""
    table = tempfile.mkdtemp(prefix="lakehouse-nullkey-")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    src = spark.createDataFrame(
        [(None, "ghost", 0.0), (2, "ok", 2.0)], "id long, name string, v double"
    )
    with pytest.raises(ValueError, match="NULL-key"):
        lh.merge_into(spark, table, src)


def test_vacuum_sweeps_crashed_writer_orphans(spark):
    """Data files staged by a writer that died before commit are referenced
    by no manifest; vacuum must remove them once past the grace window —
    the backstop _discard_staged documents."""
    table = tempfile.mkdtemp(prefix="lakehouse-orphan-")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    # simulate the crash: stage files, never commit
    orphans = lh._write_data_files(
        spark.createDataFrame([(9, "x", 9.0)], "id long, name string, v double"),
        table,
        ["id"],
    )
    orphan_paths = {e["path"] for e in orphans}
    # young orphans survive (grace window protects in-flight writers)
    removed = lh.vacuum(table, orphan_grace_s=3600)
    assert not orphan_paths & set(removed)
    # past the grace window they are swept
    removed = lh.vacuum(table, orphan_grace_s=0.0)
    assert orphan_paths <= set(removed)
    for p in orphan_paths:
        assert not os.path.exists(os.path.join(table, p))
    # the committed table is untouched
    assert lh.read_table(spark, table).count() == 1


def test_table_history_survives_vacuum(spark):
    table = tempfile.mkdtemp(prefix="lakehouse-hist-")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    for i in range(2, 5):
        lh.merge_into(
            spark,
            table,
            spark.createDataFrame(
                [(i, f"n{i}", float(i))], "id long, name string, v double"
            ),
        )
    lh.vacuum(table, keep_versions=2, orphan_grace_s=3600)
    hist = lh.table_history(table)
    assert [h["version"] for h in hist] == [2, 3]  # retained tail, not []


def test_streaming_replay_mark_commits_atomically_with_data(spark):
    """The replay high-water mark lives INSIDE the committed manifest: after
    a merge with txn_batch_id there is no state where data is committed but
    the mark is not, and a replayed (<= mark) batch id is a no-op."""
    table = tempfile.mkdtemp(prefix="lakehouse-hwm-")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    sink = lh.stream_merge_sink(table)
    b0 = spark.createDataFrame([(2, "b", 2.0)], "id long, name string, v double")
    sink(b0, 0)
    snap = lh.load_snapshot(table)
    assert max(snap.batches) == 0  # mark in the manifest itself
    v_after = snap.version
    sink(b0, 0)  # crash-replay of the same batch: no-op
    assert lh.load_snapshot(table).version == v_after
    # compaction between micro-batches carries the mark forward
    lh.merge_into(
        spark,
        table,
        spark.createDataFrame([(3, "c", 3.0)], "id long, name string, v double"),
        txn_batch_id=1,
    )
    lh.compact(spark, table)
    assert max(lh.load_snapshot(table).batches) == 1
    sink(b0, 1)  # still a replay after compact: no-op
    assert lh.read_table(spark, table).count() == 3


def _tapped(spark, rows, schema):
    """``rows`` as a DataFrame whose every evaluation adds the number of
    rows it produced to the returned accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return spark.createDataFrame(rows, schema).mapInPandas(tap, schema), acc


@pytest.mark.parametrize(
    "keys",
    [range(200, 300), range(0, 100)],
    ids=["insert_only", "touches_files"],
)
def test_merge_evaluates_source_once(spark, table, keys):
    src, acc = _tapped(
        spark, [(i, "m", float(i)) for i in keys], "id long, name string, v double"
    )
    lh.merge_into(spark, table, src)
    assert acc.value == len(keys)
    assert not src.is_cached
    assert src.storageLevel == StorageLevel.NONE
    got = {r["id"]: r["name"] for r in lh.read_table(spark, table).collect()}
    assert len(got) == len(set(range(100)) | set(keys))
    assert all(got[i] == "m" for i in keys)


def test_merge_leaves_caller_cached_source_cached(spark, table):
    src, acc = _tapped(
        spark, [(i, "c", 0.0) for i in range(10)], "id long, name string, v double"
    )
    src.cache()
    try:
        lh.merge_into(spark, table, src)
        assert src.is_cached
        assert src.storageLevel != StorageLevel.NONE
        src.count()
        assert acc.value == 10  # the second action still read the cache
    finally:
        src.unpersist()


def test_delete_emptying_touched_files_publishes_untouched_only(spark, table):
    before = lh.load_snapshot(table)
    untouched = [e for e in before.files if e["min_key"] >= 50]
    src = spark.createDataFrame(
        [(i, None, 0.0, True) for i in range(50)],
        "id long, name string, v double, is_delete boolean",
    )
    after = lh.merge_into(spark, table, src, delete_col="is_delete")
    assert list(after.files) == untouched
    # The zero-row staged batch was discarded: only the batches the two
    # committed snapshots reference remain under data/.
    live_dirs = {e["path"].split(os.sep)[1] for e in before.files}
    assert set(os.listdir(os.path.join(table, "data"))) == live_dirs
    assert sorted(r["id"] for r in lh.read_table(spark, table).collect()) == list(
        range(50, 100)
    )


def test_merge_reports_null_key_pair_as_duplicate(spark):
    table = tempfile.mkdtemp(prefix="lakehouse-nulldup-")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double")
    lh.create_table(spark, table, df, ["id"])
    src = spark.createDataFrame(
        [(None, "x", 0.0), (None, "y", 0.0)], "id long, name string, v double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        lh.merge_into(spark, table, src)
