"""TransactionalTable: atomic append/commit semantics.

Pins the property the plain-parquet MV destination lacks (see
streaming/pipeline.py's backfill note): concurrent writers cannot corrupt
or lose each other's data, readers only ever see fully-committed rows, and
snapshots are stable.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.txlog import (
    TransactionalTable,
    transactional_sink,
)
from apache_kafka_clickhouse_demo_spark.streaming import create_materialized_view


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_append_read_roundtrip_and_snapshots(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10))
    v1 = t.append(_df(spark, 10, 25))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 25
    # snapshot read: version 0 still sees exactly the first commit
    assert t.read(spark, version=0).count() == 10
    assert t.version() == 1


def test_uncommitted_files_are_invisible(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    # simulate a crashed writer: stray data file + staging dir, no commit
    stray = os.path.join(t.path, "deadbeef-part-stray.parquet")
    _df(spark, 100, 200).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "x"))
    src = next(
        os.path.join(str(tmp_path / "x"), n)
        for n in os.listdir(str(tmp_path / "x"))
        if n.endswith(".parquet")
    )
    os.rename(src, stray)
    os.makedirs(os.path.join(t.path, ".staging-crashed"), exist_ok=True)
    assert t.read(spark).count() == 5  # reader sees committed rows only
    # vacuum with a grace window keeps the young stray AND the young staging
    # dir (its writer may still be mid-append); without it, deletes both
    assert t.vacuum(grace_seconds=3600) == []
    assert sorted(t.vacuum(grace_seconds=0)) == [
        ".staging-crashed",
        os.path.basename(stray),
    ]
    assert not os.path.exists(os.path.join(t.path, ".staging-crashed"))
    assert t.read(spark).count() == 5  # committed data untouched


def test_commit_publication_is_atomic_for_readers(spark, tmp_path):
    """ADVICE r3: a writer crashing mid-commit (payload written, link not
    yet made — or any interleaving) must never leave a truncated commit a
    reader would choke on.  With link-based publication the only possible
    debris is an invisible `.tmp-*` file in _txlog."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))

    # crash-mid-commit debris: a fully- and a partially-written temp file
    with open(os.path.join(t.log_dir, ".tmp-deadbeefcafe"), "wb") as fh:
        fh.write(b'{"files": ["never-published.parquet"]}')
    with open(os.path.join(t.log_dir, ".tmp-0123456789ab"), "wb") as fh:
        fh.write(b'{"files": [')  # truncated JSON
    assert t.version() == 0
    assert t.read(spark).count() == 5  # readers parse only *.json commits
    assert t.append(_df(spark, 5, 8)) == 1  # next append unaffected
    assert t.read(spark).count() == 8

    # the publish helper itself: losing the version race leaves no temp file
    taken = os.path.join(t.log_dir, "00000000001.json")
    assert os.path.exists(taken)
    assert t._publish(b'{"files": []}', taken) is False
    leftovers = [n for n in os.listdir(t.log_dir) if n.startswith(".tmp-")]
    assert leftovers == [n for n in (".tmp-deadbeefcafe", ".tmp-0123456789ab")
                         if n in leftovers]  # only the fabricated debris remains
    # every published commit file is complete, parseable JSON at all times
    import json

    for name in os.listdir(t.log_dir):
        if name.endswith(".json"):
            with open(os.path.join(t.log_dir, name)) as fh:
                assert "files" in json.load(fh)


def test_concurrent_appends_lose_nothing(spark, tmp_path):
    """The exact failure the shared `_temporary/` parquet path has: many
    concurrent writers.  Every committed append must be fully readable."""
    t = TransactionalTable(str(tmp_path / "t"))
    n_writers, rows_each = 8, 50
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            t.append(_df(spark, i * 1000, i * 1000 + rows_each))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    got = t.read(spark)
    assert got.count() == n_writers * rows_each
    assert got.select("id").distinct().count() == n_writers * rows_each
    assert t.version() == n_writers - 1  # every writer won some version


def test_checkpoint_collapses_log_and_preserves_reads(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    v = t.checkpoint()
    assert v == 1
    t.append(_df(spark, 20, 30))  # post-checkpoint commit
    assert t.read(spark).count() == 30
    assert t.version() == 2
    # snapshot pinned BELOW the checkpoint still resolves from raw commits
    assert t.read(spark, version=0).count() == 10
    # snapshot at the checkpoint version resolves through the checkpoint
    assert t.read(spark, version=1).count() == 20
    # checkpointing again at a new version is fine; at the same version, a no-op
    assert t.checkpoint() == 2
    assert t.checkpoint() == 2
    assert t.read(spark).count() == 30


def test_concurrent_backfill_and_stream(spark, sf_dir, tmp_path):
    """The reference's M4 cutover with the sequencing constraint REMOVED:
    history backfill appends while the streaming MV is draining blocks into
    the SAME transactional table.  With plain parquet this interleaving is
    the `_temporary/` race backfill_cutover must serialize around; with
    atomic commits both writers land safely and the union is exact."""
    from apache_kafka_clickhouse_demo_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src_dir = str(tmp_path / "src")
    events.repartition(4).write.parquet(src_dir)

    cutover = F.col("event_id") >= 500  # stream handles >=, backfill <

    def transform(block):
        return block.select("event_id", "event_type", (F.col("value") + 1).alias("v1"))

    table = TransactionalTable(str(tmp_path / "dest"))
    source = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    mv = create_materialized_view(
        source,
        lambda b: transform(b.filter(cutover)),
        dest_path=table.path,
        checkpoint=str(tmp_path / "ck"),
        available_now=True,
        sink=transactional_sink(table),
    )
    backfill_err: list[Exception] = []

    def backfill():
        try:
            table.append(transform(events.filter(~cutover)))
        except Exception as e:  # noqa: BLE001
            backfill_err.append(e)

    th = threading.Thread(target=backfill)
    th.start()  # runs WHILE the stream drains its blocks
    mv.process_available()
    th.join()
    mv.stop()
    assert not backfill_err

    got = {tuple(r) for r in table.read(spark).collect()}
    want = {tuple(r) for r in transform(events).collect()}
    assert got == want  # every row exactly once across both writers


def test_mv_with_transactional_sink(spark, sf_dir, tmp_path):
    """An MV writing through transactional commits produces exactly the
    batch answer — per-block appends, atomically published."""
    from apache_kafka_clickhouse_demo_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    events.select("event_id", "event_type", "value").repartition(4).write.parquet(src_dir)

    def transform(block):
        return block.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    table = TransactionalTable(str(tmp_path / "dest"))
    source = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    mv = create_materialized_view(
        source,
        transform,
        dest_path=table.path,
        checkpoint=str(tmp_path / "ck"),
        available_now=True,
        sink=transactional_sink(table),
    )
    mv.process_available()
    mv.stop()

    # stored rows are PARTIAL per-block aggregates; merge-on-read equals batch
    merged = {
        r["event_type"]: r["n"]
        for r in table.read(spark).groupBy("event_type").agg(F.sum("n").alias("n")).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert merged == want


# -- optimize (small-file compaction, VERDICT r4 #6) ------------------------


def test_optimize_preserves_reads_and_drops_file_count(spark, tmp_path):
    """Many small per-block commits -> one replace-commit: the read answer
    is identical before and after, and the committed file count collapses."""
    t = TransactionalTable(str(tmp_path / "t"))
    for i in range(6):
        t.append(_df(spark, i * 10, (i + 1) * 10).repartition(3))
    before = sorted(tuple(r) for r in t.read(spark).collect())
    n_files_before = len(t.data_files())
    assert n_files_before >= 6 * 3

    v = t.optimize(spark, target_files=1)
    assert v == t.version()
    after = sorted(tuple(r) for r in t.read(spark).collect())
    assert after == before
    assert len(t.data_files()) < n_files_before
    assert len(t.data_files()) <= 2  # coalesce(1) -> a file or two

    # appends after an optimize keep working and stack on the compacted base
    t.append(_df(spark, 60, 70))
    assert t.read(spark).count() == 70


def test_optimize_then_checkpoint_and_snapshot_reads(spark, tmp_path):
    """A checkpoint taken after an optimize summarizes the REPLACED file
    set; snapshot reads at the optimize version see compacted data."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    v_opt = t.optimize(spark, target_files=1)
    t.append(_df(spark, 20, 30))
    t.checkpoint()
    assert t.read(spark).count() == 30
    assert t.read(spark, version=v_opt).count() == 20


def test_vacuum_reclaims_optimize_debris_and_tmp_commit_files(spark, tmp_path):
    """After optimize, the superseded small files are unreferenced ->
    vacuum deletes them (grace 0); orphaned `.tmp-*` commit payloads in the
    log dir (crash between write and link — ADVICE r4) go too; committed
    data and log files survive."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).repartition(4))
    t.optimize(spark, target_files=1)

    # fabricate _publish crash debris: payload written, link never happened
    orphan = os.path.join(t.log_dir, ".tmp-deadbeef0000")
    with open(orphan, "wb") as fh:
        fh.write(b'{"files": []}')

    before = sorted(tuple(r) for r in t.read(spark).collect())
    deleted = t.vacuum(grace_seconds=0.0)
    assert any(n.endswith(".tmp-deadbeef0000") for n in deleted)
    assert not os.path.exists(orphan)
    # the pre-optimize small files were reclaimed
    assert len(deleted) > 1
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before


def test_vacuum_staging_age_uses_newest_mtime_in_tree(spark, tmp_path):
    """ADVICE r4: a staging dir whose nested `_temporary/` files are FRESH
    must survive vacuum even when the top-level dir's mtime looks old —
    an in-flight long write is not debris."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))

    staging = os.path.join(t.path, ".staging-inflight00")
    nested = os.path.join(staging, "_temporary", "0")
    os.makedirs(nested)
    with open(os.path.join(nested, "task-file.parquet.inprogress"), "wb") as fh:
        fh.write(b"x")
    # age the top-level dir far past the grace window; the nested task file
    # stays fresh (now)
    old = 1_000_000_000
    os.utime(staging, (old, old))

    deleted = t.vacuum(grace_seconds=3600.0)
    assert ".staging-inflight00" not in deleted
    assert os.path.isdir(staging)

    # once the WHOLE tree is old, it is debris and goes
    for dirpath, _dn, fns in os.walk(staging):
        os.utime(dirpath, (old, old))
        for fn in fns:
            os.utime(os.path.join(dirpath, fn), (old, old))
    deleted = t.vacuum(grace_seconds=3600.0)
    assert ".staging-inflight00" in deleted
    assert not os.path.exists(staging)


def test_optimize_retries_after_losing_commit_race(spark, tmp_path):
    """OCC contract: a replace-commit may only land at snapshot_version + 1.
    When a rival takes that version first (fabricated here by pre-planting
    the next commit), optimize must NOT clobber it — it restarts from the
    new snapshot and lands one version later, preserving the rival's rows."""
    import json

    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).repartition(2))  # v0
    t.append(_df(spark, 10, 20).repartition(2))  # v1

    # rival appender's commit at v2, written outside the optimize call:
    # stage a real data file for it so reads keep working
    rival_df = _df(spark, 20, 25)
    staging = str(tmp_path / "rival")
    rival_df.write.mode("overwrite").parquet(staging)
    rival_files = []
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            os.rename(os.path.join(staging, name), os.path.join(t.path, f"rival-{name}"))
            rival_files.append(f"rival-{name}")
    with open(os.path.join(t.log_dir, f"{2:011d}.json"), "w") as fh:
        json.dump({"files": sorted(rival_files)}, fh)

    v = t.optimize(spark, target_files=1)
    assert v == 3  # lost v2, recompacted the v2 snapshot, landed at v3
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == list(range(25))  # rival rows survived the compaction


def test_optimize_partition_by_preserves_layout_and_pruning(spark, tmp_path):
    """OPTIMIZE of a read_where-pruned (partition_by) table must keep the
    <col>=<value>/ layout — one file per value — so driver-side pruning
    survives compaction instead of silently degrading to full scans."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id"), F.pmod("id", F.lit(4)).cast("int").alias("shard")
    )
    # several appends -> O(commits) files per shard dir
    for i in range(3):
        t.append(
            df.filter(F.pmod("id", F.lit(3)) == i).repartition(4),
            partition_by="shard",
        )
    before = sorted(r["id"] for r in t.read(spark).collect())
    files_before = t.data_files()
    assert len(files_before) > 4

    t.optimize(spark, partition_by="shard")

    files_after = t.data_files()
    # one file per shard value, still under shard=<v>/ dirs
    assert len(files_after) == 4
    assert all("shard=" in f for f in files_after)
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    # read_where still prunes to exactly the named shard's file
    pruned = t.read_where(spark, "shard", [2])
    assert sorted(r["id"] for r in pruned.collect()) == [
        i for i in range(200) if i % 4 == 2
    ]
    from urllib.parse import urlparse

    touched = {urlparse(f).path for f in pruned.inputFiles()}
    assert len(touched) == 1 and all("shard=2/" in f for f in touched)


def test_committed_txns_survive_checkpoint_without_reopening_old_commits(
    spark, tmp_path
):
    """Idempotence must survive log collapse: txns at or below a
    checkpoint come from its summary (old commit files are not reopened),
    and txns after it still read from their commits."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(5)
    t.append(df, txn="b0")
    t.append(df, txn="b1")
    t.checkpoint()
    t.append(df, txn="b2")
    assert t.committed_txns() == {"b0", "b1", "b2"}
    # replay of a pre-checkpoint txn is still a no-op
    assert t.append_once(df, txn="b0") is None
    assert t.read(spark).count() == 15


def test_transactional_sink_exactly_once_mode(spark, sf_dir, tmp_path):
    """With exactly_once_id, the MV's transactional destination no-ops on
    replayed blocks, and two writers with the same batch numbering do NOT
    dedupe each other (the id scopes the ledger per writer)."""
    from apache_kafka_clickhouse_demo_spark.sources.tables import load_table

    t = TransactionalTable(str(tmp_path / "t"))
    sink_a = transactional_sink(t, exactly_once_id="mv-a")
    sink_b = transactional_sink(t, exactly_once_id="mv-b")
    block = spark.range(10)

    sink_a(block, 0)
    sink_a(block, 0)  # replay: no-op
    assert t.read(spark).count() == 10
    sink_b(block, 0)  # different writer, same batch number: must land
    assert t.read(spark).count() == 20
    sink_a(block, 1)
    assert t.read(spark).count() == 30

    # end-to-end through the MV seam: the 2-arg sink receives batch ids
    src_dir = str(tmp_path / "src")
    load_table(spark, sf_dir, "events").select("event_id").repartition(
        2
    ).write.parquet(src_dir)
    t2 = TransactionalTable(str(tmp_path / "t2"))
    mv = create_materialized_view(
        spark.readStream.schema("event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        lambda b: b,
        dest_path=str(tmp_path / "t2"),
        checkpoint=str(tmp_path / "ck"),
        available_now=True,
        sink=transactional_sink(t2, exactly_once_id=str(tmp_path / "ck")),
    )
    mv.process_available()
    mv.stop()
    n = load_table(spark, sf_dir, "events").count()
    assert t2.read(spark).count() == n
    assert len(t2.committed_txns()) >= 2  # one txn per block, writer-scoped


def test_read_where_matches_spark_escaped_partition_values(spark, tmp_path):
    """read_where must match the directory names Spark actually writes:
    Hive %XX escaping for special characters (a plain f-string prefix
    returns the silent empty frame instead)."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "pt:BR"), (2, "en"), (3, "weird key"), (4, None)],
        "id long, lang string",
    )
    t.append(df, partition_by="lang")
    got = {r["id"] for r in t.read_where(spark, "lang", ["pt:BR"]).collect()}
    assert got == {1}
    got = {r["id"] for r in t.read_where(spark, "lang", ["weird key", "en"]).collect()}
    assert got == {2, 3}
    got = {r["id"] for r in t.read_where(spark, "lang", [None]).collect()}
    assert got == {4}


def test_optimize_defaults_to_recorded_partition_layout(spark, tmp_path):
    """Appends record their partition column, so an optimize() WITHOUT
    partition_by keeps the pruned layout instead of silently flattening
    it (which would turn every later read_where into an empty frame)."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id"), F.pmod("id", F.lit(4)).cast("int").alias("shard")
    )
    for i in range(2):
        t.append(df.filter(F.pmod("id", F.lit(2)) == i), partition_by="shard")
    assert t.partition_column() == "shard"

    t.optimize(spark)  # note: no partition_by argument
    files = t.data_files()
    assert len(files) == 4 and all("shard=" in f for f in files)
    got = sorted(r["id"] for r in t.read_where(spark, "shard", [1]).collect())
    assert got == [i for i in range(100) if i % 4 == 1]


def test_txn_watermark_compaction_bounds_ledger(spark, tmp_path):
    """checkpoint(compact_txn_watermarks=True) folds <writer>:<batch> ids
    into one per-writer high-water mark: replays of folded batches still
    no-op, later batches land, and non-pattern ids stay explicit."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(5)
    t.append_once(df, txn="ck-a:0")
    t.append_once(df, txn="ck-a:1")
    t.append_once(df, txn="manual-backfill")
    t.checkpoint(compact_txn_watermarks=True)

    # folded ids answer through the watermark, not the explicit set
    assert "ck-a:0" not in t.committed_txns()
    assert t.txn_committed("ck-a:0") and t.txn_committed("ck-a:1")
    assert not t.txn_committed("ck-a:2")
    assert "manual-backfill" in t.committed_txns()

    # replay of a folded batch no-ops; the next batch lands
    assert t.append_once(df, txn="ck-a:1") is None
    assert t.append_once(df, txn="ck-a:2") is not None
    assert t.read(spark).count() == 20
    # a different writer's batch 0 is NOT claimed by ck-a's watermark
    assert not t.txn_committed("ck-b:0")


def test_prune_log_bounds_listing_and_preserves_reads(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, i * 10, i * 10 + 10), txn=f"w:{i}")
    t.checkpoint(compact_txn_watermarks=True)
    deleted = t.prune_log()
    assert len(deleted) == 5  # every folded commit reclaimed
    assert t.read(spark).count() == 50
    assert t.version() == 4
    assert t.txn_committed("w:3") and not t.txn_committed("w:5")
    # appends continue normally after the prune
    t.append(_df(spark, 100, 110), txn="w:5")
    assert t.read(spark).count() == 60 and t.version() == 5


def test_read_where_is_immune_to_partition_like_table_root(spark, tmp_path):
    """A table whose own path contains a '<col>=<value>' segment must not
    match every file when that value is probed."""
    t = TransactionalTable(str(tmp_path / "bshard=3" / "t"))
    df = spark.range(20).select(
        F.col("id"), F.pmod("id", F.lit(2)).cast("int").alias("bshard")
    )
    t.append(df, partition_by="bshard")
    assert t.read_where(spark, "bshard", [3]).count() == 0
    assert t.read_where(spark, "bshard", [1]).count() == 10


def test_optimize_keep_where_retention_rewrite(spark, tmp_path):
    """optimize(keep_where=...) — the REPLACE-WHERE retention form: the
    new snapshot holds only matching rows; a pinned pre-rewrite version
    still reads the full data until vacuumed."""
    t = TransactionalTable(str(tmp_path / "ret"))
    t.append(spark.range(5).withColumn("gen", F.lit(0)))
    t.append(spark.range(5, 8).withColumn("gen", F.lit(1)))
    pinned = t.version()

    t.optimize(spark, keep_where=F.col("gen") == 1)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [5, 6, 7]
    # pinned snapshot still sees everything (no vacuum yet)
    assert t.read(spark, pinned).count() == 8


def test_append_with_added_column_reads_merged_schema(spark, tmp_path):
    """Schema evolution pin (ALTER TABLE ADD COLUMN analogue): an append
    carrying a NEW column must not corrupt the table — the plain snapshot
    read shows the newest recorded schema, with NULLs for old rows, and a
    read pinned below the append keeps the schema of its own snapshot."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    )

    read = t.read(spark)
    assert read.columns == ["id", "v", "score"]
    rows = {r["id"]: (r["v"], r["score"]) for r in read.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert t.read(spark, version=0).columns == ["id", "v"]


def _jobs_submitted(spark, build) -> tuple[object, int]:
    """(build(), Spark jobs submitted while building it)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = build()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _partitioned(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("shard"),
        (F.col("id") * 2).alias("v"),
    )


def test_recorded_schema_reads_submit_no_jobs(spark, tmp_path):
    """Every commit records its frame's schema, so building `read()` and
    `read_where()` runs no schema-inference job; the partition column
    reads back last, with the type it was written with (a string of
    digits stays a string, where directory inference gave int)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_partitioned(spark, 0, 12), partition_by="shard")
    t.append(_partitioned(spark, 12, 20), partition_by="shard")

    full, jobs = _jobs_submitted(spark, lambda: t.read(spark))
    assert jobs == 0
    assert full.schema.simpleString() == "struct<id:bigint,v:bigint,shard:string>"
    assert full.count() == 20

    pruned, jobs = _jobs_submitted(spark, lambda: t.read_where(spark, "shard", ["1"]))
    assert jobs == 0
    assert pruned.schema == full.schema
    assert sorted(r["id"] for r in pruned.collect()) == [
        i for i in range(20) if i % 3 == 1
    ]


def test_read_where_no_match_opens_no_file(spark, tmp_path):
    """No matching partition: the empty frame comes straight from the
    recorded schema — it still answers after every data file is gone."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_partitioned(spark, 0, 6), partition_by="shard")
    schema = t.read(spark).schema
    for f in t.data_files():
        os.remove(f)
    empty, jobs = _jobs_submitted(spark, lambda: t.read_where(spark, "shard", ["9"]))
    assert jobs == 0
    assert empty.schema == schema
    assert empty.collect() == []


def test_commit_without_schema_reads_through_inference(spark, tmp_path):
    """A log written before commits recorded schemas (a hand-written
    commit naming a plain parquet file) still reads, by footer
    inference, for both read paths."""
    import json

    t = TransactionalTable(str(tmp_path / "t"))
    src = str(tmp_path / "src")
    _partitioned(spark, 0, 6).write.partitionBy("shard").parquet(src)
    os.makedirs(t.log_dir)
    files = []
    for dirpath, _d, names in os.walk(src):
        for n in names:
            if n.endswith(".parquet"):
                rel = os.path.join(os.path.relpath(dirpath, src), n)
                os.makedirs(os.path.dirname(os.path.join(t.path, rel)), exist_ok=True)
                os.rename(os.path.join(dirpath, n), os.path.join(t.path, rel))
                files.append(rel)
    with open(os.path.join(t.log_dir, "00000000000.json"), "w") as fh:
        json.dump({"files": files, "partition_by": "shard"}, fh)

    read = t.read(spark)
    assert read.schema.simpleString() == "struct<id:bigint,v:bigint,shard:int>"
    assert read.count() == 6
    assert sorted(r["id"] for r in t.read_where(spark, "shard", [2]).collect()) == [2, 5]
    assert t.read_where(spark, "shard", [7]).collect() == []
    # the next append records a schema, and reads then use it
    t.append(_partitioned(spark, 6, 9), partition_by="shard")
    assert t.read(spark).schema["shard"].dataType.simpleString() == "string"


def test_checkpointed_and_optimized_tables_read_without_inference(spark, tmp_path):
    """checkpoint() carries the schema into its summary, so a table whose
    commits were pruned still reads with no job; an optimize() replace
    commit records the schema of the rewritten frame."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_partitioned(spark, 0, 9), partition_by="shard")
    t.append(_partitioned(spark, 9, 15), partition_by="shard")
    t.checkpoint()
    assert t.prune_log()
    pruned, jobs = _jobs_submitted(spark, lambda: t.read(spark))
    assert jobs == 0
    assert pruned.schema.simpleString() == "struct<id:bigint,v:bigint,shard:string>"
    assert pruned.count() == 15

    o = TransactionalTable(str(tmp_path / "o"))
    o.append(_partitioned(spark, 0, 9), partition_by="shard")
    o.append(_partitioned(spark, 9, 15), partition_by="shard")
    o.optimize(spark)
    optimized, jobs = _jobs_submitted(spark, lambda: o.read_where(spark, "shard", ["0"]))
    assert jobs == 0
    assert optimized.schema == pruned.schema
    assert sorted(r["id"] for r in optimized.collect()) == [0, 3, 6, 9, 12]


def test_txn_version_locates_commit(spark, tmp_path):
    """txn_version: the version that recorded a txn, None for unknown —
    the half-committed-retry pin (_DomainCapStreamWriter) depends on it."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(3).select(F.col("id").alias("k"))
    t.append_once(df, txn="w:0")
    t.append_once(df, txn="w:1")
    assert t.txn_version("w:0") == 0
    assert t.txn_version("w:1") == 1
    assert t.txn_version("w:9") is None


def test_two_phase_append_staged_invisible_until_commit(spark, tmp_path):
    """r16 two-phase append: staged files are reader-invisible until
    commit_staged names them; discard_staged reclaims an abandoned
    staging immediately."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))

    staged = t.stage_for_append(_df(spark, 5, 15))
    assert staged and all(
        os.path.exists(os.path.join(t.path, rel)) for rel in staged
    )
    # nothing committed yet: readers see only the first append
    assert t.read(spark).count() == 5
    v = t.commit_staged(staged, txn="w:0")
    assert v == 1
    assert t.read(spark).count() == 15
    assert t.txn_committed("w:0")

    # abandoned staging: discarded files are gone, committed data intact
    staged2 = t.stage_for_append(_df(spark, 15, 20))
    t.discard_staged(staged2)
    assert not any(
        os.path.exists(os.path.join(t.path, rel)) for rel in staged2
    )
    assert t.read(spark).count() == 15


def test_two_phase_append_cas_rejection_reclaims_staging(spark, tmp_path):
    """commit_staged with cas_version keeps append's CAS semantics: a
    rejected commit removes the staged files and raises."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.sources.txlog import (
        ConcurrentWriteError,
    )

    t = TransactionalTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))  # version 0
    staged = t.stage_for_append(_df(spark, 5, 10))
    t.append(_df(spark, 10, 15))  # sibling takes version 1
    with pytest.raises(ConcurrentWriteError):
        t.commit_staged(staged, cas_version=0)
    assert not any(
        os.path.exists(os.path.join(t.path, rel)) for rel in staged
    )
    assert t.read(spark).count() == 10  # 0-5 and 10-15 only


def test_overlapped_store_out_commit_orders_and_recovers(spark, tmp_path):
    """_overlapped_store_out_commit: concurrent staging publishes both
    tables; a half-committed retry (store committed, out not — the only
    crash window) publishes out exactly once; a side-staging failure
    commits NOTHING and reclaims the out staging."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _overlapped_store_out_commit,
    )

    store = TransactionalTable(str(tmp_path / "store"))
    out = TransactionalTable(str(tmp_path / "out"))
    sdf = _df(spark, 0, 4)
    odf = _df(spark, 4, 10)

    _overlapped_store_out_commit(store, sdf, None, out, odf, "w:0")
    assert store.read(spark).count() == 4
    assert out.read(spark).count() == 6
    assert store.txn_committed("w:0") and out.txn_committed("w:0")

    # replay of the fully-committed txn: no-ops on both sides
    _overlapped_store_out_commit(store, sdf, None, out, odf, "w:0")
    assert store.read(spark).count() == 4
    assert out.read(spark).count() == 6

    # half-committed retry: store already has w:1, out does not
    store.append_once(_df(spark, 20, 22), txn="w:1")
    _overlapped_store_out_commit(
        store, _df(spark, 20, 22), None, out, _df(spark, 22, 25), "w:1"
    )
    assert store.read(spark).count() == 6  # store side no-oped
    assert out.read(spark).count() == 9

    # side (store) staging failure: nothing committed, out staging gone
    class _Boom(TransactionalTable):
        def stage_for_append(self, df, partition_by=None):
            raise RuntimeError("injected staging failure")

    boom = _Boom(str(tmp_path / "store"))
    before_out_files = set(out.data_files())
    with pytest.raises(RuntimeError, match="injected"):
        _overlapped_store_out_commit(
            boom, sdf, None, out, _df(spark, 30, 33), "w:2"
        )
    assert not store.txn_committed("w:2") and not out.txn_committed("w:2")
    assert set(out.data_files()) == before_out_files
    # no stray staged files left in the out table directory
    committed = set(out.data_files())  # absolute paths
    on_disk = {
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(out.path)
        for n in ns
        if n.endswith(".parquet")
    }
    assert on_disk == committed
