"""Compaction EXECUTOR tests (VERDICT r3 #5): content equality pre/post,
read-amplification reduction, and crash safety at both sides of the
manifest commit point."""

import json
import os

import pytest
from pyspark.sql import functions as F

from llm_scraper_spark.sinks.compaction import (
    MANIFEST, STAGE, compact_files, data_files, plan_groups,
    recover_compaction)


def _fragmented_table(spark, path, n_waves=6, rows_per_wave=300):
    """Wave-fragmented layout like the crawl state's documents table:
    one dir per wave, several small files each."""
    for w in range(n_waves):
        df = spark.range(w * rows_per_wave, (w + 1) * rows_per_wave).select(
            F.col("id").alias("doc_id"),
            F.lit(w).alias("wave"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        df.repartition(3).write.mode("overwrite").parquet(
            os.path.join(path, f"wave={w}"))
    return os.path.join(path)


def _content(spark, table_dir):
    files = [os.path.join(table_dir, rel) for rel, _ in data_files(table_dir)]
    rows = spark.read.parquet(*files).select(
        "doc_id", "wave", "payload").collect()
    return sorted((r["doc_id"], r["wave"], r["payload"]) for r in rows)


def test_compact_preserves_rows_and_cuts_read_amplification(spark, tmp_path):
    table = _fragmented_table(spark, str(tmp_path / "t"))
    before = _content(spark, table)
    n_before = len(data_files(table))
    assert n_before >= 18  # 6 waves x 3 files
    stats = compact_files(spark, table, capacity=1 << 40)  # one big group
    after = _content(spark, table)
    assert after == before
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1
    assert stats["read_amplification"] == round(n_before / 1, 3)
    # layout is flat now; wave provenance survives in the data
    assert all("/" not in rel and os.sep not in rel
               for rel, _ in data_files(table))


def test_compact_by_rows_groups_and_retains_single_files(spark, tmp_path):
    table = _fragmented_table(spark, str(tmp_path / "t"), n_waves=4,
                              rows_per_wave=200)
    before = _content(spark, table)
    # 12 files x ~66 rows; capacity 300 rows -> ceil(800/300) >= 3 groups
    stats = compact_files(spark, table, capacity=300, by_rows=True)
    assert _content(spark, table) == before
    assert 1 < stats["files_after"] < stats["files_before"]
    # a second pass at the same capacity must be ~idempotent: every group
    # already fits, so everything is retained
    stats2 = compact_files(spark, table, capacity=1_000_000, by_rows=True)
    assert stats2["files_after"] == 1  # now they merge into one
    assert _content(spark, table) == before


def test_crash_before_commit_rolls_back(spark, tmp_path, monkeypatch):
    """A crash BEFORE the manifest rename leaves the committed table
    untouched; recover discards the stage."""
    import llm_scraper_spark.sinks.compaction as comp

    table = _fragmented_table(spark, str(tmp_path / "t"), n_waves=3)
    before = _content(spark, table)

    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith(MANIFEST):
            raise RuntimeError("crash at commit")
        return real_replace(src, dst)

    monkeypatch.setattr(comp.os, "replace", boom)
    with pytest.raises(RuntimeError):
        compact_files(spark, table, capacity=1 << 40)
    monkeypatch.setattr(comp.os, "replace", real_replace)

    assert os.path.isdir(os.path.join(table, STAGE))
    assert recover_compaction(table) == "rollback"
    assert _content(spark, table) == before
    assert len(data_files(table)) == 9  # original fragmentation intact
    # and a fresh attempt completes
    compact_files(spark, table, capacity=1 << 40)
    assert _content(spark, table) == before
    assert len(data_files(table)) == 1


def test_crash_after_commit_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash AFTER the manifest rename (mid-GC) rolls forward on
    recover: the new layout wins, content identical, no duplicates."""
    import llm_scraper_spark.sinks.compaction as comp

    table = _fragmented_table(spark, str(tmp_path / "t"), n_waves=3)
    before = _content(spark, table)

    def boom(_dir):
        raise RuntimeError("crash after commit")

    monkeypatch.setattr(comp, "_finish", boom)
    with pytest.raises(RuntimeError):
        compact_files(spark, table, capacity=1 << 40)
    monkeypatch.undo()

    mpath = os.path.join(table, MANIFEST)
    assert os.path.exists(mpath)
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["new"] and manifest["old"]

    assert recover_compaction(table) == "forward"
    assert not os.path.exists(mpath)
    assert _content(spark, table) == before
    assert len(data_files(table)) == 1
    # finish is idempotent: a second recover is a no-op
    assert recover_compaction(table) == "clean"


def test_recompaction_never_clobbers_retained_files(spark, tmp_path):
    """ADVICE r4 (high): a rewritten group's output name must never
    collide with a RETAINED file from a prior pass. Reproduces the
    reported scenario — 11 prior compact outputs (80 rows each) + 5 new
    wave files (40 rows each), capacity=100 by_rows — where lexicographic
    path sort (g10 < g2) shifts group ids and pack groups span ~2x
    capacity, so an un-epoched dst name equals a retained bystander and
    os.replace silently drops its rows. Epoch naming makes every dst
    fresh; total rows must survive arbitrary re-compaction passes."""
    table = str(tmp_path / "t")
    # 11 single-file outputs named like a prior pass's legacy outputs
    os.makedirs(table)
    for g in range(11):
        df = spark.range(g * 80, (g + 1) * 80).selectExpr(
            "id AS doc_id", "0 AS wave", "md5(id::string) AS payload")
        tmp = f"{table}/_stage_g{g}"
        df.coalesce(1).write.parquet(tmp)
        part = [n for n in os.listdir(tmp) if n.endswith(".parquet")]
        os.replace(os.path.join(tmp, part[0]),
                   os.path.join(table, f"part-compact-g{g}.parquet"))
        import shutil
        shutil.rmtree(tmp)
    # 5 fresh wave files, 40 rows each
    for w in range(5):
        spark.range(880 + w * 40, 880 + (w + 1) * 40).selectExpr(
            "id AS doc_id", "1 AS wave", "md5(id::string) AS payload"
        ).coalesce(1).write.parquet(f"{table}/wave={w}")
    before = _content(spark, table)
    assert len(before) == 11 * 80 + 5 * 40  # 1080
    stats = compact_files(spark, table, capacity=100, by_rows=True)
    assert _content(spark, table) == before, "re-compaction lost rows"
    assert stats["retained"] + stats["rewritten"] == stats["groups"]
    # epochs advance: a further pass also preserves everything
    compact_files(spark, table, capacity=500, by_rows=True)
    assert _content(spark, table) == before
    compact_files(spark, table, capacity=1 << 40)
    assert _content(spark, table) == before
    assert len(data_files(table)) == 1


def test_zero_row_part_file_compacts_away(spark, tmp_path):
    """A zero-row part (an empty wave's commit) gets weight 0 in the
    row-count plan, joins a group, and is GC'd with it."""
    table = str(tmp_path / "t")
    spark.range(0, 50).selectExpr(
        "id AS doc_id", "0 AS wave", "md5(id::string) AS payload"
    ).coalesce(1).write.parquet(f"{table}/wave=0")
    spark.range(0, 0).selectExpr(
        "id AS doc_id", "0 AS wave", "md5(id::string) AS payload"
    ).coalesce(1).write.parquet(f"{table}/wave=1")
    before = _content(spark, table)
    stats = compact_files(spark, table, capacity=1_000_000, by_rows=True)
    assert stats["files_after"] == 1
    assert _content(spark, table) == before


def test_expire_results_fsyncs_the_table_dir_after_the_manifest_rename(
        spark, tmp_path, monkeypatch):
    """The expiry's manifest rename is its commit point, so it must be
    durable: after the rename the table dir itself is fsynced, as the
    ledger and the compaction manifest are. Recorded by wrapping
    ``os.replace`` and ``os.fsync``."""
    import stat

    from llm_scraper_spark.crawl.state import CrawlState

    st = CrawlState(spark, str(tmp_path / "state"))
    base = os.path.join(st.dir, "metrics")
    for w in (0, 1):
        st.write("metrics", w, spark.createDataFrame(
            [(w, w * 10 + i, f"https://h/{w}/{i}") for i in range(5)],
            "wave int, seq long, url string").coalesce(1))
        st.commit_wave(w, (w + 1) * 10, {})
    compact_files(spark, base)  # one flat file holding waves 0 and 1

    events = []
    real_replace, real_fsync = os.replace, os.fsync

    def rec_replace(src, dst):
        real_replace(src, dst)
        events.append(("replace", os.path.basename(dst)))

    def rec_fsync(fd):
        real_fsync(fd)
        sb = os.fstat(fd)
        if stat.S_ISDIR(sb.st_mode):
            events.append(("fsync_dir", sb.st_ino))

    monkeypatch.setattr(os, "replace", rec_replace)
    monkeypatch.setattr(os, "fsync", rec_fsync)
    # cutoff 0 straddles the flat file: a filtered rewrite committed by
    # a manifest
    assert st.expire_results(keep_last_n_waves=1) == [0]
    monkeypatch.undo()

    i = events.index(("replace", MANIFEST))
    assert ("fsync_dir", os.stat(base).st_ino) in events[i + 1:], events
    assert sorted(r["wave"] for r in st.read_all("metrics")
                  .select("wave").distinct().collect()) == [1]


def _pack_sequences_plan(spark, files, capacity, weights=None):
    """The reference plan: corpus.pack_sequences over the file metadata,
    as q_compaction_plan runs it (files ordered by path, group = running
    weight before the file DIV capacity)."""
    from llm_scraper_spark.operators.corpus import pack_sequences

    fdf = spark.createDataFrame(
        [(rel, size if weights is None else weights[rel])
         for rel, size in files], "path string, weight long")
    groups = {}
    for r in pack_sequences(fdf, tokens_col="weight", capacity=capacity,
                            order_col="path").select("path",
                                                     "seq_id").collect():
        groups.setdefault(int(r["seq_id"]), []).append(r["path"])
    return {g: sorted(paths) for g, paths in groups.items()}


@pytest.mark.parametrize("weighting", ["bytes", "rows", "zero_rows"])
def test_driver_plan_equals_pack_sequences_plan(spark, weighting):
    """compact_files plans on the driver with pack_sequences' arithmetic:
    over random file lists (flat folds and wave dirs, shuffled), the
    plan equals the pack_sequences plan by bytes, by rows, and with
    zero-weight (zero-row) files among them."""
    import random

    rng = random.Random(weighting)
    for _ in range(5):
        n = rng.randint(1, 25)
        files = [(f"part-compact-e1-g{i}.parquet" if rng.random() < 0.2
                  else f"wave={rng.randint(-1, 11)}/part-{i:05d}.parquet",
                  rng.randint(1, 5000)) for i in range(n)]
        rng.shuffle(files)
        weights = None
        if weighting != "bytes":
            low = 0 if weighting == "zero_rows" else 1
            weights = {rel: rng.choice([low, low, rng.randint(1, 400)])
                       for rel, _ in files}
        capacity = rng.choice([100, 700, 5000, 1 << 40])
        assert plan_groups(files, capacity, weights) == \
            _pack_sequences_plan(spark, files, capacity, weights)


def test_compact_files_given_a_schema_runs_one_job_per_group(spark,
                                                            tmp_path):
    """With the table's schema, a group's read is pinned and the plan
    is made on the driver, so folding one multi-file group runs exactly
    one Spark job: its write."""
    import uuid

    from pyspark.sql import types as T

    table = _fragmented_table(spark, str(tmp_path / "t"), n_waves=2)
    before = _content(spark, table)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("wave", T.IntegerType()),
                           T.StructField("payload", T.StringType())])
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one compaction pass")
    try:
        stats = compact_files(spark, table, capacity=1 << 40, schema=schema)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["files_before"] == 6 and stats["rewritten"] == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _content(spark, table) == before


def test_output_table_fold_leaves_an_orphan_wave_dir_out(spark, tmp_path):
    """A ``wave=K`` dir that no ledger entry names (a crash between the
    table writes and the ledger commit) stays out of the output-table
    fold: folded into the flat files, its rows would be read by every
    read_all and clean_uncommitted could no longer remove them."""
    from llm_scraper_spark.crawl.state import CrawlState

    st = CrawlState(spark, str(tmp_path / "state"))
    for w in (0, 1, 2):
        st.write("documents", w, spark.createDataFrame(
            [(w, f"d{w}")], "wave int, doc_id string").coalesce(1))
        if w < 2:
            st.commit_wave(w, w + 1, {})

    def docs():
        return sorted(r["doc_id"] for r in
                      st.read_all("documents").select("doc_id").collect())

    assert docs() == ["d0", "d1"]
    stats = st.compact_output_tables()
    assert stats["documents"]["rewritten"] == 1
    assert docs() == ["d0", "d1"]
    base = os.path.join(st.dir, "documents")
    flat = [os.path.join(base, rel) for rel, _ in data_files(base)
            if os.sep not in rel]
    assert sorted(r["doc_id"] for r in spark.read.parquet(*flat)
                  .select("doc_id").collect()) == ["d0", "d1"]
    assert st.clean_uncommitted() == [os.path.join(base, "wave=2")]
