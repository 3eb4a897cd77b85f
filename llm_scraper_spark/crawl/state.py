"""Checkpointed crawl state with a wave ledger (SURVEY.md §2.10 T3/T4).

The reference's resumability is "frontier + seen live on disk"
(/root/reference/cache.py:47-76). Here every wave commits:

    state_dir/
      ledger.json                # committed waves + next_seq (written LAST)
      frontier_delta/wave=K/     # rows that became pending AT wave K
                                 # (K=-1: the seeds) — append-only
      fetched/wave=K/            # url_hash tombstones of wave K's fetches
                                 # (budget-bounded: <= hosts x budget rows)
      frontier_base/wave=B/      # periodic compaction: the folded pending
                                 # set after wave B (ledger frontier_base
                                 # names the live one)
      seen_delta/wave=K/         # hashes first seen in wave K (append-only)
      documents/wave=K/          # documents emitted in wave K
      schedule_log/wave=K/       # (wave, seq, url) fetch order — golden_crawl
      metrics/wave=K/            # per-partition lineage + fetch/dedup metrics

    The pending frontier is DELTA state, like the seen set: wave K writes
    only its new discoveries (frontier_delta) and its fetch tombstones
    (fetched); ``read_pending`` folds base + deltas - tombstones at read
    time, and ``compact_frontier`` periodically rewrites the fold so both
    the per-read delta count and the tombstone anti-join side stay
    bounded by the compaction interval. At the 10^10-URL design point
    this is the difference between O(new + scheduled) and O(frontier)
    state writes per wave — the full-snapshot rewrite was the loop's one
    remaining at-scale bottleneck. A url_hash enters at most ONE delta
    ever (the seen set gates enqueue), so the fold needs no ordering.

Commit protocol (crash-consistent, idempotent replay keyed by wave id):

1. data tables first, in a fixed order, each into its own ``wave=K`` dir
   (never touching a previously committed wave's dir);
2. ledger LAST via atomic rename + fsync — the single commit point.

A crash anywhere before step 2 leaves the ledger at wave K-1; the
partially-written ``wave=K`` dirs are ORPHANS. Consistency then rests on
two invariants, both tested with a simulated mid-commit crash
(tests/test_crawl.py::test_crash_between_table_writes_resumes_exactly):

- READS never see orphans: every cross-wave read path
  (``read_seen``/``read_all``/``read_frontier``) is bounded by the
  committed ledger, so between crash and replay the state is exactly the
  wave-(K-1) snapshot.
- REPLAY is idempotent: resume re-runs wave K from the committed
  wave-(K-1) inputs (frontier snapshot, seen deltas, ``next_seq``);
  ``clean_uncommitted()`` removes orphan dirs first (mode=overwrite would
  also truncate them — the cleanup makes the snapshot property hold for
  out-of-band readers too).

This is the Iceberg-snapshot analogue on a plain filesystem. With an
Iceberg catalog on the classpath (``iceberg_catalog`` below, auto-detected
from spark.sql.catalog.* conf), the per-table writes become real Iceberg
partition commits and the ledger rename remains the cross-table
transaction point — Spark cannot commit multiple Iceberg tables in one
transaction, so the ordered-commit + replay protocol is the correct shape
there too (the catalog path is exercised only where the jars exist; this
sandbox has none, so it stays a thin, documented routing layer).
The seen set is append-only (delta per wave), so resuming reads
``seen_delta/wave<=K`` — no rewrite of 10^10 rows per wave.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _detect_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None.

    Presence check only — ``spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog`` (the standard wiring)."""
    try:
        for k, v in spark.sparkContext.getConf().getAll():
            if k.startswith("spark.sql.catalog.") and k.count(".") == 3 \
                    and "iceberg" in (v or "").lower():
                return k.rsplit(".", 1)[1]
    except Exception:
        pass
    return None


class CrawlState:
    def __init__(self, spark: SparkSession, state_dir: str,
                 iceberg_catalog: str | None = None,
                 seen_layout: str = "delta",
                 n_seen_buckets: int = 32):
        if seen_layout not in ("delta", "bucketed"):
            raise ValueError(f"unknown seen_layout {seen_layout!r}")
        self.spark = spark
        self.dir = state_dir
        self.catalog = iceberg_catalog or _detect_iceberg_catalog(spark)
        # "bucketed": the seen set lives in a bucketBy(url_hash) catalog
        # table, so the per-wave dedup anti-join plans with ZERO Exchange
        # on the seen side — at the 10^10 design point re-shuffling the
        # biggest table in the system every wave is the dominant cost
        # (sinks/bucketed.py rationale, wired here per VERDICT r4 #2).
        self.seen_layout = seen_layout
        self.n_seen_buckets = n_seen_buckets
        os.makedirs(state_dir, exist_ok=True)
        ledger = self.read_ledger()
        recorded = ledger.get("seen_layout")
        if recorded is None and ledger.get("waves"):
            # committed before the layout was recorded: such dirs were
            # always written with the delta layout
            recorded = "delta"
        if recorded is not None and recorded != seen_layout:
            raise ValueError(
                f"state dir was created with seen_layout={recorded!r}; "
                f"resume with the same layout (got {seen_layout!r})")
        rec_buckets = ledger.get("n_seen_buckets")
        if (seen_layout == "bucketed" and rec_buckets is not None
                and int(rec_buckets) != n_seen_buckets):
            # a mismatched bucket count would re-register the catalog
            # table with the wrong INTO N BUCKETS over existing files —
            # the scan then claims a partitioning the data doesn't have
            # and the dedup anti-join silently drops/misses rows
            raise ValueError(
                f"state dir's bucketed seen table was written with "
                f"{rec_buckets} buckets; resume with the same count "
                f"(got {n_seen_buckets})")

    # --- ledger ---------------------------------------------------------
    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.dir, "ledger.json")

    def read_ledger(self) -> dict:
        if not os.path.exists(self._ledger_path):
            return {"waves": [], "next_seq": 0}
        with open(self._ledger_path) as f:
            return json.load(f)

    def _write_ledger(self, ledger: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".ledger.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(ledger, f, indent=2)
            f.flush()
            os.fsync(f.fileno())  # durable before the rename below
        os.replace(tmp, self._ledger_path)  # atomic commit point
        try:  # persist the rename itself (directory entry)
            dfd = os.open(self.dir, os.O_RDONLY)
            os.fsync(dfd)
            os.close(dfd)
        except OSError:
            pass

    def commit_wave(self, wave: int, next_seq: int, stats: dict) -> None:
        ledger = self.read_ledger()
        ledger["waves"] = [w for w in ledger["waves"] if w["wave"] != wave]
        ledger["waves"].append({"wave": wave, "next_seq": next_seq, **stats})
        ledger["waves"].sort(key=lambda w: w["wave"])
        ledger["next_seq"] = next_seq
        ledger["seen_layout"] = self.seen_layout
        if self.seen_layout == "bucketed":
            ledger["n_seen_buckets"] = self.n_seen_buckets
        self._write_ledger(ledger)

    def last_wave(self) -> int | None:
        waves = self.read_ledger()["waves"]
        return waves[-1]["wave"] if waves else None

    def committed_waves(self) -> set[int]:
        return {w["wave"] for w in self.read_ledger()["waves"]}

    def _committed_for(self, table: str) -> set[int]:
        """Wave ids of ``table`` dirs covered by the ledger. ``seen_delta``
        is written one wave ahead (wave K commits seen_delta/wave=K+1, the
        seed commit -1 writes seen_delta/wave=0), so its dir K is committed
        iff wave K-1 is."""
        committed = self.committed_waves()
        if table == "seen_delta":
            return {w + 1 for w in committed}
        return committed

    def clean_uncommitted(self) -> list[str]:
        """Remove orphan ``wave=K`` dirs no committed wave references —
        leftovers of a crash between table writes and the ledger commit.
        Reads are already ledger-bounded, so this is hygiene plus a safety
        net for out-of-band consumers that glob the state dir directly.
        Idempotent; returns the removed paths."""
        import shutil

        removed = []
        for table in ("frontier", "frontier_delta", "fetched", "seen_delta",
                      "documents", "schedule_log", "metrics"):
            base = os.path.join(self.dir, table)
            if not os.path.isdir(base):
                continue
            keep = self._committed_for(table)
            for name in os.listdir(base):
                if not name.startswith("wave="):
                    continue
                try:
                    w = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if w not in keep:
                    path = os.path.join(base, name)
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        if self.seen_layout == "bucketed":
            removed += self._clean_seen_bucketed()
        # settle a crashed output-table compaction (manifest committed ->
        # roll forward; staged only -> roll back)
        from ..sinks.compaction import recover_compaction

        for t in self.OUTPUT_TABLES:
            base = os.path.join(self.dir, t)
            if os.path.isdir(base):
                action = recover_compaction(base)
                if action != "clean":
                    removed.append(f"{base} (compaction {action})")
        # frontier_base: only the ledger-named fold is live; any other dir
        # is an orphan of a crashed compaction
        basedir = os.path.join(self.dir, "frontier_base")
        live = self.frontier_base_wave()
        if os.path.isdir(basedir):
            for name in os.listdir(basedir):
                if name.startswith("wave=") and name != f"wave={live}":
                    path = os.path.join(basedir, name)
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    # --- table IO -------------------------------------------------------
    def _p(self, table: str, wave: int) -> str:
        return os.path.join(self.dir, table, f"wave={wave}")

    def _tbl(self, table: str) -> str:
        return f"{self.catalog}.crawl.{table}"

    # --- bucketed seen layout ------------------------------------------
    # The seen set as a bucketBy(url_hash) parquet CATALOG table: every
    # wave APPENDS its delta (<= n_buckets files), and the per-wave
    # anti-join streams the seen side bucket-aligned with no Exchange.
    # Crash protocol: the append lands files, then a per-wave sidecar
    # (_files_wave_K.json) records exactly which files belong to wave K,
    # then the ledger commits as usual. On resume, files of uncommitted
    # waves (or covered by no sidecar at all — a mid-append crash) are
    # deleted before replay, so the replayed append recreates them and
    # the table never holds duplicate rows.

    def _seen_table_name(self) -> str:
        import hashlib

        h = hashlib.md5(os.path.abspath(self.dir).encode()).hexdigest()[:12]
        return f"seen_b_{h}"

    def _seen_bucket_dir(self) -> str:
        return os.path.join(self.dir, "seen_bucketed")

    def _ensure_seen_table(self) -> str:
        """Register the bucketed table in THIS session's catalog (catalog
        metadata is session-scoped; the files are the durable state)."""
        name = self._seen_table_name()
        if not self.spark.catalog.tableExists(name):
            os.makedirs(self._seen_bucket_dir(), exist_ok=True)
            self.spark.sql(
                f"CREATE TABLE {name} "
                "(url_hash BIGINT, key_hex STRING, first_seen_wave INT) "
                "USING PARQUET "
                "CLUSTERED BY (url_hash) SORTED BY (url_hash) "
                f"INTO {self.n_seen_buckets} BUCKETS "
                f"LOCATION '{self._seen_bucket_dir()}'")
        return name

    def _seen_data_files(self) -> set[str]:
        d = self._seen_bucket_dir()
        if not os.path.isdir(d):
            return set()
        return {n for n in os.listdir(d)
                if n.endswith(".parquet") and not n.startswith(("_", "."))}

    def _write_seen_bucketed(self, wave: int, df: DataFrame) -> None:
        from pyspark.sql import functions as F

        name = self._ensure_seen_table()
        before = self._seen_data_files()
        (df.select("url_hash", "key_hex",
                   F.col("first_seen_wave").cast("int"))
         .write.mode("append").format("parquet")
         .bucketBy(self.n_seen_buckets, "url_hash").sortBy("url_hash")
         .saveAsTable(name))
        added = sorted(self._seen_data_files() - before)
        sidecar = os.path.join(self._seen_bucket_dir(),
                               f"_files_wave_{wave}.json")
        fd, tmp = tempfile.mkstemp(dir=self._seen_bucket_dir(),
                                   suffix=".sidecar.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"wave": wave, "files": added}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, sidecar)

    def _read_seen_bucketed(self, upto_wave: int) -> DataFrame | None:
        from pyspark.sql import functions as F

        committed = {w for w in self._committed_for("seen_delta")
                     if w <= upto_wave}
        if not committed or not os.path.isdir(self._seen_bucket_dir()):
            return None
        name = self._ensure_seen_table()
        # bound by the LEDGER, not the caller's wave: between a crash and
        # the resume's clean_uncommitted() the table can hold an
        # uncommitted delta (or mid-append orphans) — waves commit in
        # order, so first_seen_wave <= max(committed) is exactly the
        # committed snapshot (same guarantee as the delta layout's
        # per-dir reads)
        return (self.spark.table(name)
                .where(F.col("first_seen_wave") <= max(committed)))

    def _clean_seen_bucketed(self) -> list[str]:
        d = self._seen_bucket_dir()
        if not os.path.isdir(d):
            return []
        committed = self._committed_for("seen_delta")
        keep: set[str] = set()
        removed = []
        for n in sorted(os.listdir(d)):
            if not (n.startswith("_files_wave_") and n.endswith(".json")):
                continue
            w = int(n[len("_files_wave_"):-len(".json")])
            with open(os.path.join(d, n)) as f:
                files = json.load(f)["files"]
            if w in committed:
                keep.update(files)
            else:
                for rel in files:
                    p = os.path.join(d, rel)
                    if os.path.exists(p):
                        os.remove(p)
                        removed.append(p)
                os.remove(os.path.join(d, n))
        # data files covered by NO sidecar = a mid-append crash's orphans
        for n in sorted(self._seen_data_files() - keep):
            p = os.path.join(d, n)
            os.remove(p)
            removed.append(p)
        if removed:
            # drop the session's cached file listing for the table — a
            # stale index would read the just-deleted files
            name = self._seen_table_name()
            if self.spark.catalog.tableExists(name):
                self.spark.catalog.refreshTable(name)
        return removed

    def write(self, table: str, wave: int, df: DataFrame) -> None:
        if table == "seen_delta" and self.seen_layout == "bucketed":
            self._write_seen_bucketed(wave, df)
            return
        if self.catalog:
            # Iceberg routing: replace exactly this wave's partition — one
            # atomic Iceberg snapshot commit per table, same ordered
            # protocol (ledger still last). Requires the catalog's jars;
            # see module docstring.
            from pyspark.sql import functions as F

            (df.withColumn("_wave_part", F.lit(wave))
             .writeTo(self._tbl(table))
             .overwritePartitions())
            return
        df.write.mode("overwrite").parquet(self._p(table, wave))

    def read(self, table: str, wave: int) -> DataFrame:
        if self.catalog:
            return (self.spark.read.table(self._tbl(table))
                    .where(f"_wave_part = {int(wave)}").drop("_wave_part"))
        return self.spark.read.parquet(self._p(table, wave))

    def frontier_base_wave(self) -> int | None:
        """Wave id of the live compacted pending fold, or None."""
        return self.read_ledger().get("frontier_base")

    def _fetched_since_base(self, upto_wave: int) -> tuple[list[int], int]:
        """(wave ids of committed fetch-tombstone dirs in (base, upto_wave],
        total tombstone rows from the ledger's per-wave scheduled counts).
        The count is free (ledger stats) and sizes the anti-join strategy
        in read_pending without a Spark action."""
        base = self.frontier_base_wave()
        lo = -1 if base is None else base
        ledger = self.read_ledger()
        waves, total = [], 0
        for w in ledger["waves"]:
            if lo < w["wave"] <= upto_wave and w["wave"] >= 0 \
                    and os.path.exists(self._p("fetched", w["wave"])):
                waves.append(w["wave"])
                total += int(w.get("scheduled", 0))
        return waves, total

    def read_pending(self, wave: int) -> DataFrame:
        """The pending frontier AS INPUT TO ``wave``: compacted base (if
        any) + frontier deltas - fetch tombstones, all ledger-bounded.
        The tombstone side is budget-bounded per wave and reset by each
        compaction, so it is BROADCAST whenever the ledger's own counts
        say it fits (no Spark action needed to decide)."""
        from pyspark.sql import functions as F

        base = self.frontier_base_wave()
        lo = -1 if base is None else base
        committed = self.committed_waves()
        delta_paths = [
            self._p("frontier_delta", d)
            for d in sorted(committed)
            if lo < d <= wave - 1 and os.path.exists(
                self._p("frontier_delta", d))
        ]
        # seeds live in dir -1, committed by wave -1
        if base is None and -1 in committed and wave >= 0 \
                and os.path.exists(self._p("frontier_delta", -1)):
            delta_paths.insert(0, self._p("frontier_delta", -1))
        parts = []
        if base is not None:
            parts.append(self.read("frontier_base", base))
        if delta_paths:
            parts.append(self.spark.read.parquet(*delta_paths))
        if not parts:
            raise FileNotFoundError(
                f"no committed frontier state for wave {wave} in {self.dir}")
        pending = parts[0]
        for p in parts[1:]:
            pending = pending.unionByName(p)
        fetched_waves, n_tombstones = self._fetched_since_base(wave - 1)
        if fetched_waves:
            tomb = self.spark.read.parquet(
                *[self._p("fetched", f) for f in fetched_waves]
            ).select("url_hash")
            if n_tombstones <= 4_000_000:
                tomb = F.broadcast(tomb)
            pending = pending.join(tomb, on="url_hash", how="left_anti")
        return pending

    def compact_frontier(self, after_wave: int) -> None:
        """Fold base + deltas - tombstones through ``after_wave`` into
        frontier_base/wave=after_wave and point the ledger at it (same
        crash protocol: table dir first, atomic ledger rename last — an
        orphan base dir is invisible until the ledger names it). The
        superseded delta/tombstone/base dirs are then removed; reads
        below the new compaction point become unavailable, which is the
        standard retention trade (the live pending set is what the crawl
        needs; schedule_log/documents keep full history)."""
        import shutil

        folded = self.read_pending(after_wave + 1)
        self.write("frontier_base", after_wave, folded)
        old_base = self.frontier_base_wave()
        ledger = self.read_ledger()
        ledger["frontier_base"] = after_wave
        self._write_ledger(ledger)
        # GC superseded state (post-commit; crash here only leaves extra
        # dirs that clean_uncommitted-style hygiene may remove later)
        for table in ("frontier_delta", "fetched"):
            basedir = os.path.join(self.dir, table)
            if not os.path.isdir(basedir):
                continue
            for name in os.listdir(basedir):
                if not name.startswith("wave="):
                    continue
                try:
                    w = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if w <= after_wave:
                    shutil.rmtree(os.path.join(basedir, name),
                                  ignore_errors=True)
        if old_base is not None and old_base != after_wave:
            shutil.rmtree(self._p("frontier_base", old_base),
                          ignore_errors=True)

    def read_frontier(self, wave: int) -> DataFrame:
        """Pending snapshot AFTER ``wave`` (compat alias: the delta-state
        equivalent of the old full-snapshot table)."""
        return self.read_pending(wave + 1)

    def read_seen(self, upto_wave: int) -> DataFrame | None:
        if self.seen_layout == "bucketed":
            return self._read_seen_bucketed(upto_wave)
        committed = self._committed_for("seen_delta")
        if self.catalog:
            waves = sorted(w for w in committed if w <= upto_wave)
            if not waves:
                return None
            return (self.spark.read.table(self._tbl("seen_delta"))
                    .where(f"_wave_part <= {int(upto_wave)}")
                    .drop("_wave_part"))
        paths = [
            self._p("seen_delta", w)
            for w in range(upto_wave + 1)
            # ledger-bounded: orphan deltas from a crashed commit are
            # invisible even before clean_uncommitted() runs
            if w in committed and os.path.exists(self._p("seen_delta", w))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def expire_results(self, keep_last_n_waves: int) -> list[int]:
        """T5 retention (reference TTL, cache.py:229-263): drop result
        tables (documents / schedule_log / metrics) for waves older than
        the last N. Crawl STATE (frontier snapshots, seen deltas) is never
        expired — the seen set must stay exact.

        Compaction-aware: waves folded into flat ``part-compact-*``
        files by compact_output_tables carry their wave id in the data's
        own ``wave`` column, so expiring them is a filtered rewrite of
        the flat files under the SAME stage -> manifest -> finish crash
        protocol the compaction executor uses (a crash settles on the
        resume path's recover_compaction)."""
        import shutil

        ledger = self.read_ledger()
        waves = sorted(w["wave"] for w in ledger["waves"] if w["wave"] >= 0)
        expired = waves[:-keep_last_n_waves] if keep_last_n_waves else waves
        for w in expired:
            for table in ("documents", "schedule_log", "metrics"):
                path = self._p(table, w)
                if os.path.exists(path):
                    shutil.rmtree(path)
        if expired:
            cutoff = expired[-1]  # keep rows with wave > cutoff
            for table in ("documents", "schedule_log", "metrics"):
                self._expire_flat(table, cutoff)
        return expired

    def _expire_flat(self, table: str, cutoff_wave: int) -> None:
        """Rewrite a table's compacted flat files keeping only rows with
        ``wave > cutoff_wave``, via the compaction executor's commit
        protocol (stage, fsynced manifest rename, idempotent finish)."""
        import json as _json
        import tempfile as _tempfile

        from pyspark.sql import functions as F

        from ..sinks.compaction import (
            MANIFEST, STAGE, _finish, _next_epoch, data_files,
            recover_compaction)

        base = os.path.join(self.dir, table)
        if not os.path.isdir(base):
            return
        recover_compaction(base)
        flats = [rel for rel, _ in data_files(base) if os.sep not in rel]
        if not flats:
            return
        kept = (self.spark.read.parquet(
            *[os.path.join(base, rel) for rel in flats])
            .filter(F.col("wave") > cutoff_wave))
        epoch = _next_epoch(data_files(base))
        stage = os.path.join(base, STAGE)
        os.makedirs(stage, exist_ok=True)
        out_tmp = os.path.join(stage, "expire")
        kept.coalesce(1).write.mode("overwrite").parquet(out_tmp)
        part = [n for n in os.listdir(out_tmp)
                if n.endswith(".parquet") and not n.startswith(("_", "."))]
        assert len(part) == 1, part
        dst = f"part-compact-e{epoch}-g0.parquet"
        staged_rel = os.path.join(STAGE, dst)
        os.replace(os.path.join(out_tmp, part[0]),
                   os.path.join(base, staged_rel))
        fd, tmp = _tempfile.mkstemp(dir=base, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            _json.dump({"new": [{"src": staged_rel, "dst": dst}],
                        "old": flats}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(base, MANIFEST))
        _finish(base)

    def read_all(self, table: str) -> DataFrame | None:
        """Committed-snapshot read of every wave of ``table``: only dirs
        the ledger covers — a crash that left orphan ``wave=K`` dirs does
        not leak uncommitted rows into queries (snapshot isolation at wave
        granularity, the Iceberg-read analogue). After output-table
        compaction (compact_output_tables) some waves live in FLAT
        ``part-compact-*`` files at the table root — those hold only
        rows of waves that were committed when the compaction ran, so
        they are committed by construction and read unconditionally."""
        if self.catalog:
            waves = sorted(self._committed_for(table))
            if not waves:
                return None
            return (self.spark.read.table(self._tbl(table))
                    .where(f"_wave_part in ({','.join(map(str, waves))})")
                    .withColumnRenamed("_wave_part", "wave_part"))
        base = os.path.join(self.dir, table)
        if not os.path.exists(base):
            return None
        paths = [
            self._p(table, w)
            for w in sorted(self._committed_for(table))
            if os.path.exists(self._p(table, w))
        ]
        flat = sorted(
            os.path.join(base, n) for n in os.listdir(base)
            if n.endswith(".parquet") and not n.startswith(("_", ".")))
        readers = []
        if flat:
            readers.append(self.spark.read.parquet(*flat))
        if paths:
            readers.append(
                self.spark.read.option("basePath", base).parquet(*paths))
        if not readers:
            return None
        out = readers[0]
        for r in readers[1:]:
            out = out.unionByName(r)
        return out

    # --- output-table compaction ---------------------------------------
    OUTPUT_TABLES = ("documents", "schedule_log", "metrics")

    def compact_output_tables(
            self, capacity: int = 128 * 1024 * 1024,
            tables: tuple[str, ...] = OUTPUT_TABLES) -> dict:
        """Fold the wave-fragmented append-only OUTPUT tables into
        ~capacity-sized flat files via the crash-safe executor
        (sinks/compaction.py) — every wave appends a few files per
        table, so a long crawl's read amplification grows linearly
        until folded. Only tables whose reads go through read_all are
        eligible: the per-wave state tables (seen/frontier deltas,
        fetch tombstones) are read wave-bounded and keep their dirs.
        Runs at a wave boundary (single writer); a crash mid-compaction
        settles on resume via recover_compaction."""
        from ..sinks.compaction import compact_files

        stats = {}
        for t in tables:
            base = os.path.join(self.dir, t)
            if os.path.isdir(base):
                stats[t] = compact_files(self.spark, base, capacity=capacity)
        return stats
