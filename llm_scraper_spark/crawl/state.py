"""Checkpointed crawl state with a wave ledger (SURVEY.md §2.10 T3/T4).

The reference's resumability is "frontier + seen live on disk"
(reference cache.py:47-76), in two structures: a FIFO deque and a
seen index (cache.py:71-72). Here the crawl state is two append-only
logs keyed by ``url_hash``, and every wave commits four tables:

    state_dir/
      ledger.json                # committed waves + next_seq (written LAST)
      frontier_delta/wave=K/     # the enqueue log: rows wave K enqueued,
                                 # i.e. first seen (K=-1: the seeds)
      schedule_log/wave=K/       # the fetch log: wave K's fetches in
                                 # (wave, seq) order, with url_hash
                                 # (<= hosts x budget rows) — golden_crawl
      documents/wave=K/          # documents emitted in wave K
      metrics/wave=K/            # per-partition lineage + fetch/dedup metrics

    Pending is the committed enqueue log minus the committed fetch log:
    ``read_pending`` anti-joins the two at read time. A url_hash enters
    the enqueue log at most ONCE ever (the seen set gates enqueue), so
    the difference needs no ordering, and a wave writes only its new
    discoveries and its fetches: O(new + scheduled) state writes per
    wave, never O(frontier).

    The seen set is the enqueue log itself. The reference marks a URL
    seen in the step that enqueues it (cache.py:78-92), so the committed
    ``frontier_delta`` rows are exactly the seen URLs, each once, with
    the wave it was first seen in its ``wave`` column (seeds 0, a wave-K
    discovery K+1). ``read_seen`` projects them.

    ``compact_frontier`` folds both logs' per-wave dirs into flat
    ``part-compact-*`` files through the executor the output tables use
    (sinks/compaction.py: stage -> manifest -> finish). A fold changes
    files, never rows, so it needs no ledger entry: a flat file holds
    only rows of waves committed when it was written, and every row
    keeps its own ``wave``. Neither log is ever expired: only the output
    tables (documents, metrics) have a TTL.

Commit protocol (crash-consistent, idempotent replay keyed by wave id):

1. data tables first, in a fixed order, each into its own ``wave=K`` dir
   (never touching a previously committed wave's dir);
2. ledger LAST via atomic rename + fsync — the single commit point.

A crash anywhere before step 2 leaves the ledger at wave K-1; the
partially-written ``wave=K`` dirs are ORPHANS. Consistency then rests on
two invariants, both tested with a simulated mid-commit crash
(tests/test_crawl.py::test_crash_between_table_writes_resumes_exactly):

- READS never see orphans: every read (``read_seen``/``read_all``/
  ``read_pending``) takes the flat files plus only the ``wave=K`` dirs
  the committed ledger names, so between crash and replay the state is
  exactly the wave-(K-1) snapshot.
- REPLAY is idempotent: resume re-runs wave K from the committed
  wave-(K-1) logs and ``next_seq``; ``clean_uncommitted()`` removes
  orphan dirs first (mode=overwrite would also truncate them — the
  cleanup makes the snapshot property hold for out-of-band readers too).

A crashed fold is settled when the state is opened (``recover_compaction``
on every table: a committed manifest rolls forward, a bare stage rolls
back), so no read sees a half-finished fold's rows twice.

This is the table-snapshot analogue on a plain filesystem: every table
is parquet files and the ledger rename is the one cross-table
transaction point. (A table format such as Iceberg commits one table per
transaction, so it would need the same ordered-commit + replay protocol;
none is wired in — every read and write here is a parquet path.)
"""

from __future__ import annotations

import functools
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FRONTIER_SCHEMA, SCHEDULE_LOG_SCHEMA

# The cross-wave state tables have pinned schemas: ``write`` conforms each
# frame to its table's schema and the reads pass it to the parquet
# reader, so a read plans from metadata alone instead of launching a
# footer-inference job on the wave's serial path.
STATE_SCHEMAS = {
    "frontier_delta": FRONTIER_SCHEMA,
    "schedule_log": SCHEDULE_LOG_SCHEMA,
}


def _wave_bounds(path: str) -> tuple[float, float] | None:
    """(min, max) of a parquet file's ``wave`` column from its footer
    statistics, or None when any row group has none. A file without rows
    is (inf, -inf): it holds no wave at all."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    j = [md.schema.column(k).path
         for k in range(md.num_columns)].index("wave")
    lo, hi = math.inf, -math.inf
    for r in range(md.num_row_groups):
        st = md.row_group(r).column(j).statistics
        if st is None or not st.has_min_max:
            return None
        lo, hi = min(lo, st.min), max(hi, st.max)
    return lo, hi


class CrawlState:
    # the append-only output tables; the two logs are STATE_SCHEMAS
    OUTPUT_TABLES = ("documents", "metrics")

    def __init__(self, spark: SparkSession, state_dir: str):
        from ..sinks.compaction import recover_compaction

        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # Removed layouts: a bucketed seen catalog table (read as deltas
        # it would be empty), seen_delta dirs beside frontier deltas that
        # their compaction deleted, a frontier_base snapshot whose fetch
        # dirs up to the base were deleted, or a fetched log (its
        # schedule_log rows carry no url_hash, and their TTL expired old
        # waves). Read as two logs, each would re-enqueue seen URLs or
        # schedule fetched ones again.
        if (self.read_ledger().get("seen_layout") == "bucketed"
                or any(os.path.isdir(os.path.join(state_dir, t))
                       for t in ("seen_delta", "frontier_base", "fetched"))):
            raise ValueError(
                "state dir was written with a removed layout (a bucketed "
                "seen table, seen_delta dirs, a frontier_base snapshot or "
                "a fetched log); the crawl state is the frontier_delta "
                "and schedule_log logs")
        # settle a crashed fold (manifest committed -> roll forward;
        # staged only -> roll back): a half-finished fold of a log
        # holds some rows twice
        for t in (*STATE_SCHEMAS, *self.OUTPUT_TABLES):
            if os.path.isdir(os.path.join(state_dir, t)):
                recover_compaction(os.path.join(state_dir, t))

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
        from ..sinks.compaction import commit_json

        commit_json(self._ledger_path, ledger)  # the atomic commit point

    def commit_wave(self, wave: int, next_seq: int, stats: dict) -> None:
        ledger = self.read_ledger()
        ledger["waves"] = [w for w in ledger["waves"] if w["wave"] != wave]
        ledger["waves"].append({"wave": wave, "next_seq": next_seq, **stats})
        ledger["waves"].sort(key=lambda w: w["wave"])
        ledger["next_seq"] = next_seq
        self._write_ledger(ledger)

    def last_wave(self) -> int | None:
        waves = self.read_ledger()["waves"]
        return waves[-1]["wave"] if waves else None

    def committed_waves(self) -> set[int]:
        return {w["wave"] for w in self.read_ledger()["waves"]}

    def clean_uncommitted(self) -> list[str]:
        """Remove orphan ``wave=K`` dirs no committed wave references —
        leftovers of a crash between table writes and the ledger commit.
        Reads are already ledger-bounded, so this is hygiene plus a safety
        net for out-of-band consumers that glob the state dir directly.
        Idempotent; returns the removed paths."""
        import shutil

        committed = self.committed_waves()
        removed = []
        for table in (*STATE_SCHEMAS, *self.OUTPUT_TABLES):
            for w, path in self._wave_dirs(table).items():
                if w not in committed:
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed

    # --- table IO -------------------------------------------------------
    def _p(self, table: str, wave: int) -> str:
        return os.path.join(self.dir, table, f"wave={wave}")

    def _wave_dirs(self, table: str) -> dict[int, str]:
        """{wave: path} of the ``wave=K`` dirs on disk under ``table``."""
        base = os.path.join(self.dir, table)
        names = os.listdir(base) if os.path.isdir(base) else []
        out = {}
        for name in names:
            if name.startswith("wave="):
                try:
                    out[int(name[5:])] = os.path.join(base, name)
                except ValueError:
                    pass
        return out

    def write(self, table: str, wave: int, df: DataFrame) -> None:
        schema = STATE_SCHEMAS.get(table)
        if schema is not None:
            # a pinned read trusts the files: e.g. a float seed priority
            # lands as double
            from pyspark.sql import functions as F

            df = df.select(*[F.col(f.name).cast(f.dataType)
                             for f in schema.fields])
        df.write.mode("overwrite").parquet(self._p(table, wave))

    def _reader(self, table: str):
        schema = STATE_SCHEMAS.get(table)
        reader = self.spark.read
        return reader if schema is None else reader.schema(schema)

    def read(self, table: str, wave: int) -> DataFrame:
        return self._reader(table).parquet(self._p(table, wave))

    def read_pending(self, wave: int) -> DataFrame:
        """The pending frontier AS INPUT TO ``wave``: the enqueue log
        minus the fetch log (``schedule_log``'s ``url_hash``), both
        through wave - 1. The fetch log side is BROADCAST whenever the
        ledger's own scheduled counts say it fits (no Spark action
        needed to decide). After a fold through wave F the flat fetch
        log holds waves <= F, so only reads for a wave past F are
        exact."""
        from pyspark.sql import functions as F

        pending = self.read_all("frontier_delta", wave - 1)
        if pending is None:
            raise FileNotFoundError(
                f"no committed frontier state for wave {wave} in {self.dir}")
        fetched = self.read_all("schedule_log", wave - 1)
        if fetched is not None:
            fetched = fetched.select("url_hash")
            n_fetched = sum(int(w.get("scheduled", 0))
                            for w in self.read_ledger()["waves"]
                            if 0 <= w["wave"] < wave)
            if n_fetched <= 4_000_000:
                fetched = F.broadcast(fetched)
            pending = pending.join(fetched, on="url_hash", how="left_anti")
        return pending

    def compact_frontier(self, after_wave: int) -> None:
        """Fold both logs through ``after_wave`` — their committed
        ``wave=K`` dirs with K <= after_wave, and their earlier folds —
        into flat ``part-compact-*`` files (_fold_committed). Rows and
        their ``wave`` are unchanged, so the fold writes no ledger key.
        Single writer, at a wave boundary."""
        self._fold_committed(STATE_SCHEMAS, after_wave)

    def _fold_committed(self, tables, upto_wave: int | None = None) -> dict:
        """Fold each table's flat files and its committed ``wave=K``
        dirs (K <= ``upto_wave`` when given) into flat ``part-compact-*``
        files via the crash-safe executor (sinks/compaction.py), reading
        a log's groups with its pinned schema. An orphan dir of a
        crashed commit stays out of the fold: read_all never reads it
        and clean_uncommitted can still remove it. Returns the
        executor's stats per table folded."""
        from ..sinks.compaction import compact_files

        # the table root's flat files ("") and the folded wave dirs
        folded = {""} | {f"wave={w}" for w in self.committed_waves()
                         if upto_wave is None or w <= upto_wave}
        stats = {}
        for table in tables:
            base = os.path.join(self.dir, table)
            if os.path.isdir(base):
                stats[table] = compact_files(
                    self.spark, base, schema=STATE_SCHEMAS.get(table),
                    include=lambda rel: os.path.dirname(rel) in folded)
        return stats

    def read_seen(self, upto_wave: int) -> DataFrame | None:
        """The seen set AS INPUT TO ``upto_wave``: every URL a committed
        wave before it enqueued (the seeds included), as ``(url_hash,
        key_hex, first_seen_wave)``. ``key_hex`` is md5(url), the
        reference seen-set key (cache.py:34); a read that selects only
        ``url_hash``, as the dedup anti-join does, prunes it. Folded rows
        are bounded by their own ``wave``."""
        from pyspark.sql import functions as F

        seen = self.read_all("frontier_delta", upto_wave - 1)
        if seen is None:
            return None
        return seen.filter(F.col("wave") <= upto_wave).select(
            "url_hash", F.md5(F.col("url")).alias("key_hex"),
            F.col("wave").alias("first_seen_wave"))

    def expire_results(self, keep_last_n_waves: int) -> list[int]:
        """T5 retention (reference TTL, cache.py:229-263): drop the result
        tables (documents / metrics) for waves older than the last N. The
        crawl STATE (the enqueue log and the fetch log ``schedule_log``)
        is never expired: the enqueue log is the seen set and the fetch
        log is what keeps a fetched URL out of pending, so both must stay
        exact.

        Compaction-aware: waves folded into flat ``part-compact-*``
        files by compact_output_tables carry their wave id in the data's
        own ``wave`` column, so expiring them is a filtered rewrite of
        the flat files under the SAME stage -> manifest -> finish crash
        protocol the compaction executor uses (a crash settles when the
        state is next opened)."""
        import shutil

        ledger = self.read_ledger()
        waves = sorted(w["wave"] for w in ledger["waves"] if w["wave"] >= 0)
        expired = waves[:-keep_last_n_waves] if keep_last_n_waves else waves
        for w in expired:
            for table in self.OUTPUT_TABLES:
                path = self._p(table, w)
                if os.path.exists(path):
                    shutil.rmtree(path)
        if expired:
            cutoff = expired[-1]  # keep rows with wave > cutoff
            for table in self.OUTPUT_TABLES:
                self._expire_flat(table, cutoff)
        return expired

    def _expire_flat(self, table: str, cutoff_wave: int) -> None:
        """Drop rows with ``wave <= cutoff_wave`` from a table's compacted
        flat files. Each file's parquet footer min/max of ``wave`` (read
        on the driver, no Spark job) decides: a file of only newer waves
        stays untouched, a file of only expired waves is deleted, and
        only a file that straddles the cutoff (or has no statistics) is
        rewritten filtered — so an expiry that cuts nothing writes
        nothing. Deletes and rewrites commit through the compaction
        executor's protocol (stage, fsynced manifest rename, idempotent
        finish)."""
        from pyspark.sql import functions as F

        from ..sinks.compaction import (
            MANIFEST, _finish, _next_epoch, commit_json, data_files,
            recover_compaction, stage_one_file)

        base = os.path.join(self.dir, table)
        if not os.path.isdir(base):
            return
        recover_compaction(base)
        files = data_files(base)
        old, rewrite = [], []
        for rel, _ in files:
            if os.sep in rel:
                continue  # a wave=K dir: expire_results removes those
            bounds = _wave_bounds(os.path.join(base, rel))
            if bounds is not None and bounds[0] > cutoff_wave:
                continue
            old.append(rel)
            if bounds is None or bounds[1] > cutoff_wave:
                rewrite.append(rel)
        if not old:
            return
        epoch = _next_epoch(files)
        new = []
        for g, rel in enumerate(rewrite):
            dst = f"part-compact-e{epoch}-g{g}.parquet"
            staged_rel = stage_one_file(
                self.spark.read.parquet(os.path.join(base, rel))
                .filter(F.col("wave") > cutoff_wave), base, dst)
            new.append({"src": staged_rel, "dst": dst})
        commit_json(os.path.join(base, MANIFEST), {"new": new, "old": old})
        _finish(base)

    def read_all(self, table: str,
                 upto_wave: int | None = None) -> DataFrame | None:
        """Committed-snapshot read of ``table`` (the table-snapshot-read
        analogue): its flat ``part-compact-*`` files (a fold holds only
        rows of waves committed when it ran) plus the committed
        ``wave=K`` dirs, K <= ``upto_wave`` when given. Orphan dirs of a
        crashed commit are invisible even before clean_uncommitted()
        runs. A log is ONE pinned read of leaf dirs with no partition
        discovery, so a row keeps its own ``wave`` (a discovery's is
        K+1, not the dir's K) and the read runs no Spark job. An output
        table's rows may lack ``wave``: its dirs are read with the wave
        discovered from the dir name."""
        base = os.path.join(self.dir, table)
        if not os.path.isdir(base):
            return None
        flat = [os.path.join(base, n) for n in sorted(os.listdir(base))
                if n.endswith(".parquet") and not n.startswith(("_", "."))]
        dirs = [self._p(table, w) for w in sorted(self.committed_waves())
                if (upto_wave is None or w <= upto_wave)
                and os.path.isdir(self._p(table, w))]
        if table in STATE_SCHEMAS and (flat or dirs):
            return self._reader(table).parquet(*flat, *dirs)
        parts = [self.spark.read.parquet(*flat)] if flat else []
        if dirs:
            parts.append(self.spark.read.option("basePath", base)
                         .parquet(*dirs))
        return functools.reduce(DataFrame.unionByName, parts) \
            if parts else None

    # --- output-table compaction ---------------------------------------
    def compact_output_tables(self) -> dict:
        """Fold the wave-fragmented append-only OUTPUT tables' committed
        rows into flat files (_fold_committed) — every wave appends a
        few files per table, so a long crawl's read amplification grows
        linearly until folded. The two logs fold in compact_frontier
        instead. Runs at a wave boundary (single writer); a crash
        mid-compaction settles when the state is next opened."""
        return self._fold_committed(self.OUTPUT_TABLES)
