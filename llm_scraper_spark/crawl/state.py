"""Checkpointed crawl state with a wave ledger (SURVEY.md §2.10 T3/T4).

The reference's resumability is "frontier + seen live on disk"
(/root/reference/cache.py:47-76). Here every wave commits:

    state_dir/
      ledger.json                # committed waves + next_seq (written LAST)
      frontier_delta/wave=K/     # rows wave K enqueued, i.e. first seen
                                 # (K=-1: the seeds) — append-only, never
                                 # deleted: it is also the seen set
      fetched/wave=K/            # url_hash tombstones of wave K's fetches
                                 # (budget-bounded: <= hosts x budget rows)
      frontier_base/wave=B/      # periodic compaction: the folded pending
                                 # set after wave B (ledger frontier_base
                                 # names the live one)
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

    The seen set is the same log. The reference marks a URL seen in the
    step that enqueues it (cache.py:78-92), so the committed
    ``frontier_delta`` dirs hold exactly the seen URLs, each once, with
    the wave it was first seen in its ``wave`` column. ``read_seen``
    projects them; compaction folds the pending set into a base but
    keeps the deltas.

Commit protocol (crash-consistent, idempotent replay keyed by wave id):

1. data tables first, in a fixed order, each into its own ``wave=K`` dir
   (never touching a previously committed wave's dir);
2. ledger LAST via atomic rename + fsync — the single commit point.

A crash anywhere before step 2 leaves the ledger at wave K-1; the
partially-written ``wave=K`` dirs are ORPHANS. Consistency then rests on
two invariants, both tested with a simulated mid-commit crash
(tests/test_crawl.py::test_crash_between_table_writes_resumes_exactly):

- READS never see orphans: every cross-wave read path
  (``read_seen``/``read_all``/``read_pending``) is bounded by the
  committed ledger, so between crash and replay the state is exactly the
  wave-(K-1) snapshot.
- REPLAY is idempotent: resume re-runs wave K from the committed
  wave-(K-1) inputs (frontier deltas and base, ``next_seq``);
  ``clean_uncommitted()`` removes orphan dirs first (mode=overwrite would
  also truncate them — the cleanup makes the snapshot property hold for
  out-of-band readers too).

This is the table-snapshot analogue on a plain filesystem: every table
is parquet ``wave=K`` dirs and the ledger rename is the one cross-table
transaction point. (A table format such as Iceberg commits one table per
transaction, so it would need the same ordered-commit + replay protocol;
none is wired in — every read and write here is a parquet path.)
The seen set is append-only (the frontier delta per wave), so resuming
reads ``frontier_delta/wave<K`` — no rewrite of 10^10 rows per wave.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FETCHED_SCHEMA, FRONTIER_SCHEMA

# The cross-wave state tables have pinned schemas: ``write`` conforms each
# frame to its table's schema and the reads pass it to the parquet
# reader, so a read plans from metadata alone instead of launching a
# footer-inference job on the wave's serial path.
STATE_SCHEMAS = {
    "frontier_delta": FRONTIER_SCHEMA,
    "frontier_base": FRONTIER_SCHEMA,
    "fetched": FETCHED_SCHEMA,
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
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # Old seen layouts, both removed: a bucketed catalog table (read
        # as deltas it would be empty), or seen_delta dirs beside
        # frontier deltas that compaction deleted (the seen set is read
        # from the frontier deltas now, so it would lose rows). Either
        # would re-enqueue seen URLs.
        if (self.read_ledger().get("seen_layout") == "bucketed"
                or os.path.isdir(os.path.join(state_dir, "seen_delta"))):
            raise ValueError(
                "state dir was written with a removed seen layout (a "
                "bucketed seen table or seen_delta dirs); the seen set "
                "is read from the frontier_delta dirs only")

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
        keep = {t: committed
                for t in ("frontier_delta", "fetched", "documents",
                          "schedule_log", "metrics")}
        # frontier_base: only the ledger-named fold is live; any other dir
        # is an orphan of a crashed compaction
        keep["frontier_base"] = {self.frontier_base_wave()}
        removed = []
        for table, live in keep.items():
            for w, path in self._wave_dirs(table).items():
                if w not in live:
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        # settle a crashed output-table compaction (manifest committed ->
        # roll forward; staged only -> roll back)
        from ..sinks.compaction import recover_compaction

        for t in self.OUTPUT_TABLES:
            base = os.path.join(self.dir, t)
            if os.path.isdir(base):
                action = recover_compaction(base)
                if action != "clean":
                    removed.append(f"{base} (compaction {action})")
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

    def _frontier_deltas(self, base: int | None, upto: int) -> list[str]:
        """Paths of the committed ``frontier_delta`` dirs in (base, upto],
        as leaf dirs: a read of the table root would discover ``wave``
        from the dir name (K) instead of the rows (K+1). The seeds are
        delta -1, so with no base the bound sits below them. Ledger-
        bounded: orphan deltas of a crashed commit are invisible even
        before clean_uncommitted() runs."""
        lo = -2 if base is None else base
        return [self._p("frontier_delta", d)
                for d in sorted(self.committed_waves())
                if lo < d <= upto
                and os.path.exists(self._p("frontier_delta", d))]

    def read_pending(self, wave: int) -> DataFrame:
        """The pending frontier AS INPUT TO ``wave``: compacted base (if
        any) + frontier deltas - fetch tombstones, all ledger-bounded.
        The tombstone side is budget-bounded per wave and reset by each
        compaction, so it is BROADCAST whenever the ledger's own counts
        say it fits (no Spark action needed to decide)."""
        from pyspark.sql import functions as F

        base = self.frontier_base_wave()
        delta_paths = self._frontier_deltas(base, wave - 1)
        parts = []
        if base is not None:
            parts.append(self.read("frontier_base", base))
        if delta_paths:
            parts.append(self._reader("frontier_delta").parquet(*delta_paths))
        if not parts:
            raise FileNotFoundError(
                f"no committed frontier state for wave {wave} in {self.dir}")
        pending = parts[0]
        for p in parts[1:]:
            pending = pending.unionByName(p)
        fetched_waves, n_tombstones = self._fetched_since_base(wave - 1)
        if fetched_waves:
            tomb = self._reader("fetched").parquet(
                *[self._p("fetched", f) for f in fetched_waves])
            if n_tombstones <= 4_000_000:
                tomb = F.broadcast(tomb)
            pending = pending.join(tomb, on="url_hash", how="left_anti")
        return pending

    def compact_frontier(self, after_wave: int) -> None:
        """Fold base + deltas - tombstones through ``after_wave`` into
        frontier_base/wave=after_wave and point the ledger at it (same
        crash protocol: table dir first, atomic ledger rename last — an
        orphan base dir is invisible until the ledger names it). The
        superseded tombstone and base dirs are then removed, so pending
        reads below the new compaction point become unavailable. The
        frontier deltas stay: they are the seen set."""
        import shutil

        folded = self.read_pending(after_wave + 1)
        self.write("frontier_base", after_wave, folded)
        old_base = self.frontier_base_wave()
        ledger = self.read_ledger()
        ledger["frontier_base"] = after_wave
        self._write_ledger(ledger)
        # GC superseded state (post-commit; crash here only leaves extra
        # dirs that clean_uncommitted-style hygiene may remove later)
        for w, path in self._wave_dirs("fetched").items():
            if w <= after_wave:
                shutil.rmtree(path, ignore_errors=True)
        if old_base is not None and old_base != after_wave:
            shutil.rmtree(self._p("frontier_base", old_base),
                          ignore_errors=True)

    def read_seen(self, upto_wave: int) -> DataFrame | None:
        """The seen set AS INPUT TO ``upto_wave``: every URL a committed
        wave before it enqueued (the seeds included), as ``(url_hash,
        key_hex, first_seen_wave)``. ``key_hex`` is md5(url), the
        reference seen-set key (cache.py:34); a read that selects only
        ``url_hash``, as the dedup anti-join does, prunes it."""
        from pyspark.sql import functions as F

        paths = self._frontier_deltas(None, upto_wave - 1)
        if not paths:
            return None
        return self._reader("frontier_delta").parquet(*paths).select(
            "url_hash", F.md5(F.col("url")).alias("key_hex"),
            F.col("wave").alias("first_seen_wave"))

    def expire_results(self, keep_last_n_waves: int) -> list[int]:
        """T5 retention (reference TTL, cache.py:229-263): drop result
        tables (documents / schedule_log / metrics) for waves older than
        the last N. Crawl STATE (frontier deltas and base, fetch
        tombstones) is never expired — the frontier deltas are the seen
        set, which must stay exact.

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

    def read_all(self, table: str) -> DataFrame | None:
        """Committed-snapshot read of every wave of ``table``: only dirs
        the ledger covers — a crash that left orphan ``wave=K`` dirs does
        not leak uncommitted rows into queries (snapshot isolation at wave
        granularity, the table-snapshot-read analogue). After output-table
        compaction (compact_output_tables) some waves live in FLAT
        ``part-compact-*`` files at the table root — those hold only
        rows of waves that were committed when the compaction ran, so
        they are committed by construction and read unconditionally."""
        base = os.path.join(self.dir, table)
        if not os.path.exists(base):
            return None
        paths = [
            self._p(table, w)
            for w in sorted(self.committed_waves())
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
        eligible: the per-wave state tables (frontier deltas, fetch
        tombstones) are read wave-bounded and keep their dirs.
        Runs at a wave boundary (single writer); a crash mid-compaction
        settles on resume via recover_compaction."""
        from ..sinks.compaction import compact_files

        stats = {}
        for t in tables:
            base = os.path.join(self.dir, t)
            if os.path.isdir(base):
                stats[t] = compact_files(self.spark, base, capacity=capacity)
        return stats
