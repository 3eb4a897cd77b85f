"""Small-file compaction EXECUTOR (VERDICT r3 #5) — rewrite a
wave-fragmented parquet table into ~target-size files, crash-safe.

``q_compaction_plan`` plans groups with the sequence-packing window
(corpus.pack_sequences on file metadata); this module executes the same
plan against real files with the same commit discipline as the crawl
state (crawl/state.py): stage everything, commit with ONE atomic rename,
then garbage-collect — a crash at any point either rolls back (nothing
committed) or rolls forward (commit already durable), never both layouts.

Protocol:

1. ``data_files`` enumerates the committed ``*.parquet`` leaves (driver-
   side listing — the same metadata-scale work an Iceberg planner does;
   file COUNT, not data size, bounds it). A caller may fold a subset
   (``include``): the crawl state folds only committed waves.
2. ``plan_groups`` packs the files on the driver with pack_sequences'
   arithmetic: files ordered by path, each in group ``(weight of the
   files before it) DIV capacity``. The weight is the byte size, or the
   exact row count from each file's parquet footer with ``by_rows=True``
   (used by the driver oracle: byte sizes are encoder-dependent, row
   counts engine-portable). Planning runs no Spark job.
3. Each multi-file group is rewritten into ``_compacting/part-compact-
   e<E>-g<N>.parquet`` (read exactly that group's files, coalesce(1):
   one Spark job per group when the caller passes the table's
   ``schema``, else a footer-inference job more);
   ``E`` is a per-pass epoch (1 + max epoch among committed files), so
   output names are collision-free across passes — a re-compaction can
   never overwrite a RETAINED file from a prior pass. Single-file
   groups are RETAINED in place — no write amplification for
   already-right-sized files.
4. COMMIT: a manifest json (new-file moves + obsolete inputs) is
   fsynced and atomically renamed to ``_compaction_manifest.json`` —
   the single commit point.
5. GC/finish: move staged files into the table root, delete obsolete
   inputs (and now-empty wave dirs), remove the manifest.

``recover_compaction`` settles a crashed run: manifest present → roll
FORWARD (finish is idempotent: moves skip missing sources, deletes skip
missing targets); stage dir without manifest → roll BACK (delete the
stage; the committed table was never touched). ``compact_files`` calls
it first, so a crashed compaction self-heals on the next attempt.

Single-writer contract (documented; CrawlState folds at a wave boundary):
run compaction offline or behind the crawl's own wave serialization —
a concurrent reader inside the finish window could see both layouts.
The post-compaction layout is FLAT (wave=K fragmentation is what is
being removed); per-row wave provenance lives in the data's own
``wave`` column, not the directory name.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_compaction_manifest.json"
STAGE = "_compacting"
DEFAULT_TARGET = 128 * 1024 * 1024
_EPOCH_RE = re.compile(r"part-compact-e(\d+)-g\d+\.parquet$")


def _next_epoch(files: list[tuple[str, int]]) -> int:
    """1 + the highest compaction epoch among committed files. Output
    names carry this epoch (part-compact-e<E>-g<N>.parquet), so a pass
    can never name an output after a RETAINED file from a prior pass —
    the collision that used to let _finish's os.replace overwrite a
    bystander whose rows were never rewritten. Legacy un-epoched
    part-compact-g<N> names count as epoch 0."""
    best = 0
    for rel, _ in files:
        m = _EPOCH_RE.search(os.path.basename(rel))
        if m:
            best = max(best, int(m.group(1)))
    return best + 1


def commit_json(path: str, obj) -> None:
    """Durably replace ``path`` with ``obj`` as JSON: a temp file in the
    same dir is fsynced, renamed over ``path`` (the atomic commit point)
    and the dir is fsynced, so the rename itself survives a crash. The
    crawl ledger and every compaction manifest commit through here."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=2)
        f.flush()
        os.fsync(f.fileno())  # durable before the rename
    os.replace(tmp, path)
    try:  # persist the rename (the directory entry)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass


def stage_one_file(df: DataFrame, table_dir: str, name: str) -> str:
    """Write ``df`` as ONE parquet file staged at ``_compacting/<name>``
    (coalesce(1), then the single part file moved out of its writer
    dir). Returns the staged relpath, for a manifest ``src``."""
    out_tmp = os.path.join(table_dir, STAGE, f"{name}.out")
    df.coalesce(1).write.mode("overwrite").parquet(out_tmp)
    part = [n for n in os.listdir(out_tmp)
            if n.endswith(".parquet") and not n.startswith(("_", "."))]
    assert len(part) == 1, part
    staged_rel = os.path.join(STAGE, name)
    os.replace(os.path.join(out_tmp, part[0]),
               os.path.join(table_dir, staged_rel))
    shutil.rmtree(out_tmp)
    return staged_rel


def data_files(table_dir: str) -> list[tuple[str, int]]:
    """(relpath, size_bytes) of every committed data file, sorted by
    relpath. Staging/metadata (``_``/``.`` prefixed anywhere in the
    relative path) is excluded."""
    out = []
    for root, _dirs, names in os.walk(table_dir):
        rel_root = os.path.relpath(root, table_dir)
        if any(part.startswith(("_", "."))
               for part in rel_root.split(os.sep) if part != "."):
            continue
        for n in names:
            if n.startswith(("_", ".")) or not n.endswith(".parquet"):
                continue
            p = os.path.join(root, n)
            out.append((os.path.relpath(p, table_dir), os.path.getsize(p)))
    return sorted(out)


def _finish(table_dir: str) -> None:
    """Idempotent roll-forward of a committed manifest: stage -> final
    moves, obsolete-input deletes, empty-dir sweep, manifest removal."""
    mpath = os.path.join(table_dir, MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    dsts = {mv["dst"] for mv in manifest["new"]}
    for mv in manifest["new"]:
        src = os.path.join(table_dir, mv["src"])
        dst = os.path.join(table_dir, mv["dst"])
        if os.path.exists(src):
            os.replace(src, dst)
    for rel in manifest["old"]:
        # legacy (pre-epoch) manifests could reuse an input's name for
        # an output: the move above already atomically replaced it —
        # deleting would drop the NEW file
        if rel in dsts:
            continue
        p = os.path.join(table_dir, rel)
        if os.path.exists(p):
            os.remove(p)
    for root, dirs, names in os.walk(table_dir, topdown=False):
        if root == table_dir:
            continue
        # a source dir whose data files were all folded away may still
        # hold writer metadata (_SUCCESS etc.) — that's an empty dir for
        # every reader, and leaving it breaks partition-discovery reads
        leftovers = [n for n in names if n.startswith(("_", "."))]
        if not dirs and len(leftovers) == len(names):
            for n in leftovers:
                os.remove(os.path.join(root, n))
            os.rmdir(root)
    shutil.rmtree(os.path.join(table_dir, STAGE), ignore_errors=True)
    os.remove(mpath)


def recover_compaction(table_dir: str) -> str:
    """Settle a possibly-crashed compaction. Returns the action taken:
    'forward' (manifest was committed — finish it), 'rollback' (staged
    but never committed — discard), or 'clean'."""
    if os.path.exists(os.path.join(table_dir, MANIFEST)):
        _finish(table_dir)
        return "forward"
    if os.path.isdir(os.path.join(table_dir, STAGE)):
        shutil.rmtree(os.path.join(table_dir, STAGE))
        return "rollback"
    return "clean"


def _row_counts(table_dir: str,
                files: list[tuple[str, int]]) -> dict[str, int]:
    """relpath -> exact row count, from each file's parquet footer (read
    on the driver: no Spark job). A zero-row part file weighs 0; it
    still joins some group and is GC'd with it."""
    import pyarrow.parquet as pq

    return {rel: pq.read_metadata(os.path.join(table_dir, rel)).num_rows
            for rel, _ in files}


def plan_groups(files: list[tuple[str, int]], capacity: int,
                weights: dict[str, int] | None = None) -> dict[int, list[str]]:
    """group id -> ordered input relpaths, with the packing window
    q_compaction_plan runs through corpus.pack_sequences: files ordered
    by path, each in group ``(weight of the files before it) DIV
    capacity``. The weight is the file's size, or ``weights[relpath]``."""
    groups: dict[int, list[str]] = {}
    before = 0
    for rel, size in sorted(files):
        groups.setdefault(before // int(capacity), []).append(rel)
        before += int(size if weights is None else weights[rel])
    return groups


def compact_files(spark: SparkSession, table_dir: str,
                  capacity: int = DEFAULT_TARGET,
                  by_rows: bool = False,
                  schema: StructType | None = None,
                  include: Callable[[str], bool] | None = None) -> dict:
    """Execute a compaction pass over the data files whose relpath
    ``include`` accepts (default: all). ``schema`` pins the group reads,
    so a rewritten group runs one Spark job (its write) and no footer
    inference. Returns stats: files/bytes before and after, group count,
    rewritten vs retained groups, and the read-amplification ratio
    (files a full-table read must open, before / after)."""
    recover_compaction(table_dir)
    every = data_files(table_dir)
    files = [f for f in every if include is None or include(f[0])]
    stats = {
        "files_before": len(files),
        "bytes_before": sum(s for _, s in files),
    }
    if len(files) <= 1:
        stats.update(files_after=len(files), bytes_after=stats["bytes_before"],
                     groups=len(files), rewritten=0, retained=len(files),
                     read_amplification=1.0)
        return stats
    weights = _row_counts(table_dir, files) if by_rows else None
    groups = plan_groups(files, capacity, weights)
    reader = spark.read if schema is None else spark.read.schema(schema)

    stage = os.path.join(table_dir, STAGE)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    epoch = _next_epoch(every)
    retained_names = set()
    new, old, retained = [], [], 0
    for g in sorted(groups):
        inputs = groups[g]
        if len(inputs) == 1:
            retained += 1
            retained_names.add(inputs[0])
            continue
        dst = f"part-compact-e{epoch}-g{g}.parquet"
        staged_rel = stage_one_file(
            reader.parquet(*[os.path.join(table_dir, rel)
                             for rel in inputs]), table_dir, dst)
        new.append({"src": staged_rel, "dst": dst})
        old.extend(inputs)
    # belt-and-braces: the epoch scheme makes every dst fresh; if that
    # invariant is ever broken, fail BEFORE the commit point (nothing
    # staged is visible, rollback is automatic) rather than overwrite
    # a retained file's rows
    clobbered = {mv["dst"] for mv in new} & retained_names
    assert not clobbered, f"compaction dst collides with retained {clobbered}"

    # COMMIT (crash before = rollback, crash after = roll forward)
    commit_json(os.path.join(table_dir, MANIFEST), {"new": new, "old": old})
    _finish(table_dir)

    after = data_files(table_dir)
    stats.update(
        files_after=len(after),
        bytes_after=sum(s for _, s in after),
        groups=len(groups),
        rewritten=len(new),
        retained=retained,
        read_amplification=round(len(files) / max(len(after), 1), 3),
    )
    return stats
