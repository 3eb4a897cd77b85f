"""Pure helpers of the benchmark: summary statistics, wave-time attribution,
event-log parsing and window attribution, and the oracle comparisons.

Nothing here imports Spark or the engine, so ``perfbench/tests`` can pin
this logic without a session.
"""

from __future__ import annotations

import json
import statistics

# run_wave ``timings`` keys that the wave's driver thread spends BLOCKED in,
# in call order. The ``write_*`` keys are submit-to-finish walls of the
# pipelined background writes and ``bloom_delta`` is the part of
# ``bloom_standing`` spent joining the deferred merge, so neither is added.
BLOCKING_PHASES = (
    "schedule", "fetch", "archive_warc", "bloom_standing", "discover_dedup",
    "unseen_seq", "bloom_delta_submit", "next_frontier", "state_writes",
    "compact_frontier", "compact_tables",
)


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single value is its own quartiles."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("quartiles of an empty sample")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def attributed_s(timings: dict) -> float:
    return sum(float(timings.get(k, 0.0)) for k in BLOCKING_PHASES)


def unattributed_s(wave_wall_s: float, timings: dict) -> float:
    """Wall of one ``run_wave`` call not covered by its blocking phases.
    Phase walls are rounded to 1 ms by the engine, so tiny negatives are
    rounding and clamp to 0."""
    return max(0.0, float(wave_wall_s) - attributed_s(timings))


def failed_share(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("attempted must be >= 1")
    return failed / attempted


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def parse_event_log(lines) -> dict:
    """Job and stage submit times and per-task figures from Spark event-log
    JSON lines. Times are epoch seconds; task metrics are seconds and
    bytes."""
    jobs, stages, tasks = {}, {}, []
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = ev.get("Submission Time", 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = ev.get("Stage Info", {})
            key = (si.get("Stage ID"), si.get("Stage Attempt ID", 0))
            stages[key] = si.get("Submission Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            tasks.append({
                "stage": (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0)),
                "start": ti.get("Launch Time", 0) / 1e3,
                "end": ti.get("Finish Time", 0) / 1e3,
                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read_b": (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)),
                "spill_b": (tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0)),
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _in(t: float, window: tuple[float, float]) -> bool:
    return window[0] <= t < window[1]


def attribute_windows(log: dict, windows, n_slots: int) -> list[dict]:
    """Per time window (one engine call each): the jobs, stages and tasks
    that STARTED inside it, their summed executor figures, and the share of
    the window's task slots left idle. A job still running past its window
    (the deferred Bloom merge) belongs to the window it started in."""
    out = []
    for w in windows:
        wall = max(w[1] - w[0], 1e-9)
        tasks = [t for t in log["tasks"] if _in(t["start"], w)]
        stage_keys = {k for k, t in log["stages"].items() if _in(t, w)}
        busy = sum(max(0.0, min(t["end"], w[1]) - max(t["start"], w[0]))
                   for t in log["tasks"] if t["end"] > w[0] and t["start"] < w[1])
        out.append({
            "jobs": sum(1 for t in log["jobs"].values() if _in(t, w)),
            "stages": len(stage_keys),
            "tasks": len(tasks),
            "idle_share": max(0.0, 1.0 - busy / (n_slots * wall)),
            "run_s": sum(t["run_s"] for t in tasks),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
            "stage_keys": stage_keys,
        })
    return out


def stage_skew(log: dict, stage_keys) -> list[float]:
    """max/median task time per stage (stages with >= 2 tasks)."""
    by_stage: dict = {}
    for t in log["tasks"]:
        if t["stage"] in stage_keys:
            by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    out = []
    for durs in by_stage.values():
        if len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                out.append(max(durs) / med)
    return out


# --------------------------------------------------------------------------
# oracle comparisons
# --------------------------------------------------------------------------

def schedule_mismatch(engine_rows, oracle_rows) -> str | None:
    """Compare two schedule logs of (wave, seq, url); None when equal,
    else a one-line description of the first difference."""
    eng = sorted((int(w), int(s), u) for w, s, u in engine_rows)
    ora = sorted((int(w), int(s), u) for w, s, u in oracle_rows)
    if eng == ora:
        return None
    missing = sorted(set(ora) - set(eng))
    extra = sorted(set(eng) - set(ora))
    return (f"schedule log differs: {len(eng)} engine rows vs {len(ora)} "
            f"oracle rows; first missing {missing[:1]}, first extra "
            f"{extra[:1]}")


def set_mismatch(what: str, engine: set, oracle: set) -> str | None:
    if engine == oracle:
        return None
    return (f"{what} differs: {len(engine)} engine vs {len(oracle)} oracle; "
            f"{len(oracle - engine)} missing, {len(engine - oracle)} extra")


def spans_key(spans) -> tuple:
    """The span sequence as comparable (kind, text, media_ref, order)."""
    return tuple((s["kind"], s["text"], s["media_ref"], int(s["offset"]))
                 for s in spans)
