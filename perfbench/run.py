"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is a JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it print every metric by name and unit with its quartiles over the run's
reps. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (a separate, traced run).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "crawl_revisit", "extract_large")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import llm_scraper_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import bench_crawl
    import bench_extract
    import harness as H
    import metrics as M
    import tracing

    tracer = tracing.Tracer()
    if args.trace:
        tracing.install_engine_spans(tracer)
    mod = bench_extract if args.workload == "extract_large" else bench_crawl
    try:
        res = mod.run(args, T_START, tracer)
    except BaseException:
        H.abort(args.workload)
        raise
    finally:
        tracer.uninstall()

    info = res["info"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"reps {info['reps']} host {json.dumps(info['host'])}")
    print(f"shape {json.dumps(info['shape'])}"
          + (f" n_configs {info['n_configs']}" if "n_configs" in info else ""))
    print(f"host.cpu_probe_before {info['cpu_probe_before']:.4f} 1/s  "
          f"host.cpu_probe_after {info['cpu_probe_after']:.4f} 1/s  "
          f"mem.peak_rss_mb {info['mem.peak_rss_mb']:.1f} MB  "
          f"oracle_s {info['oracle_s']:.3f} s")
    print(f"setup_s {res['setup_s']:.4f} s  ("
          + "  ".join(f"{k} {info[k]:.3f} s" for k in
                      ("session_s", "warmup_s"))
          + ")")
    for name, (unit, vals) in res["samples"].items():
        if vals:
            q1, med, q3 = M.quartiles(vals)
            print(f"{name} median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} {unit} "
                  f"(n={len(vals)})")
    print(f"failed {res['failed']} of {res['attempted']} attempted "
          f"(share {M.failed_share(res['attempted'], res['failed']):.4g})")
    for e in res["errors"]:
        print(f"MISMATCH {e}")

    metrics = {}
    if args.trace:
        layers = dict(res.get("layers", {}))
        layers["host.cpu_probe_before"] = info["cpu_probe_before"]
        layers["host.cpu_probe_after"] = info["cpu_probe_after"]
        layers["mem.peak_rss_mb"] = info["mem.peak_rss_mb"]
        layers["oracle_s"] = info["oracle_s"]
        for m in spec["per_layer"]:
            # a layer the workload does not run did no work: 0
            v = float(layers.get(m["name"], 0.0))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} {v:.6g} {m['unit']}")
    else:
        values = {"setup_s": res["setup_s"]}
        for name, (_unit, vals) in res["samples"].items():
            if vals:
                values[name] = M.quartiles(vals)[1]
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": values.get(m["name"], 0.0),
                                  "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
