"""crawl_wide and crawl_revisit: the production wave loop driven through
``CrawlRun.init_from_seeds`` / ``run_wave`` / ``run``, checked against
``crawl.simulator.simulate_crawl``."""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import shutil
import statistics
import time
from functools import partial

import numpy as np

import harness as H
import inputs
import metrics as M

SHAPES = {
    # volume: hundreds of Zipf hosts, budget-saturated waves, mostly-new
    # discoveries (the shuffled anti-join: seen:candidate 1:1 to 2:1)
    "crawl_wide": dict(n_seeds=20_000, n_link_seeds=0, n_hosts=600,
                       budget=8, fanout=4, n_waves=2, compact_every=8,
                       restore=False),
    # steady state: a large committed seen set restored per rep, small
    # waves on one host (the reversed broadcast anti-join: seen:candidate
    # >= 50:1), most seeds drawn from the link space so a large share of
    # discoveries is already seen; compaction fires in the rep
    "crawl_revisit": dict(n_seeds=20_000, n_link_seeds=50_000, n_hosts=1,
                          budget=100, fanout=8, n_waves=3, compact_every=2,
                          restore=True),
}
WARMUP = dict(n_seeds=2_000, n_hosts=8, budget=8, fanout=4)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def oracle(urls: list[str], shape: dict) -> dict:
    """Single-node expected outputs: schedule log, md5 keys of the seed part
    and of the discovered part of the seen set, page-text bytes."""
    from llm_scraper_spark.crawl.simulator import simulate_crawl
    from llm_scraper_spark.sources.synthetic import synth_page

    out = simulate_crawl(urls, shape["n_waves"], budget=shape["budget"],
                         fetch_fn=partial(synth_page, n_hosts=shape["n_hosts"],
                                          fanout=shape["fanout"]))
    seeds = set(urls)
    enqueued = ([(seq, raw) for _w, seq, raw in out["schedule_log"]]
                + [(p[0], p[1]) for p in out["pending"]])
    per_wave = [0] * shape["n_waves"]
    for w, _s, _u in out["schedule_log"]:
        per_wave[w] += 1
    return {
        "schedule": out["schedule_log"],
        "seed_md5": {_md5(raw) for _s, raw in enqueued if raw in seeds},
        "new_md5": {_md5(raw) for _s, raw in enqueued if raw not in seeds},
        "next_seq": out["next_seq"],
        "scheduled_per_wave": per_wave,
        "content_mb": sum(len(c.encode("utf-8"))
                          for _u, c, _m in out["documents"]) / 1e6,
    }


def _timed_oracle(urls, shape):
    t = time.perf_counter()
    out = oracle(urls, shape)
    return out, time.perf_counter() - t


def _state_bytes(path: str) -> dict:
    """(files, bytes) per table dir of a state dir; data files only."""
    out = {}
    for table in sorted(os.listdir(path)):
        tdir = os.path.join(path, table)
        if not os.path.isdir(tdir):
            continue
        files = size = 0
        for dp, _ds, fs in os.walk(tdir):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dp, f))
        out[table] = (files, size)
    return out


def check_rep(run, expect: dict, shape: dict) -> tuple[list[str], int]:
    """Oracle comparison of one rep's committed state; returns
    (mismatches, pages fetched ok=false)."""
    from pyspark.sql import functions as F

    st = run.state
    errors = []
    sched = st.read_all("schedule_log").select("wave", "seq", "url").collect()
    e = M.schedule_mismatch([tuple(r) for r in sched], expect["schedule"])
    if e:
        errors.append(e)
    seen = st.read_seen(shape["n_waves"])
    first = 0 if not shape["restore"] else 1
    got = {r[0] for r in seen.where(F.col("first_seen_wave") >= first)
           .select("key_hex").collect()}
    want = expect["new_md5"] | (expect["seed_md5"] if first == 0 else set())
    e = M.set_mismatch("seen set", got, want)
    if e:
        errors.append(e)
    ledger = st.read_ledger()
    if ledger["next_seq"] != expect["next_seq"]:
        errors.append(f"next_seq {ledger['next_seq']} != oracle "
                      f"{expect['next_seq']}")
    failed = st.read_all("metrics").agg(F.sum("fetch_failed")).first()[0]
    return errors, int(failed or 0)


def run(args, t_start: float, tracer) -> dict:
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher

    shape = SHAPES[args.workload]
    work = H.work_dir(args.workload)
    H.configure_env(work)
    info = {"host": H.host_info(), "shape": shape}
    info["cpu_probe_before"] = H.cpu_probe()

    urls = inputs.crawl_seed_urls(args.seed, shape["n_seeds"],
                                  shape["n_hosts"], shape["n_link_seeds"])
    # the oracle runs in a child forked before the JVM exists, while the
    # session starts and warms up; it is joined before the first timed rep
    pool = mp.get_context("fork").Pool(1)
    pending_oracle = pool.apply_async(_timed_oracle, (urls, shape))

    t = time.perf_counter()
    spark = H.start_spark(work, event_log=bool(args.trace))
    info["session_s"] = time.perf_counter() - t
    fetcher = synthetic_fetcher(n_hosts=shape["n_hosts"], fanout=shape["fanout"])

    def new_run(path):
        return CrawlRun(spark, path, fetcher=fetcher,
                        default_budget=shape["budget"],
                        compact_every=shape["compact_every"])

    t = time.perf_counter()
    errors: list[str] = []
    base = os.path.join(work, "base")
    if shape["restore"]:
        # the committed seed state every rep resumes from; warm-up is one
        # wave on a throwaway copy of it
        new_run(base).init_from_seeds(inputs.seeds_frame(spark, urls))
        shutil.copytree(base, os.path.join(work, "warmup"))
        new_run(os.path.join(work, "warmup")).run(1)
    else:
        # warm-up: a tiny crawl through the same code paths
        warm = inputs.crawl_seed_urls(args.seed + 1, WARMUP["n_seeds"],
                                      WARMUP["n_hosts"])
        CrawlRun(spark, os.path.join(work, "warmup"),
                 fetcher=synthetic_fetcher(n_hosts=WARMUP["n_hosts"],
                                           fanout=WARMUP["fanout"]),
                 default_budget=WARMUP["budget"]).run(
            1, seeds=inputs.seeds_frame(spark, warm))
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
    info["warmup_s"] = time.perf_counter() - t

    # set-up ends here: it excludes the wait for the oracle and the
    # restored-state check against it
    fixed_setup = time.perf_counter() - t_start
    expect, oracle_s = pending_oracle.get()
    pool.close()
    pool.join()
    if shape["restore"]:
        got = {x[0] for x in new_run(base).state.read_seen(0)
               .select("key_hex").collect()}
        e = M.set_mismatch("restored seen set", got, expect["seed_md5"])
        if e:
            errors.append(e)

    reps, input_setup = [], []
    t_measure = time.perf_counter()
    n_reps_max = 2 if args.trace else 10_000
    while len(reps) < n_reps_max:
        rep_dir = os.path.join(work, f"rep{len(reps)}")
        traced = bool(args.trace) and len(reps) == 1
        tracer.enabled = traced
        t = time.perf_counter()
        if shape["restore"]:
            shutil.copytree(base, rep_dir)
        else:
            seeds = inputs.seeds_frame(spark, urls)
        input_setup.append(time.perf_counter() - t)

        rep = {"traced": traced, "dir": rep_dir, "waves": [], "windows": [],
               "seed_init_s": 0.0, "stats": []}
        t0 = time.perf_counter()
        crawl = new_run(rep_dir)
        n_seeded = 0
        raised = None
        try:
            if not shape["restore"]:
                ti = time.perf_counter()
                n_seeded = crawl.init_from_seeds(seeds)["seeded"]
                rep["seed_init_s"] = time.perf_counter() - ti
            for w in range(shape["n_waves"]):
                tw, ew = time.perf_counter(), time.time()
                try:
                    s = crawl.run_wave(w)
                except Exception as exc:  # counted, never hidden
                    raised = (w, repr(exc))
                    break
                rep["waves"].append(time.perf_counter() - tw)
                rep["windows"].append((ew, time.time()))
                rep["stats"].append(s)
            crawl.run(shape["n_waves"] if raised is None else 0)
        except Exception as exc:
            raised = raised or (-1, repr(exc))
        rep["wall"] = time.perf_counter() - t0
        tracer.enabled = False

        # a wave that raised counts every page the oracle schedules in it
        raised_wave = raised is not None and raised[0] >= 0
        per_wave = expect["scheduled_per_wave"]
        rep["attempted"] = sum(per_wave[:len(rep["stats"]) + raised_wave])
        rep["failed"] = per_wave[raised[0]] if raised_wave else 0
        if raised is not None:
            errors.append(f"rep {len(reps)}: wave {raised[0]} raised "
                          f"{raised[1]}")
        else:
            errs, failed_pages = check_rep(crawl, expect, shape)
            errors.extend(f"rep {len(reps)}: {e}" for e in errs)
            rep["failed"] = failed_pages
            sched = sum(s["scheduled"] for s in rep["stats"])
            disc = sum(s["discovered"] for s in rep["stats"])
            ok_pages = sched - failed_pages
            rep["pages_per_s"] = ok_pages / sum(rep["waves"])
            rep["mb_per_s"] = expect["content_mb"] / sum(rep["waves"])
            rep["urlops_per_s"] = (n_seeded + sched + disc) / rep["wall"]
            sizes = _state_bytes(rep_dir)
            rep["state_bytes_per_url"] = (sum(b for _f, b in sizes.values())
                                          / crawl.state.read_ledger()["next_seq"])
            rep["sizes"] = sizes
        reps.append(rep)
        if not args.trace:
            shutil.rmtree(rep_dir, ignore_errors=True)
            elapsed = time.perf_counter() - t_measure
            if elapsed + rep["wall"] > args.seconds:
                break

    ok_reps = [r for r in reps if "pages_per_s" in r]
    all_waves = [x for r in ok_reps for x in r["waves"]]
    info["oracle_s"] = oracle_s
    info["reps"] = len(reps)
    result = {
        "correct": not errors and bool(ok_reps),
        "attempted": max(1, sum(r["attempted"] for r in reps)),
        "failed": sum(r["failed"] for r in reps),
        "errors": errors,
        "info": info,
    }
    per_rep = {
        "pages_per_s": ("1/s", [r["pages_per_s"] for r in ok_reps]),
        "mb_per_s": ("MB/s", [r["mb_per_s"] for r in ok_reps]),
        "call_s_p50": ("s", all_waves),
        "urlops_per_s": ("1/s", [r["urlops_per_s"] for r in ok_reps]),
        "state_bytes_per_url": ("B", [r["state_bytes_per_url"]
                                      for r in ok_reps]),
        "seed_init_s": ("s", [r["seed_init_s"] for r in ok_reps]),
        "resume_s": ("s", [r["waves"][0] for r in ok_reps if r["waves"]]),
    }
    result["samples"] = per_rep
    result["setup_s"] = fixed_setup + statistics.median(input_setup)

    if args.trace and ok_reps:
        result["layers"] = _layers(spark, tracer, reps, shape, expect, args)
    peak = H.stop_spark(spark)
    if args.trace and ok_reps:
        log = H.read_event_log(work)
        windows = [w for r in ok_reps for w in r["windows"]]
        result["layers"].update(H.spark_layer(log, windows))
        tracer.dump(os.path.join(H.WORK, f"spans-{args.workload}-"
                                          f"seed{args.seed}.json"))
    info["mem.peak_rss_mb"] = peak
    info["cpu_probe_after"] = H.cpu_probe()
    shutil.rmtree(work, ignore_errors=True)
    return result


def _layers(spark, tracer, reps, shape, expect, args) -> dict:
    """Per-layer figures from the traced rep's spans and timings, plus
    standalone timings over its final state."""
    import pandas as pd
    from pyspark.sql import functions as F

    from llm_scraper_spark.crawl.state import CrawlState
    from llm_scraper_spark.operators import frontier as frontier_ops
    from llm_scraper_spark.operators import seen as seen_ops

    med = H.median_or_zero
    untraced = [r for r in reps if not r["traced"] and "pages_per_s" in r]
    traced = [r for r in reps if r["traced"] and "pages_per_s" in r]
    tr = traced[-1] if traced else untraced[-1]
    base = untraced[-1] if untraced else tr
    out = {}

    # crawl.waves: run_wave's own timings, all waves of the run
    timings = [(wall, s["timings"]) for r in reps if "pages_per_s" in r
               for wall, s in zip(r["waves"], r["stats"])]
    for key in ("schedule", "fetch", "bloom_standing", "discover_dedup",
                "unseen_seq", "state_writes", "compact_frontier"):
        vals = [t[key] for _w, t in timings if key in t]
        out[f"waves.{key}_s"] = med(vals)
    out["waves.unattributed_s"] = med(M.unattributed_s(w, t)
                                      for w, t in timings)

    # end-to-end figures that exist only for the crawl workloads
    out["crawl.seed_init_s"] = base["seed_init_s"]
    out["crawl.resume_s"] = base["waves"][0] if shape["restore"] else 0.0
    out["crawl.urlops_per_s"] = base["urlops_per_s"]
    out["crawl.state_bytes_per_url"] = base["state_bytes_per_url"]
    out["trace.overhead_share"] = tr["wall"] / base["wall"] - 1.0

    # spans of the traced rep
    waves = tracer.named("crawl.run_wave")
    per_wave_write = [sum(c["end"] - c["start"]
                          for c in tracer.children(w["id"], "state.write"))
                      for w in waves]
    out["state.write_s"] = med(per_wave_write)
    out["state.commit_wave_s"] = med(s["end"] - s["start"] for s in
                                     tracer.named("state.commit_wave"))
    out["frontier.assign_global_seq_s"] = med(
        sum(c["end"] - c["start"]
            for c in tracer.children(w["id"], "frontier.assign_global_seq"))
        for w in waves)
    out["seen.bloom_build_s"] = med(s["end"] - s["start"] for s in
                                    tracer.named("seen.bloom_build"))
    out["seen.bloom_delta_s"] = med(s["end"] - s["start"] for s in
                                    tracer.named("seen.bloom_delta"))

    # seen: ledger ratios of the traced rep
    ratios, disc, new = [], 0, 0
    prev = None
    st = CrawlState(spark, tr["dir"])
    for w in st.read_ledger()["waves"]:
        if w["wave"] >= 0 and prev is not None:
            ratios.append(prev / max(w["discovered"], 1))
            disc += w["discovered"]
            new += w["deduped_new"]
        prev = w["next_seq"]
    out["seen.seen_to_candidate"] = med(ratios)
    out["seen.dup_share"] = 1.0 - new / max(disc, 1)

    # standalone reads of the final state into a noop sink
    def noop(df):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    n = shape["n_waves"]
    out["state.read_pending_s"] = noop(st.read_pending(n))
    out["state.read_seen_s"] = noop(st.read_seen(n))
    out["frontier.schedule_wave_s"] = noop(frontier_ops.schedule_wave(
        st.read_pending(n), None, shape["budget"]))
    for table, (files, size) in sorted(tr["sizes"].items()):
        out[f"state.files.{table}"] = files
        out[f"state.mb.{table}"] = size / 1e6
    out["state.compact_frontier_s"] = med(
        s["end"] - s["start"] for s in tracer.named("state.compact_frontier"))

    # Bloom false-positive rate over hashes known to be absent
    seen_hashes = np.array([r[0] for r in st.read_seen(n)
                            .select("url_hash").collect()], dtype=np.int64)
    rng = np.random.default_rng([args.seed, 3])
    probe = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                         50_000, dtype=np.int64)
    probe = probe[~np.isin(probe, seen_hashes)]
    bloom = seen_ops.build_bloom_distributed(
        st.read_seen(n), capacity=max(4 * len(seen_hashes), 100_000))
    tagged = seen_ops.bloom_tag(
        spark.createDataFrame(pd.DataFrame({"url_hash": probe})), bloom)
    out["seen.bloom_fpp"] = float(tagged.agg(
        F.avg(F.col("_maybe_seen").cast("double"))).first()[0] or 0.0)

    out.update(fetch_layer(expect, shape))
    return out


def fetch_layer(expect: dict, shape: dict, max_pages: int = 2_000) -> dict:
    """The fused fetch crossing's components, single process, on this
    workload's own scheduled URLs."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from llm_scraper_spark.crawl.waves import FETCH_FUSED_DDL
    from llm_scraper_spark.functions.urls import canonicalize_batch
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)
    from llm_scraper_spark.sources.synthetic import synth_page

    urls = [u for _w, _s, u in expect["schedule"][:max_pages]]
    n = len(urls)
    t = time.perf_counter()
    pages = [synth_page(u, n_hosts=shape["n_hosts"], fanout=shape["fanout"])
             for u in urls]
    synth = time.perf_counter() - t
    canon = canonicalize_batch(pd.Series(urls))["canonical_url"].tolist()
    t = time.perf_counter()
    chunks = [chunk_by_token_estimate(p["content"]) for p in pages]
    chunk = time.perf_counter() - t
    t = time.perf_counter()
    doc_ids = [doc_id_for_url(c) for c in canon]
    doc_id = time.perf_counter() - t
    links = [u for p in pages for u in p["outlinks"]]
    t = time.perf_counter()
    cdf = canonicalize_batch(pd.Series(links))
    canon_links = time.perf_counter() - t
    spans = [interleave_spans(c, p["media_refs"]) for c, p in zip(chunks, pages)]
    structs, i = [], 0
    lc, lh = cdf["canonical_url"].tolist(), cdf["host"].tolist()
    for p in pages:
        k = len(p["outlinks"])
        structs.append([{"url": p["outlinks"][j], "canonical_url": lc[i + j],
                         "host": lh[i + j]} for j in range(k)])
        i += k
    frame = pd.DataFrame({
        "url": urls, "canonical_url": canon,
        "host": [u.split("/")[2] for u in urls], "salt": 0,
        "url_hash": np.arange(n, dtype=np.int64), "priority": 1.0,
        "wave": 0, "seq": np.arange(n, dtype=np.int64), "doc_id": doc_ids,
        "spans": spans, "outlinks_canon": structs, "ok": True,
    })
    schema = to_arrow_schema(_parse_datatype_string(FETCH_FUSED_DDL))
    t = time.perf_counter()
    pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
    arrow = time.perf_counter() - t
    out = {
        "fetch.synth_page_us": synth / n * 1e6,
        "fetch.chunk_us": chunk / n * 1e6,
        "fetch.doc_id_us": doc_id / n * 1e6,
        "fetch.canonicalize_us_per_link": canon_links / max(len(links), 1) * 1e6,
        "fetch.arrow_us": arrow / n * 1e6,
    }
    out.update(chunker_layer([p["content"] for p in pages], chunk, chunks))
    return out


def chunker_layer(texts, seconds: float, chunks) -> dict:
    n = len(texts)
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    return {
        "chunker.ms_per_page": seconds / n * 1e3,
        "chunker.mb_per_s": mb / seconds if seconds else 0.0,
        "chunker.chunks_per_page": sum(len(c) for c in chunks) / n,
        "chunker.single_chunk_share": sum(len(c) == 1 for c in chunks) / n,
    }
