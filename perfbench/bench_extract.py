"""extract_large: ``extract_documents`` over large generated HTML pages,
checked against the single-process extract_article -> chunker -> interleave
path."""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import statistics
import time

import bench_crawl
import harness as H
import inputs
import metrics as M

SHAPE = dict(n_pages=32, n_domains=8, min_kb=100, max_kb=300)


def _expected(page_and_config):
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)
    from llm_scraper_spark.operators.extraction.pipeline import extract_article

    page, config = page_and_config
    rec = extract_article(page["raw_html"], page["url"], config)
    if rec["status"] != "ok":
        return page["url"], None
    spans = interleave_spans(chunk_by_token_estimate(rec["content"]),
                             rec["media_refs"])
    return page["url"], (doc_id_for_url(page["url"]), M.spans_key(spans))


def oracle(pages, configs) -> dict:
    """url -> (doc_id, spans) for pages the single-process path extracts ok,
    computed on nproc forked processes."""
    from llm_scraper_spark.operators.extraction.pipeline import (
        config_for_domain)

    work = [(p, config_for_domain(configs, p["domain"])) for p in pages]
    with mp.get_context("fork").Pool(H.nproc()) as pool:
        rows = pool.map(_expected, work, chunksize=1)
    return {u: v for u, v in rows if v is not None}


def _frame(spark, pages):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(pages))


def run(args, t_start: float, tracer) -> dict:
    from llm_scraper_spark.operators.extraction.pipeline import (
        extract_documents)

    work = H.work_dir(args.workload)
    H.configure_env(work)
    info = {"host": H.host_info(), "shape": SHAPE}
    info["cpu_probe_before"] = H.cpu_probe()
    gen_s = []
    for _ in range(3):  # input generation, set up three times
        t = time.perf_counter()
        pages, configs = inputs.extraction_inputs(args.seed, **SHAPE)
        gen_s.append(time.perf_counter() - t)
    info["n_configs"] = len(configs)
    html_mb = sum(len(p["raw_html"].encode("utf-8")) for p in pages) / 1e6

    t = time.perf_counter()
    expect = oracle(pages, configs)
    oracle_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = H.start_spark(work, event_log=bool(args.trace))
    info["session_s"] = time.perf_counter() - t
    # warm-up: one untimed pass over the same pages (the first full-size
    # pass in a process runs up to half again slower than the next ones)
    t = time.perf_counter()
    warm_dir = os.path.join(work, "warmup")
    extract_documents(_frame(spark, pages), configs).write.mode(
        "overwrite").parquet(warm_dir)
    shutil.rmtree(warm_dir, ignore_errors=True)
    info["warmup_s"] = time.perf_counter() - t
    fixed_setup = (time.perf_counter() - t_start - oracle_s
                   - sum(gen_s) + statistics.median(gen_s))

    frame_s, reps, errors = [], [], []
    t_measure = time.perf_counter()
    n_reps_max = 4 if args.trace else 10_000
    while len(reps) < n_reps_max:
        traced = bool(args.trace) and len(reps) % 2 == 1
        t = time.perf_counter()
        df = _frame(spark, pages)
        frame_s.append(time.perf_counter() - t)
        out_dir = os.path.join(work, f"rep{len(reps)}")
        t0, e0 = time.perf_counter(), time.time()

        def call():
            extract_documents(df, configs).write.mode("overwrite").parquet(
                out_dir)

        if traced:
            tracer.enabled = True
            tracer.span("extract.extract_documents", call, top=True)
            tracer.enabled = False
        else:
            call()
        wall = time.perf_counter() - t0
        window = (e0, time.time())
        rows = spark.read.parquet(out_dir).select(
            "url", "doc_id", "spans").toPandas()
        got = {u: (d, M.spans_key(sp))
               for u, d, sp in zip(rows["url"], rows["doc_id"], rows["spans"])}
        if got != expect:
            bad = sorted(u for u in set(got) | set(expect)
                         if got.get(u) != expect.get(u))
            errors.append(f"rep {len(reps)}: {len(bad)} of {len(pages)} "
                          f"pages differ from the oracle, first {bad[:1]}")
        shutil.rmtree(out_dir, ignore_errors=True)
        reps.append({"wall": wall, "window": window, "traced": traced,
                     "ok": len(got), "failed": len(pages) - len(got)})
        if not args.trace and (time.perf_counter() - t_measure + wall
                               > args.seconds):
            break

    walls = [r["wall"] for r in reps]
    info["oracle_s"] = oracle_s
    info["reps"] = len(reps)
    result = {
        "correct": not errors,
        "attempted": len(pages) * len(reps),
        "failed": sum(r["failed"] for r in reps),
        "errors": errors,
        "info": info,
        "setup_s": fixed_setup + statistics.median(frame_s),
        "samples": {
            "pages_per_s": ("1/s", [len(pages) / w for w in walls]),
            "mb_per_s": ("MB/s", [html_mb / w for w in walls]),
            "call_s_p50": ("s", walls),
        },
    }
    if args.trace:
        result["layers"] = _layers(pages, configs, reps)
    peak = H.stop_spark(spark)
    if args.trace:
        log = H.read_event_log(work)
        result["layers"].update(H.spark_layer(log, [r["window"] for r in reps]))
        tracer.dump(os.path.join(H.WORK, f"spans-{args.workload}-"
                                          f"seed{args.seed}.json"))
    info["mem.peak_rss_mb"] = peak
    info["cpu_probe_after"] = H.cpu_probe()
    shutil.rmtree(work, ignore_errors=True)
    return result


def _layers(pages, configs, reps, n_sample: int = 8) -> dict:
    """Standalone single-process timings of the extraction layers on a
    sample of this workload's pages, plus the traced/untraced ratio."""
    from llm_scraper_spark.operators.chunker import chunk_by_token_estimate
    from llm_scraper_spark.operators.extraction.dom import parse_html
    from llm_scraper_spark.operators.extraction.pipeline import (
        config_for_domain, extract_article)

    sample = pages[:n_sample]
    t = time.perf_counter()
    for p in sample:
        parse_html(p["raw_html"])
    parse = time.perf_counter() - t
    t = time.perf_counter()
    recs = [extract_article(p["raw_html"], p["url"],
                            config_for_domain(configs, p["domain"]))
            for p in sample]
    article = time.perf_counter() - t
    texts = [r.get("content", "") for r in recs if r["status"] == "ok"]
    t = time.perf_counter()
    chunks = [chunk_by_token_estimate(x) for x in texts]
    chunk = time.perf_counter() - t
    traced = [r["wall"] for r in reps if r["traced"]]
    plain = [r["wall"] for r in reps if not r["traced"]]
    out = {
        "extract.parse_ms_per_page": parse / len(sample) * 1e3,
        "extract.article_ms_per_page": article / len(sample) * 1e3,
        "extract.ok_share": sum(r["ok"] for r in reps) / (len(pages) * len(reps)),
        "trace.overhead_share": (statistics.median(traced)
                                 / statistics.median(plain) - 1.0),
    }
    out.update(bench_crawl.chunker_layer(texts, chunk, chunks))
    return out
