"""Pure-Python tests for bench.py's adaptive-rep headline policy and
its scaling arithmetic.

No Spark: the policy decides, from rep durations alone, whether the
default bench should run another frontier rep (BASELINE.md "Host
regimes" — the shared host flaps between quiet and degraded windows on
a minutes timescale, and one contended cold rep must not set a round's
headline the way round 2's driver run did).
"""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bench.py"),
)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)

want_more = bench._want_more_frontier_reps


def test_always_best_of_two():
    # a fast first rep still gets a confirming second rep
    assert want_more([120.0])


def test_two_quiet_reps_stop():
    assert not want_more([120.0, 130.0])


def test_degraded_reps_keep_going_up_to_four():
    assert want_more([354.0])                      # round-2's exact case
    assert want_more([354.0, 300.0])               # still degraded, 3rd rep
    assert want_more([354.0, 300.0, 210.0])        # 4th rep allowed
    assert not want_more([354.0, 300.0, 210.0, 205.0])  # hard cap at 4


def test_quiet_rep_ends_the_loop():
    # a quiet window between flaps sets the headline and stops the loop
    assert not want_more([354.0, 150.0])


def test_wall_cap_blown_stops_immediately():
    # >= 600s rep: hostile window, bound the driver's bench wall clock
    assert not want_more([640.0])
    assert not want_more([354.0, 640.0, 590.0])  # total 1584 > 900
    assert not want_more([310.0, 320.0, 305.0])  # total 935 > 900 wall


def test_total_wall_budget():
    # under the 900s budget with a degraded best -> another rep
    assert want_more([250.0, 260.0])
    # over it -> stop even though best is degraded
    assert not want_more([450.0, 460.0])


def _leg(thr, hw):
    return {"throughput_urls_per_sec": thr, "hw_units_per_sec": hw}


def test_scaling_summary_raw_normalized_and_medians():
    s = bench.scaling_summary([
        (_leg(100.0, 1.0), _leg(320.0, 4.0)),   # raw 0.8, norm 0.8
        (_leg(100.0, 1.0), _leg(360.0, 3.0)),   # raw 0.9, norm 1.2
        (_leg(200.0, 2.0), _leg(400.0, 4.0)),   # raw 0.5, norm 1.0
    ])
    assert s["levels"] == [1, 4]
    assert s["per_rep_raw"] == [0.8, 0.9, 0.5]
    assert s["per_rep_norm"] == [0.8, 1.2, 1.0]
    assert s["median_raw"] == 0.8
    assert s["median_norm"] == 1.0
    assert s["throughput_urls_per_sec"] == {"1": [100.0, 100.0, 200.0],
                                            "4": [320.0, 360.0, 400.0]}
    assert s["hw_units_per_sec"] == {"1": [1.0, 1.0, 2.0],
                                     "4": [4.0, 3.0, 4.0]}


def test_scaling_summary_drops_a_rep_with_a_failed_leg():
    # a failed leg drops its whole rep: the later reps still pair their
    # own two legs (zipping the two levels' lists would pair rep 1's
    # local[1] leg with rep 2's local[4] leg)
    s = bench.scaling_summary([
        (_leg(100.0, 1.0), None),
        (None, _leg(999.0, 4.0)),
        (_leg(100.0, 1.0), _leg(320.0, 4.0)),
        (_leg(50.0, 1.0), _leg(100.0, 2.0)),
    ])
    assert (s["reps"], s["reps_ok"]) == (4, 2)
    assert s["per_rep_raw"] == [0.8, 0.5]
    assert s["per_rep_norm"] == [0.8, 1.0]
    assert s["median_raw"] == 0.65
    assert s["throughput_urls_per_sec"]["4"] == [320.0, 100.0]


def test_scaling_summary_with_no_complete_rep():
    s = bench.scaling_summary([(None, _leg(1.0, 1.0))])
    assert s["reps_ok"] == 0
    assert s["median_raw"] is None and s["median_norm"] is None


# ---------------------------------------------------------------------------
# ANN recall gates (VERDICT r3 #4): IVF and PQ hold the same >= 0.9
# recall@10 standard as the hyperplane-LSH gate, measured — not assumed —
# on the planted-neighbor corpus (the regime sublinear ANN exists for;
# BENCH/ANN_RECALL.md documents the isotropic-sf0.1 sweeps alongside).
# These need Spark, unlike the policy tests above.
# ---------------------------------------------------------------------------

def test_pq_adc_rerank_recall_gate(spark):
    """Plain ADC cannot order 15 near-identical planted neighbors
    (recall@10 = 0.8 measured); the standard shortlist-30 exact re-rank
    must clear 0.9."""
    from llm_scraper_spark.operators.pq import (
        pq_adc_rerank_topk, pq_encode, pq_fit)
    from llm_scraper_spark.operators.similarity import brute_force_topk
    from tests.test_goldens import _planted_corpus

    qv, rows = _planted_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {r["vec_id"] for r in brute_force_topk(df, qv, k=10).collect()}
    cb = pq_fit(df, m=8, k=8, iters=2, fit_rows=512, dim=32)
    codes = pq_encode(df, cb, m=8, dim=32)
    approx = {r["vec_id"] for r in pq_adc_rerank_topk(
        codes, cb, df, qv, k_top=10, shortlist=30, m=8, dim=32).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.9, f"PQ ADC+rerank recall@10 = {recall}"


def test_ivf_full_probe_exact_on_driver_embeddings(spark):
    """On the driver's sf0.01 embeddings (isotropic — partial-probe
    recall necessarily tracks the probed fraction, see ANN_RECALL.md),
    the invariant that must hold exactly: probing ALL inverted lists
    reproduces brute force bit-for-bit."""
    from llm_scraper_spark.operators.similarity import (
        brute_force_topk, ivf_fit_centroids, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    row0 = emb.orderBy("vec_id").first()
    qv = [float(x) for x in row0["embedding"]]
    cents = ivf_fit_centroids(emb, k_centroids=8, max_iter=3)
    exact = [(r["vec_id"], round(r["cos_sim"], 9))
             for r in brute_force_topk(emb, qv, k=10).collect()]
    full = [(r["vec_id"], round(r["cos_sim"], 9))
            for r in ivf_topk(emb, qv, cents, k=10,
                              nprobe=len(cents)).collect()]
    assert full == exact
