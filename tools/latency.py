"""Streaming micro-batch latency harness → LATENCY.md.

The reference's real-time loop is a 60 s poll tick
(`/root/reference/app.py:37`, st_autorefresh(interval=60_000)); a
micro-batch engine honors that contract iff every micro-batch completes
in ≪ 60 s and state stays bounded. This harness runs every declared
``stream_*`` query at the bench SF, captures each drain's
StreamingQueryProgress events (recorded by the run sites via
``streaming.progress``), and writes LATENCY.md: per query — streams
started, micro-batches executed, max/mean batch duration, peak state
rows and state memory. Exits 1 if any batch duration breaches the 60 s
budget (at fixture scale the margin should be ~100×).

Multi-batch coverage: the single-file fixture drains in one
micro-batch; to measure REPEATED-batch behavior (state growth across
commits) the events fixture is also split into 4 chunk files in a temp
dir and re-drained for the file-source stateful queries, so the
artifact shows batch-over-batch durations and a bounded state curve.

Usage::

    python tools/latency.py                     # sf0.1, writes LATENCY.md
    SPARK_GRAFT_SF_DIR=... python tools/latency.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from real_time_big_data_architect_spark.session import get_spark  # noqa: E402
from real_time_big_data_architect_spark.streaming import progress  # noqa: E402

TICK_BUDGET_MS = 60_000  # the reference's poll interval

_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "LATENCY.md"
)
_LIVE_TICK_HEADING = "## Live tick"


def _summarize(events: list[dict]) -> dict:
    durs = []
    state_rows = 0
    state_mem = 0
    for e in events:
        d = e.get("durationMs", {}) or {}
        if "triggerExecution" in d:
            durs.append(float(d["triggerExecution"]))
        for so in e.get("stateOperators", []) or []:
            state_rows = max(state_rows, int(so.get("numRowsTotal", 0) or 0))
            state_mem = max(
                state_mem, int(so.get("memoryUsedBytes", 0) or 0)
            )
    return {
        "batches": len(durs),
        "max_ms": max(durs) if durs else 0.0,
        "mean_ms": statistics.fmean(durs) if durs else 0.0,
        "state_rows": state_rows,
        "state_mem": state_mem,
    }


def _split_events(spark, sf_dir: str, tmp: str, n: int = 4) -> None:
    """Write the events fixture as n single-file chunks (events0..n-1)
    so the maxFilesPerTrigger=1 file source executes n micro-batches."""
    import glob
    import shutil

    from real_time_big_data_architect_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.count()
    per = (rows + n - 1) // n
    pdf = ev.toPandas()
    os.makedirs(tmp, exist_ok=True)
    for k in range(n):
        chunk = pdf.iloc[k * per : (k + 1) * per]
        sdir = os.path.join(tmp, f"chunk{k}.dir")
        spark.createDataFrame(chunk, schema=ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sdir)
        part = glob.glob(os.path.join(sdir, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(tmp, f"events{k}.parquet"))
        shutil.rmtree(sdir)


#: file-source stateful queries re-run over the 4-chunk corpus for the
#: multi-batch state curve, including the stream-stream joins (both
#: sides stream the same chunked dir, so watermark eviction across
#: commits is exercised; CDC/poll queries manage their own inputs)
MULTI_BATCH = (
    "stream_tumbling_watermark",
    "stream_session_watermark",
    "stream_sliding_watermark",
    "stream_dedup_watermark",
    "stream_stateful_counts",
    "stream_stateful_final",
    "stream_topk_complete",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_stream_full_outer",
)

#: scaled multi-batch passes (r7 verdict item 3): the watermark-
#: bounded-state claim measured, not asserted — the SAME 4-chunk drain
#: over ×4 and ×16 event corpora (disjoint-user, disjoint-time copies,
#: the scalecheck convention) must show peak state rows SUBLINEAR in
#: input (state tracks the watermark horizon, not corpus volume) and
#: max batch duration still ≪ the 60 s tick. ×16 runs the stateful
#: core; the stream-stream joins run ×4 plus ONE ×64 row for
#: stream_stream_join (r10 verdict item 6: the pair-buffer state bound
#: is exactly the claim a 100 TB deployment lives or dies on — one
#: far-scale point closes the family's asymptotic-evidence gap; the
#: two outer variants share the identical buffer/eviction machinery).
SCALED_MULTS = (4, 16, 64)
SCALED_X16 = (
    "stream_tumbling_watermark",
    "stream_session_watermark",
    "stream_sliding_watermark",
    "stream_dedup_watermark",
    "stream_stateful_counts",
    "stream_stateful_final",
    "stream_topk_complete",
)
SCALED_X64 = ("stream_stream_join",)


def _split_scaled_events(
    spark, sf_dir: str, tmp: str, mult: int, n: int = 4
) -> int:
    """Write events ×mult (user/ts-offset copies — disjoint users in
    disjoint 20-year time ranges, the scalecheck replica convention)
    as n chunk files; returns the scaled row count."""
    import functools
    import glob
    import shutil

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from real_time_big_data_architect_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # corpus-derived copy stride (same fix as the phash planted
    # offsets): a fixed 10M stride would silently collide ids and
    # misassign the event_id-range chunk filter on a larger fixture
    stride_row = ev.agg(
        F.greatest(F.max("event_id"), F.max("user_id")).alias("m")
    ).first()
    stride = int(stride_row.m) + 1
    # 90-day copy spacing: far beyond every watermark/session horizon
    # (fixture span 30 days, watermarks ≤ 10 min) so copies are
    # time-disjoint, but small enough that ×16 stays inside pandas'
    # datetime64[ns] year-2262 bound (applyInPandasWithState converts
    # event times through pandas — scalecheck's 20-year spacing
    # overflows it at ×16)
    copies = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(c * stride))
        .withColumn("user_id", F.col("user_id") + F.lit(c * stride))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {c * 90} DAYS"))
        for c in range(mult)
    ]
    scaled = functools.reduce(DataFrame.unionByName, copies)
    os.makedirs(tmp, exist_ok=True)
    # one chunk file per mult/n consecutive copies: chunks advance in
    # event time like a real ingest (watermark moves forward batch
    # over batch, which is exactly the eviction path under test)
    per = max(1, mult // n)
    total = 0
    for k in range(n):
        lo, hi = k * per * stride, (k + 1) * per * stride
        chunk = scaled.filter(
            (F.col("event_id") >= lo)
            & (F.col("event_id") < (hi if k < n - 1 else mult * stride))
        )
        sdir = os.path.join(tmp, f"chunk{k}.dir")
        chunk.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = glob.glob(os.path.join(sdir, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(tmp, f"events{k}.parquet"))
        shutil.rmtree(sdir)
        total += 1
    return scaled.count()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("latency")
    qs = entrymod.queries()
    streamers = {k: v for k, v in qs.items() if k.startswith("stream_")}
    rows: list[tuple[str, str, dict, float]] = []
    fails: list[str] = []
    for name, fn in streamers.items():
        mark = progress.mark()
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001
            fails.append(f"{name}: {str(exc)[:150]}")
            continue
        wall = time.perf_counter() - t0
        captured = progress.since(mark)
        merged: list[dict] = []
        for _, events in captured:
            merged.extend(events)
        rows.append((name, "fixture", _summarize(merged), wall))

    # multi-batch pass: 4-chunk corpus, maxFilesPerTrigger=1 → 4+ batches
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        _split_events(spark, sf_dir, tmp, n=4)
        for name in MULTI_BATCH:
            if name not in streamers:
                continue
            mark = progress.mark()
            t0 = time.perf_counter()
            try:
                streamers[name](spark, tmp).collect()
            except Exception as exc:  # noqa: BLE001
                fails.append(f"{name} (multi): {str(exc)[:150]}")
                continue
            wall = time.perf_counter() - t0
            merged = []
            for _, events in progress.since(mark):
                merged.extend(events)
            rows.append((name, "4-chunk", _summarize(merged), wall))

    # scaled multi-batch passes: state-boundedness MEASURED as input
    # grows (r7 verdict item 3) — see SCALED_MULTS/SCALED_X16 notes
    for mult in SCALED_MULTS:
        names = (
            MULTI_BATCH
            if mult == 4
            else (SCALED_X16 if mult == 16 else SCALED_X64)
        )
        with tempfile.TemporaryDirectory() as tmp:
            _split_scaled_events(spark, sf_dir, tmp, mult, n=4)
            for name in names:
                if name not in streamers:
                    continue
                mark = progress.mark()
                t0 = time.perf_counter()
                try:
                    streamers[name](spark, tmp).collect()
                except Exception as exc:  # noqa: BLE001
                    fails.append(f"{name} (x{mult}): {str(exc)[:150]}")
                    continue
                wall = time.perf_counter() - t0
                merged = []
                for _, events in progress.since(mark):
                    merged.extend(events)
                rows.append(
                    (name, f"x{mult}-4chunk", _summarize(merged), wall)
                )

    # TWS amortization (r8 verdict item 7): the ~1.4 s per-QUERY
    # Python-worker spawn floor (StreamingPythonRunner, jstack-verified
    # in ROUND8_NOTES) must be a fixed cost, not a per-tick tax. Drive
    # N≥10 ticks through ONE long-lived transformWithStateInPandas
    # query (12 chunk files, maxFilesPerTrigger=1 → 12 micro-batches in
    # one query) and report batch 1 (carries the spawn) vs the marginal
    # per-tick latency of batches 2..N.
    tws_amort: dict | None = None
    if "stream_transform_with_state" in streamers:
        with tempfile.TemporaryDirectory() as tmp:
            _split_events(spark, sf_dir, tmp, n=12)
            mark = progress.mark()
            t0 = time.perf_counter()
            try:
                streamers["stream_transform_with_state"](spark, tmp).collect()
                wall = time.perf_counter() - t0
                durs: list[float] = []
                for _, events in progress.since(mark):
                    for e in events:
                        d = e.get("durationMs", {}) or {}
                        if "triggerExecution" in d:
                            durs.append(float(d["triggerExecution"]))
                if len(durs) >= 10:
                    tws_amort = {
                        "ticks": len(durs),
                        "batch1_ms": durs[0],
                        "marginal_mean_ms": statistics.fmean(durs[1:]),
                        "marginal_max_ms": max(durs[1:]),
                        "wall_s": wall,
                    }
                else:
                    fails.append(
                        f"tws_amortization: only {len(durs)} ticks observed"
                    )
            except Exception as exc:  # noqa: BLE001
                fails.append(f"tws_amortization: {str(exc)[:150]}")

    breaches = [
        (n, s) for n, _, s, _ in rows if s["max_ms"] >= TICK_BUDGET_MS
    ]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # the live-tick section is composed from perfbench traces, not by
    # this harness: carry it over when rewriting the file
    live_tick = ""
    if os.path.exists(_OUT):
        with open(_OUT) as fh:
            text = fh.read()
        if _LIVE_TICK_HEADING in text:
            live_tick = text[text.index(_LIVE_TICK_HEADING):]
    with open(_OUT, "w") as fh:
        fh.write(
            "# LATENCY — streaming micro-batch durations vs the 60 s tick"
            " budget\n\n"
            f"SF: {sf}; budget: {TICK_BUDGET_MS} ms per micro-batch (the"
            " reference's poll interval, app.py:37). `batches` counts"
            " progress events with a triggerExecution duration (incl."
            " the no-data finalization batch availableNow appends);"
            " state columns are the PEAK across batches — bounded state"
            " across the 4-chunk drain is the leak check. x4/x16 rows"
            " drain the SAME 4-chunk shape over scaled event corpora"
            " (disjoint-user/disjoint-time copies). Bounded-state"
            " criterion by operator class: watermark-gated operators"
            " (tumbling/sliding/session/dedup) must peak at the"
            " WATERMARK HORIZON — the active keys of one chunk — not"
            " the cumulative drain (e.g. dedup x16: 1.6M rows drained,"
            " peak 30k state rows = one chunk's horizon); per-key"
            " counters (stateful_counts/final) peak at KEY cardinality"
            " by contract (their docstrings say so), which is why the"
            " key-disjoint corpus shows them linear in copies while"
            " every watermarked operator stays at horizon size. Max"
            " batch duration must stay ≪ budget throughout. The three"
            " stream-stream joins run the scaled pass at x4, plus one"
            " x64 row for stream_stream_join: its peak pair-buffer"
            " state must sit at the watermark horizon (one chunk's"
            " join-key population) even at 64x the corpus — the outer"
            " variants share the identical buffer/eviction machinery,"
            " so one far-scale point covers the family.\n\n"
            "| query | corpus | batches | max batch ms | mean ms |"
            " peak state rows | peak state MB | wall s |\n"
            "|---|---|---:|---:|---:|---:|---:|---:|\n"
        )
        for name, corpus, s, wall in sorted(rows):
            fh.write(
                f"| {name} | {corpus} | {s['batches']} |"
                f" {s['max_ms']:.0f} | {s['mean_ms']:.0f} |"
                f" {s['state_rows']} | {s['state_mem'] / 1e6:.2f} |"
                f" {wall:.1f} |\n"
            )
        if tws_amort is not None:
            fh.write(
                "\n## TWS spawn-floor amortization (one long-lived"
                " query, 12 ticks)\n\n"
                "transformWithStateInPandas pays a ~1.4 s per-QUERY"
                " Python-worker spawn (StreamingPythonRunner,"
                " ROUND8_NOTES); a production stream pays it once per"
                " restart, not per tick. Measured on ONE query"
                " draining 12 chunk files (one micro-batch each):\n\n"
                f"- ticks: {tws_amort['ticks']}\n"
                f"- batch 1 (carries session+query spawn):"
                f" {tws_amort['batch1_ms']:.0f} ms\n"
                f"- marginal tick (batches 2+): mean"
                f" {tws_amort['marginal_mean_ms']:.0f} ms, max"
                f" {tws_amort['marginal_max_ms']:.0f} ms\n"
                f"- fixed first-batch overhead (batch 1 − marginal"
                f" mean): {tws_amort['batch1_ms'] - tws_amort['marginal_mean_ms']:.0f} ms"
                " = spawn + codegen + state-store bring-up, paid ONCE"
                " per query\n"
                f"- whole-drain wall: {tws_amort['wall_s']:.1f} s\n\n"
                "The marginal tick is the honest steady-state number"
                " at production tick rates (its floor here is the"
                " per-partition RocksDB open/commit at"
                " TWS_SHUFFLE_PARTITIONS=16, data-independent at"
                " fixture scale); the spawn floor is a per-query"
                " constant, amortized to ~0 across ticks.\n"
            )
        if fails:
            fh.write("\n## failures\n\n")
            for f in fails:
                fh.write(f"- {f}\n")
        fh.write(
            f"\nmax batch duration observed:"
            f" {max((s['max_ms'] for _, _, s, _ in rows), default=0):.0f} ms"
            f" — {'BREACHES' if breaches else 'well inside'} the"
            f" {TICK_BUDGET_MS} ms budget.\n"
        )
        if live_tick:
            fh.write("\n" + live_tick)
    print(f"wrote {_OUT}: {len(rows)} runs, {len(fails)} failures,"
          f" {len(breaches)} budget breaches")
    for f in fails:
        print(" FAIL", f)
    spark.stop()
    return 1 if (fails or breaches) else 0


if __name__ == "__main__":
    sys.exit(main())
