"""Benchmark entry point.

    python3 perfbench/run.py --workload live_poll --seed 1 --seconds 15 --trace 0

Run from the repository root.  Builds one SparkSession at
``local[nproc]``, generates the workload's inputs from ``--seed``, warms
up and checks outputs (``setup_s``), then times the workload for
``--seconds``.  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it is the full report: provenance, every metric under its
workload-specific name, tail percentiles with their sample counts, and,
for a traced run, its overhead against this checkout's untraced runs.
See perfbench/README.md for the workloads and the layer → metric map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: the driver JVM's heap, fixed and pre-touched: the inputs need far
#: less, the host is shared, and a heap that grows on demand makes peak
#: RSS follow GC timing (JVM peak RSS ranged 0.94-1.41 GB over ten
#: runs with a 1 GB cap that was not pre-touched)
HEAP = "1g"

#: tails are reported at this percentile; the report states how many
#: samples lie beyond it
TAIL_PCT = 75

#: per workload: (operation, pass) — the names the report gives
#: op_geomean_s / op_tail_s / pass_s
NAMES = {
    "live_poll": ("tick", "tick_interval"),
    "query_mix": ("query", "mix_pass"),
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS of this process and of the driver JVM."""
    jvms = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return {"bench": _hwm_mb(os.getpid()), "jvm": sum(_hwm_mb(p) for p in jvms)}


def shutdown_jvm() -> None:
    """Stop the JVM gateway and wait until every process this run
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while _descendants(os.getpid()):
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            time.sleep(0.05)


def pct(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _session(work: str, nproc: int, traced: bool):
    from real_time_big_data_architect_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc, extra_conf=conf)
    return spark, time.perf_counter() - t


def _instrument(tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from real_time_big_data_architect_spark.plans import agents
    from real_time_big_data_architect_spark.sources import normalize

    tracer.wrap(normalize, "normalize", "normalize")
    tracer.wrap(agents, "batch_insights", "agents.batch_insights")
    tracer.wrap(DataFrameWriter, "saveAsTable", "tables.saveAsTable")
    tracer.count_py4j()


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(workload: str, res, tracer, log_dir: str, warm: dict, session_s: float) -> dict:
    """Every per-layer metric; 0 where the workload bypasses the layer."""
    import tracing
    import workloads

    ops = res.ops
    spark_w = tracing.read_event_log(log_dir, [(o.start, o.end) for o in ops])
    m = {
        "session.start_s": session_s,
        "warmup.pyds_s": warm.get("pyds", 0.0),
        "warmup.microbatch_s": warm.get("microbatch", 0.0),
        "warmup.tws_rocksdb_s": warm.get("tws_rocksdb", 0.0),
        "spark.jobs": _mean(w["jobs"] for w in spark_w),
        "spark.stages": _mean(w["stages"] for w in spark_w),
        "spark.tasks": _mean(w["tasks"] for w in spark_w),
        "scheduler.delay_s": _mean(w["sched_delay_s"] for w in spark_w),
        "executor.run_s": _mean(w["run_s"] for w in spark_w),
        "executor.cpu_s": _mean(w["cpu_s"] for w in spark_w),
        "executor.gc_s": _mean(w["gc_s"] for w in spark_w),
        "shuffle.read_mb": _mean(w["shuffle_read_b"] / 2**20 for w in spark_w),
        "shuffle.write_mb": _mean(w["shuffle_write_b"] / 2**20 for w in spark_w),
        "shuffle.skew": _mean(w["skew"] for w in spark_w),
        "spill.mb": _mean(w["spill_b"] / 2**20 for w in spark_w),
        "arrow.to_python_mb": _mean(w["to_py_b"] / 2**20 for w in spark_w),
        "arrow.from_python_mb": _mean(w["from_py_b"] / 2**20 for w in spark_w),
    }
    zero = [
        "build.s", "build.py4j_calls", "build.eager_jobs", "catalyst.plan_ms",
        "http_poll.read_ms", "normalize.build_ms", "normalize.calls",
        "agents.insights_ms", "agents.fallback_count", "pipeline.add_batch_ms",
        "pipeline.query_planning_ms", "pipeline.wal_commit_ms",
        "tables.status_write_ms", "py4j.calls_per_tick", "pipeline.stop_errors",
        "stream.batches", "stream.empty_batches", "stream.query_planning_ms",
        "stream.add_batch_ms", "stream.wal_commit_ms", "stream.input_rows",
        "state.commit_ms", "state.rows_total", "state.rows_removed",
        "state.memory_mb", "sink.write_ms",
    ]
    m.update(dict.fromkeys(zero, 0.0))
    if workload == "query_mix":
        builds = [(o.start, o.extra["build_end"]) for o in ops if "build_end" in o.extra]
        eager = tracing.read_event_log(log_dir, builds)
        plan_ms = [
            w["sql_start_ms"] - o.extra["save_call"] * 1000
            for o, w in zip(ops, spark_w)
            if "save_call" in o.extra and w["sql_start_ms"] is not None
            and w["sql_start_ms"] >= o.extra["save_call"] * 1000
        ]
        m.update({
            "build.s": _mean(b - a for a, b in builds),
            "build.py4j_calls": _mean(o.extra["build_py4j"] for o in ops if "build_py4j" in o.extra),
            "build.eager_jobs": _mean(w["jobs"] for w in eager),
            "catalyst.plan_ms": _mean(plan_ms),
        })
        batches = res.progress
        drains = [o for o in ops if o.name in workloads.DRAINS]
        n = len(drains)
        state_ops = [o for o in drains if o.name not in workloads.WRITER_DRAINS]
        last = [o.extra["batches"][-1] for o in state_ops if o.extra["batches"]]
        writes = [r["add_batch_ms"] for r in batches if r["drain"] in workloads.WRITER_DRAINS]
        m.update({
            "stream.batches": len(batches) / n,
            "stream.empty_batches": sum(r["input_rows"] == 0 for r in batches) / n,
            "stream.query_planning_ms": _mean(r["planning_ms"] for r in batches),
            "stream.add_batch_ms": _mean(r["add_batch_ms"] for r in batches),
            "stream.wal_commit_ms": _mean(r["wal_ms"] for r in batches),
            "stream.input_rows": sum(r["input_rows"] for r in batches) / n,
            "state.commit_ms": _mean(
                r["state_commit_ms"] for r in batches if r["drain"] not in workloads.WRITER_DRAINS
            ),
            "state.rows_total": _mean(r["state_rows"] for r in last),
            "state.rows_removed": _mean(
                sum(r["state_removed"] for r in o.extra["batches"]) for o in state_ops
            ),
            "state.memory_mb": _mean(
                max((r["state_mem_b"] for r in o.extra["batches"]), default=0) / 2**20
                for o in state_ops
            ),
            "sink.write_ms": _mean(writes),
        })
    else:
        n = len(ops)
        t0, t1 = res.layer["window"]

        def in_ticks(name: str) -> list[dict]:
            return [
                s for s in tracer.spans_named(name)
                if any(o.start <= s["start"] <= o.end for o in ops)
            ]

        def per_tick_ms(name: str) -> float:
            return sum(s["end"] - s["start"] for s in in_ticks(name)) * 1000 / n

        insights = per_tick_ms("agents.batch_insights")
        status = per_tick_ms("tables.saveAsTable")
        add_batch = _mean(r["add_batch_ms"] for r in res.progress)
        m.update({
            "normalize.build_ms": per_tick_ms("normalize"),
            "normalize.calls": len(in_ticks("normalize")) / n,
            "agents.insights_ms": insights,
            "agents.fallback_count": float(res.layer["fallbacks"]),
            "tables.status_write_ms": status,
            "http_poll.read_ms": add_batch - insights - status,
            "pipeline.add_batch_ms": add_batch,
            "pipeline.query_planning_ms": _mean(r["planning_ms"] for r in res.progress),
            "pipeline.wal_commit_ms": _mean(r["wal_ms"] for r in res.progress),
            # the counter spans the whole window, edge ticks included
            "py4j.calls_per_tick": res.layer["py4j_calls"] / (t1 - t0)
            * statistics.median(b - a for g in res.pass_groups for a, b in g),
            "pipeline.stop_errors": float(res.layer["stop_errors"]),
        })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    loadavg_start = os.getloadavg()[0]
    sys.path.insert(0, ROOT)
    import hostclock

    clock = hostclock.HostClock()
    try:
        return _run(args, traced, nproc, work, loadavg_start, clock)
    finally:
        try:
            clock.stop()
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _timed(res, seconds) -> dict:
    """The timed end-to-end metrics, with ``seconds(a, b)`` the length
    of an epoch window."""
    ops = [[seconds(a, b) for a, b in g] for g in res.op_groups]
    passes = [sum(seconds(a, b) for a, b in g) for g in res.pass_groups]
    # per pass, then the median over passes: every pass holds the same
    # operations, so the statistic does not jump with the number of
    # passes a run fits.  The typical operation is the geometric mean,
    # as in TPC-H's power metric: query_mix's operations cost 0.3-3 s,
    # and their median sits on a gap between two of them and jumps
    # with their noise
    return {
        "op_geomean_s": statistics.median(statistics.geometric_mean(g) for g in ops),
        "op_p50_s": statistics.median(statistics.median(g) for g in ops),
        "op_tail_s": statistics.median(pct(g, TAIL_PCT) for g in ops),
        "pass_s": statistics.median(passes),
    }


def _run(args, traced: bool, nproc: int, work: str, loadavg_start: float, clock) -> int:
    import pyspark

    import tracing
    import workloads

    run_start = time.time() - _process_age_s()
    spark, session_s = _session(work, nproc, traced)
    tracer = tracing.Tracer() if traced else None
    warm: dict = {}
    if traced:
        import datagen
        from real_time_big_data_architect_spark.streaming.warmup import (
            warm_streaming_subsystems,
        )

        tiny = os.path.join(work, "tiny")
        datagen.write_tables(tiny, args.seed, 0.0001)
        warm = warm_streaming_subsystems(spark, tiny)
        _instrument(tracer)
    ctx = workloads.Ctx(spark, args.seed, args.seconds, work, tracer)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb()
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "loadavg_start": loadavg_start,
            "steal_pct": 100 * clock.steal_share(run_start, time.time()),
        }
    finally:
        if tracer:
            tracer.close()
        spark.stop()

    op_name, pass_name = NAMES[args.workload]
    microbatches = [r["trigger_ms"] / 1000 for r in res.progress]
    # every timing is in steal-free seconds (hostclock.py); the report
    # keeps the wall-clock figures beside them
    timed = _timed(res, clock.seconds)
    wall = _timed(res, lambda a, b: b - a)
    wall["setup_s"] = res.setup_end - run_start
    e2e = {
        "setup_s": clock.seconds(run_start, res.setup_end),
        "peak_rss_mb": sum(rss.values()),
        "op_geomean_s": timed["op_geomean_s"],
        "op_tail_s": timed["op_tail_s"],
        "pass_s": timed["pass_s"],
    }
    units = {k: "MB" if k == "peak_rss_mb" else "s" for k in e2e}
    samples = [clock.seconds(a, b) for g in res.op_groups for a, b in g]
    report = {
        "provenance": provenance,
        "failed_ratio": ctx.failed / ctx.attempted,
        "failures": ctx.failures[:20],
        "named": {
            f"{op_name}_geomean_s": e2e["op_geomean_s"],
            f"{op_name}_p50_s": timed["op_p50_s"],
            f"{op_name}_tail_s": {
                "value": e2e["op_tail_s"], "pct": TAIL_PCT, "n": len(samples),
                "n_beyond": sum(x > e2e["op_tail_s"] for x in samples),
            },
            f"{pass_name}_s": {"value": e2e["pass_s"], "n": len(res.pass_groups)},
            "microbatch_p50_s": {"value": statistics.median(microbatches), "n": len(microbatches)},
        },
        "wall": wall,
        "rss_mb": rss,
        "ops": [[o.name, o.end - o.start] for o in res.ops],
    }
    history = os.path.join(WORK_ROOT, "untraced.jsonl")
    if traced:
        layer = layer_metrics(
            args.workload, res, tracer, os.path.join(work, "eventlog"), warm, session_s
        )
        tracer.dump(os.path.join(
            WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        ))
        report["traced_e2e"] = e2e
        report["trace_overhead"] = _overhead(history, args.workload, e2e)
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layer.items()}
    else:
        with open(history, "a") as fh:
            fh.write(json.dumps({
                "workload": args.workload, "code": _code_hash(), "e2e": e2e,
            }) + "\n")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    shutdown_jvm()
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def _code_hash() -> str:
    """Fingerprint of the benchmark's own code: traced runs compare only
    with untraced runs of the same code."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _overhead(history: str, workload: str, e2e: dict) -> dict:
    """Traced timed metrics against the median of this checkout's last
    ten untraced runs of the same workload and code (ratio - 1)."""
    try:
        with open(history) as fh:
            runs = [json.loads(line) for line in fh]
    except OSError:
        runs = []
    code = _code_hash()
    runs = [
        r["e2e"] for r in runs if r["workload"] == workload and r.get("code") == code
    ][-10:]
    if not runs:
        return {"untraced_runs": 0}
    out = {"untraced_runs": len(runs)}
    for k in ("op_geomean_s", "op_tail_s", "pass_s"):
        base = statistics.median(r[k] for r in runs)
        out[k] = e2e[k] / base - 1.0
    return out


def _layer_unit(name: str) -> str:
    for suffix, unit in (("ms", "ms"), ("s", "s"), ("mb", "MB")):
        if name.endswith(("_" + suffix, "." + suffix)):
            return unit
    return "ratio" if name == "shuffle.skew" else "count"


if __name__ == "__main__":
    sys.exit(main())
