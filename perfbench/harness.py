"""One workload run inside a fresh process: set-up, timed cycles,
traced extras, and the record with every metric.

End-to-end metrics (every workload reports all three):

- ``setup_s``: median over ``SETUP_REPS`` set-ups; the first starts
  the session with ``get_spark``, and each builds the workload's state
  (inputs cached, indexes built or published and loaded);
- ``work_s``: median over warm cycles (all but the first) of the wall
  time of the workload's timed public calls, each ending in its
  checking aggregate;
- ``peak_rss_mb``: median over warm cycles of the peak RSS of the
  process tree (driver, JVM, Python workers, serving replica) during
  the cycle.

The first, cold cycle is timed too and reported per layer as
``work.cold_s``.

Per-layer metrics (``PER_LAYER``) are reported by traced runs only; a
metric that does not apply to a workload reads 0.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
import traceback

from perfbench import eventlog, procs
from perfbench.stats import median
from perfbench.workloads import MAX_CYCLES, SETUP_REPS, WORKLOADS, Ctx

END_TO_END = [
    ("setup_s", "s"),
    ("work_s", "s"),
    ("peak_rss_mb", "MB"),
]

# name, unit, better
PER_LAYER = [
    ("build_s", "s", "lower"),
    ("query_k1_s", "s", "lower"),
    ("query_k2_s", "s", "lower"),
    ("update_s", "s", "lower"),
    ("groups_s", "s", "lower"),
    ("serve_p50_ms", "ms", "lower"),
    ("serve_p90_ms", "ms", "lower"),
    ("serve_p99_ms", "ms", "lower"),
    ("serve_max_rps", "1/s", "higher"),
    ("near_dup_s", "s", "lower"),
    ("semantic_dedup_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
    ("work.cycles", "count", "higher"),
    ("work.cold_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("python.boot_ms", "ms", "lower"),
    ("python.init_ms", "ms", "lower"),
    ("build.nodes", "count", "lower"),
    ("build.nodes_per_word", "ratio", "lower"),
    ("build.task_cpu_s", "s", "lower"),
    ("build.shuffle_write_bytes", "bytes", "lower"),
    ("query.jobs", "count", "lower"),
    ("query.tasks", "count", "lower"),
    ("query.traversals", "count", "lower"),
    ("query.driver_gap_s", "s", "lower"),
    ("query.sched_delay_ms", "ms", "lower"),
    ("groups.write_s", "s", "lower"),
    ("groups.query_s", "s", "lower"),
    ("kernel.cpu_s", "s", "lower"),
    ("python.run_ms", "ms", "lower"),
    ("python.bytes_in", "bytes", "lower"),
    ("python.bytes_out", "bytes", "lower"),
    ("kernel.result_rows_per_cpu_s", "1/s", "higher"),
    ("kernel.search_p50_ms", "ms", "lower"),
    ("kernel.search_p99_ms", "ms", "lower"),
    ("http.overhead_ms", "ms", "lower"),
    ("serve.queue_ms", "ms", "lower"),
    ("gen.late_ms", "ms", "lower"),
    ("serve.requests", "count", "higher"),
    ("serve.samples", "count", "higher"),
    ("update.add_s", "s", "lower"),
    ("update.remove_s", "s", "lower"),
    ("update.nodes_out", "count", "lower"),
    ("publish.s", "s", "lower"),
    ("replica.load_s", "s", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.run_ms", "ms", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("spill.bytes", "bytes", "lower"),
    ("lsh.s", "s", "lower"),
    ("lsh.pairs", "count", "lower"),
    ("cc.s", "s", "lower"),
    ("dedup.survivors", "count", "lower"),
    ("kmeans.fit_s", "s", "lower"),
    ("semdedup.verify_s", "s", "lower"),
    ("semdedup.survivors", "count", "lower"),
    ("control.spark_s", "s", "lower"),
    ("control.py_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

QUERY_SPANS = ("query_k1", "query_k2", "write_query_groups", "query_groups")
KERNEL_SPANS = ("query_k1", "query_k2", "query_groups")


def control_spark_s(spark) -> float:
    """Code-frozen drift control: a fixed thresholded ``levenshtein``
    cross join in plain Spark SQL (no package code)."""
    names = spark.range(1200).selectExpr("concat('Customer#', lpad(cast(id as string), 9, '0')) as w")
    qs = names.selectExpr("concat(substring(w, 1, 9), substring(w, 11)) as q")
    t0 = time.perf_counter()
    qs.crossJoin(names).where("levenshtein(q, w, 2) >= 0").count()
    return time.perf_counter() - t0


def control_py_s() -> float:
    """Code-frozen drift control: a fixed pure-Python edit-distance loop."""
    words = [f"Customer#{i:09d}" for i in range(0, 8000, 100)]
    t0 = time.perf_counter()
    for a in words:
        for b in words:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
                prev = cur
    return time.perf_counter() - t0


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(
    workload: str, seed: int, seconds: float, trace: bool, scale: str, work: str, cache: str, min_cycles: int
) -> dict:
    from prefixtree_spark.session import get_spark

    ctx = Ctx(seed, trace, scale, work, cache)
    wl = WORKLOADS[workload](ctx)
    rss = procs.PeakRss().start()
    t_ref = time.perf_counter()
    wl.references()
    ref_s = time.perf_counter() - t_ref

    t = ctx.tracer
    setups, session_start_s = [], 0.0
    cycles: list[dict] = []
    extras: dict = {}
    controls: dict = {}
    try:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with t.span("setup"):
                if rep == 0:
                    with t.span("get_spark") as sg:
                        ctx.spark = get_spark(f"perfbench-{workload}")
                        ctx.spark.sparkContext.setLogLevel("ERROR")
                    session_start_s = sg.wall_s
                    t.spark = ctx.spark
                wl.setup()
            setups.append(time.perf_counter() - t0)

        rss.mark()
        t_start = time.perf_counter()
        while len(cycles) < MAX_CYCLES:
            try:
                cyc = wl.cycle(len(cycles))
            except Exception as e:  # counted as a failed operation
                ctx.fail(f"cycle {len(cycles)}", e)
                traceback.print_exc()
                break
            cyc.setdefault("work_s", sum(cyc[k] for k in wl.work_keys))
            cyc["peak_rss_mb"] = rss.mark() / 2**20
            cycles.append(cyc)
            if len(cycles) >= min_cycles and time.perf_counter() - t_start >= seconds:
                break
        if trace:
            extras = wl.extras()
            controls["control.spark_s"] = median([control_spark_s(ctx.spark) for _ in range(3)])
            controls["control.py_s"] = median([control_py_s() for _ in range(3)])
    except Exception as e:
        ctx.fail("run", e)
        traceback.print_exc()
    finally:
        wl.close()
        t.spark = None
        if ctx.spark is not None:
            spark_meta = _spark_meta(ctx.spark)
            ctx.spark.stop()
            _shutdown_jvm()
        else:
            spark_meta = {}
    peak = rss.stop()

    record = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "trace": trace,
        "seconds": seconds,
        "nproc": ctx.nproc,
        "python": platform.python_version(),
        "reference_s": ref_s,
        "correct": ctx.failed == 0 and bool(cycles),
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed if ctx.attempted else 1,
        "mismatches": ctx.mismatches[:20],
        "cycles": cycles,
        "setup_samples": setups,
        **spark_meta,
    }
    if not cycles:
        return record
    warm = cycles[1:] or cycles
    record["peak_rss_mb_overall"] = peak / 2**20
    record["end_to_end"] = {
        "setup_s": median(setups),
        "work_s": median([c["work_s"] for c in warm]),
        "peak_rss_mb": median([c["peak_rss_mb"] for c in warm]),
    }
    record["samples"] = {"setup_s": len(setups), "work_s": len(warm), "peak_rss_mb": len(warm)}
    if trace:
        record["per_layer"] = _layers(ctx, cycles, extras, controls, session_start_s)
        record["samples"].update({k: len(warm) for k in cycles[0]})
        record["spans"] = t.as_dicts()
    return record


def _spark_meta(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = {k: v for k, v in conf.items() if not k.endswith(("JavaOptions", ".id", ".host", ".port", "Time"))}
    return {"spark_version": spark.version, "spark_conf": keep}


def _layers(ctx: Ctx, cycles: list[dict], extras: dict, controls: dict, session_start_s: float) -> dict:
    spans = ctx.tracer.spans
    apps = eventlog.read_apps(os.path.join(ctx.work, "events"))
    folds = eventlog.fold_apps(apps, [(s.t0_ms, s.t1_ms) for s in spans])
    out = dict.fromkeys((n for n, _, _ in PER_LAYER), 0.0)
    n_cycles = len(cycles)

    def per_cycle(names, fn) -> float:
        """Median over warm cycles of fn(spans, folds) over the spans named."""
        vals = []
        for c in range(1 if n_cycles > 1 else 0, n_cycles):
            idx = [i for i, s in enumerate(spans) if s.cycle == c and (names is None or s.name in names)]
            if idx:
                vals.append(fn([spans[i] for i in idx], [folds[i] for i in idx]))
        return median(vals) if vals else 0.0

    warm = cycles[1:] or cycles
    for key in cycles[0]:
        if key in out:
            out[key] = median([c[key] for c in warm])
    out["work.cycles"] = n_cycles
    out["work.cold_s"] = cycles[0]["work_s"]
    out["error_rate"] = ctx.failed / max(1, ctx.attempted)
    out["session.start_s"] = session_start_s

    out["python.boot_ms"] = sum(f.py["py_boot_ms"] for f in folds)
    out["python.init_ms"] = sum(f.py["py_init_ms"] for f in folds)

    creates = [i for i, s in enumerate(spans) if s.name == "create"]
    creates = [i for i in creates if spans[i].cycle >= 0] or creates
    if creates:
        counted = [spans[i].attrs for i in creates if "words" in spans[i].attrs]
        if counted:
            out["build.nodes"] = median([a["nodes"] for a in counted])
            out["build.nodes_per_word"] = median([a["nodes"] / a["words"] for a in counted])
        out["build.task_cpu_s"] = median([folds[i].cpu_s for i in creates])
        out["build.shuffle_write_bytes"] = median([folds[i].shuffle_write_bytes for i in creates])

    # per_cycle reads 0 where a workload has no span of that name
    out["query.jobs"] = per_cycle(QUERY_SPANS, lambda ss, ff: sum(f.jobs for f in ff))
    out["query.tasks"] = per_cycle(QUERY_SPANS, lambda ss, ff: sum(f.tasks for f in ff))
    out["query.traversals"] = per_cycle(QUERY_SPANS, lambda ss, ff: sum(f.python_tasks for f in ff))
    out["query.driver_gap_s"] = per_cycle(
        QUERY_SPANS, lambda ss, ff: sum(s.wall_s - f.job_union_ms / 1000 for s, f in zip(ss, ff))
    )
    out["query.sched_delay_ms"] = per_cycle(
        QUERY_SPANS, lambda ss, ff: sum(f.sched_delay_ms for f in ff) / max(1, sum(f.tasks for f in ff))
    )
    out["kernel.cpu_s"] = per_cycle(KERNEL_SPANS, lambda ss, ff: sum(s.py_cpu_s for s in ss))
    out["python.run_ms"] = per_cycle(KERNEL_SPANS, lambda ss, ff: sum(f.py["py_run_ms"] for f in ff))
    out["python.bytes_in"] = per_cycle(KERNEL_SPANS, lambda ss, ff: sum(f.py["py_bytes_in"] for f in ff))
    out["python.bytes_out"] = per_cycle(KERNEL_SPANS, lambda ss, ff: sum(f.py["py_bytes_out"] for f in ff))
    out["kernel.result_rows_per_cpu_s"] = per_cycle(
        KERNEL_SPANS,
        lambda ss, ff: sum(s.attrs.get("rows", 0) for s in ss) / max(1e-9, sum(s.py_cpu_s for s in ss)),
    )
    out["update.add_s"] = per_cycle(("add_words",), lambda ss, ff: ss[0].wall_s)
    out["update.remove_s"] = per_cycle(("remove_words",), lambda ss, ff: ss[0].wall_s)
    out["update.nodes_out"] = per_cycle(("remove_words",), lambda ss, ff: ss[0].attrs["nodes"])

    out["jvm.gc_ms"] = per_cycle(None, lambda ss, ff: sum(f.gc_ms for f in ff))
    out["jvm.run_ms"] = per_cycle(None, lambda ss, ff: sum(f.run_ms for f in ff))
    out["shuffle.read_bytes"] = per_cycle(None, lambda ss, ff: sum(f.shuffle_read_bytes for f in ff))
    out["shuffle.write_bytes"] = per_cycle(None, lambda ss, ff: sum(f.shuffle_write_bytes for f in ff))
    out["spill.bytes"] = per_cycle(None, lambda ss, ff: sum(f.spill_bytes for f in ff))

    out.update({k: v for k, v in extras.items() if k in out})
    out.update(controls)
    out["trace.spans"] = len(spans)
    return {k: float(v) for k, v in out.items()}


def main(argv: list[str]) -> int:
    import argparse
    import json

    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scale", default="bench")
    p.add_argument("--work", required=True)
    p.add_argument("--cache", required=True)
    p.add_argument("--record", required=True)
    p.add_argument("--min-cycles", type=int, default=3)
    a = p.parse_args(argv)
    rec = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale, a.work, a.cache, a.min_cycles)
    with open(a.record, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
