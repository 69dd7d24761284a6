"""Run the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --workload fuzzy_batch --scale full --seed 0

Run from the repository root. Each workload runs in a fresh child
process with the repository on ``PYTHONPATH`` (so Spark's Python
workers can import the package too), at ``local[nproc]``. Everything
the run writes (Spark scratch, event logs, published indexes, the
reference cache, records) stays under ``.perfbench/`` in the checkout.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload twice, untraced and then traced (Spark event log on, a span
around every public call), half the seconds each, and prints the
per-layer metrics including the tracing overhead between the two.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 165
# cycles per run: the first is cold and excluded from medians
MIN_CYCLES = 3
TRACE_MIN_CYCLES = 2

sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

_LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def _conf_dir(run_dir: str, trace: bool) -> str:
    """The Spark conf dir this run owns: scratch and temp space inside
    the checkout, and, for traced runs only, an uncompressed event log."""
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    lines = [
        f"spark.local.dir {os.path.join(run_dir, 'spark-local')}",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
        f"spark.driver.extraJavaOptions -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file:{events}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(_LOG4J)
    return conf


def _child_env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_CONF_DIR=_conf_dir(run_dir, trace),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of a child's process group and wait until
    none of it is alive."""
    deadline = time.monotonic() + 20
    while procs.group_members(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def _source_id() -> dict:
    """The git commit when the checkout is a git work tree (else None),
    and a SHA-1 over the package's Python sources either way."""
    import hashlib

    out = {"git_commit": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out["git_commit"] = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "prefixtree_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    out["package_sha1"] = h.hexdigest()
    return out


def run_child(workload: str, seed: int, seconds: float, trace: bool, scale: str, min_cycles: int) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record = os.path.join(run_dir, "record.json")
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(trace)), "--scale", scale,
        "--work", run_dir, "--cache", os.path.join(WORK, "refcache"), "--record", record,
        "--min-cycles", str(min_cycles),
    ]
    timeout = CHILD_TIMEOUT_S / (2 if trace else 1) if scale == "bench" else 3600
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=_child_env(run_dir, trace), stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        _stop_group(proc.pid)
    if code != 0 or not os.path.exists(record):
        shutil.rmtree(run_dir, ignore_errors=True)
        raise RuntimeError(f"{workload} child failed (exit {code})")
    with open(record) as f:
        rec = json.load(f)
    rec.update(_source_id())
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{workload}-{scale}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    return rec


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def run_workload(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> tuple[dict, list[dict]]:
    from perfbench.harness import END_TO_END, PER_LAYER

    if not trace:
        rec = run_child(workload, seed, seconds, False, scale, MIN_CYCLES if scale == "bench" else 1)
        recs = [rec]
        if "end_to_end" not in rec:
            raise RuntimeError(f"{workload}: no cycle completed: {rec.get('mismatches')}")
        metrics = _metrics(rec["end_to_end"], dict(END_TO_END))
    else:
        plain = run_child(workload, seed, seconds / 2, False, scale, TRACE_MIN_CYCLES)
        traced = run_child(workload, seed, seconds / 2, True, scale, TRACE_MIN_CYCLES)
        recs = [plain, traced]
        if "per_layer" not in traced or "end_to_end" not in plain:
            raise RuntimeError(f"{workload}: no cycle completed")
        layer = dict(traced["per_layer"])
        layer["trace.overhead_pct"] = 100.0 * (
            traced["end_to_end"]["work_s"] / plain["end_to_end"]["work_s"] - 1.0
        )
        metrics = _metrics(layer, {n: u for n, u, _ in PER_LAYER})
    result = {
        "correct": all(r["correct"] for r in recs),
        "attempted": sum(r["attempted"] for r in recs),
        "failed": sum(r["failed"] for r in recs),
        "metrics": metrics,
    }
    return result, recs


def _summary(workload: str, result: dict, recs: list[dict]) -> list[str]:
    rec = recs[-1]
    lines = [
        f"{workload}: {'correct' if result['correct'] else 'WRONG'} "
        f"({result['failed']} failed of {result['attempted']} checked operations)"
    ]
    samples = rec.get("samples", {})
    for name, m in result["metrics"].items():
        n = samples.get(name)
        lines.append(f"  {name:32s} {m['value']:14.4f} {m['unit']:6s}" + (f"  median of {n}" if n else ""))
    for mm in rec.get("mismatches", [])[:5]:
        lines.append(f"  mismatch: {mm}")
    return lines


def main() -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=list(WORKLOADS))
    p.add_argument("--all", action="store_true", help="run every workload, untraced, and print a summary")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "full"), default="bench")
    a = p.parse_args()
    if not (a.all or a.workload):
        p.error("give --workload NAME or --all")
    if not os.path.isfile(os.path.join(ROOT, "prefixtree_spark", "__init__.py")):
        print("perfbench: the prefixtree_spark package is not in this checkout", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if a.all else [a.workload]
    results = {}
    for name in names:
        try:
            result, recs = run_workload(name, a.seed, a.seconds, bool(a.trace), a.scale)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        results[name] = result
        if a.all:
            print("\n".join(_summary(name, result, recs)))
        else:
            print("\n".join(_summary(name, result, recs)), file=sys.stderr)
    if a.all:
        print(json.dumps(results))
    else:
        print(json.dumps(results[a.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
