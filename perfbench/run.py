"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload embed_tvp --seed 1 --seconds 10 --trace 0

Run it from the repository root. The process pins its own environment
(cores, JVM memory, scratch directories, worker import path), starts
one Spark session, generates the workload's inputs from ``--seed``,
prepares and warms up, then runs the workload's op list in sets of a
fixed number of whole passes until ``--seconds`` have gone by, checking
every op's output.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also makes one traced pass and reports the per-layer metrics
instead, and writes its spans to ``.perfbench/traces/``. The line
before it describes the run: pinned environment, input hash, sample
counts.

Everything it writes goes under ``.perfbench/`` in the working
directory. It exits with status 2, printing no result, when the engine
package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.abspath(".perfbench")

#: end-to-end metrics (``--trace 0``) and their units
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
#: a set's tail is the highest percentile with this many samples beyond it
TAIL_BEYOND = 10
#: JVM heap, fixed from the start (-Xms = -Xmx) so that the resident
#: set does not depend on when the collector chose to grow the heap
DRIVER_MEM = "2g"
#: the fixed host-speed job (range → xxhash64 → sum), as in bench.py
SENTINEL_ROWS, SENTINEL_TASKS = 24_000_000, 32


def common_layers() -> list[str]:
    """Per-layer metrics every traced run measures, whatever its workload."""
    from spans import COUNTERS

    return [f"spark.{c}" for c in COUNTERS] + [
        "spark.core_util", "host.sentinel_s", "trace.span_sum_p50_s", "trace.untraced_op_p50_s",
    ]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric (``--trace 1``) and its unit: the common
    ones and those some workload declares in ``layers``. A workload
    reports 0 for a layer only another workload measures."""
    from workloads import WORKLOADS

    names = list(dict.fromkeys(n for w in WORKLOADS.values() for n in w.layers))
    names += common_layers()

    def unit(name: str) -> str:
        if name.endswith("_per_s"):
            return "1/s"
        if name.endswith("_s"):
            return "s"
        if name.endswith("_mb"):
            return "MB"
        return "ratio" if name.endswith("_util") else "count"

    return {n: unit(n) for n in names}


def pin_env(work: str) -> dict[str, str]:
    """Pin the run environment before the JVM starts; returns what was
    set. Python workers inherit it through the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # workers must import the engine from this checkout
        "PYTHONPATH": os.getcwd(),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with ``TAIL_BEYOND`` samples beyond it,
    and its label; with too few samples for that, the maximum."""
    s = sorted(samples)
    if len(s) <= TAIL_BEYOND:
        return s[-1], "max"
    i = len(s) - TAIL_BEYOND - 1
    return s[i], f"p{100 * (i + 1) // len(s)}"


def measure(wl, seconds: float) -> tuple[list[list[float]], list[float], list[str]]:
    """Sets of ``wl.passes_per_set`` whole passes over the op list, until
    ``seconds`` have gone by (at least one set).
    Returns the op times of each set, the pass times and the names of
    failed ops. An op fails when it raises or its output check does not
    hold; the check is not timed."""
    ops = wl.ops()
    sets: list[list[float]] = []
    passes: list[float] = []
    failed: list[str] = []
    start = time.perf_counter()
    while True:
        sets.append(one_set(wl, ops, passes, failed))
        if time.perf_counter() - start >= seconds:
            return sets, passes, failed


def one_set(wl, ops, passes: list[float], failed: list[str]) -> list[float]:
    """One set: its op times; appends to ``passes`` and ``failed``."""
    samples: list[float] = []
    for _ in range(wl.passes_per_set):
        pass_s = 0.0
        for op in ops:
            wl.reset()
            t = time.perf_counter()
            try:
                out = op.run()
                ok = True
            except Exception:  # noqa: BLE001 - an op that raises is a failed op
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t
            samples.append(dt)
            pass_s += dt
            if ok:
                try:
                    ok = bool(op.check(out))
                except Exception:  # noqa: BLE001 - a check that raises fails the op
                    traceback.print_exc()
                    ok = False
            if not ok:
                print(f"perfbench: op {op.name} failed", file=sys.stderr)
                failed.append(op.name)
        passes.append(pass_s)
    return samples


def sentinel(spark) -> None:
    from pyspark.sql import functions as F

    spark.range(0, SENTINEL_ROWS, 1, SENTINEL_TASKS).select(
        F.sum(F.shiftright(F.xxhash64("id"), 32))
    ).write.format("noop").mode("overwrite").save()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def traced(spark, wl, run_id: str, untraced_p50: float, cores: int) -> tuple[dict, list[bool], str]:
    """One traced pass. Returns the per-layer metrics, the traced ops'
    check results and the path of the written spans."""
    from spans import Tracer

    tracer = Tracer(spark, run_id)
    with tracer.span("host.sentinel"):
        sentinel(spark)
    wl.reset()
    t = time.perf_counter()
    layer = wl.traced_pass(tracer)
    wall = time.perf_counter() - t
    if set(layer) != set(wl.layers):
        raise RuntimeError(
            f"{wl.name} traced pass: missing {sorted(set(wl.layers) - set(layer))}, "
            f"undeclared {sorted(set(layer) - set(wl.layers))}"
        )
    totals = tracer.totals(skip="host.sentinel")  # host calibration, not engine work
    metrics = {f"spark.{k}": v for k, v in totals.items()}
    metrics["spark.core_util"] = totals["task_cpu_s"] / (wall * cores)
    metrics["host.sentinel_s"] = tracer.durations("host.sentinel")[0]
    op_sums = [
        sum(tracer.duration(c) for c in tracer.spans if c["parent"] == s["id"] and c["part_of_op"])
        for s in tracer.spans
        if s["name"] == "op"
    ]
    metrics["trace.span_sum_p50_s"] = statistics.median(op_sums)
    metrics["trace.untraced_op_p50_s"] = untraced_p50
    metrics.update(layer)
    # only layers another workload measures are filled with 0
    metrics = {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in per_layer_units().items()}
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    path = os.path.join(OUT, "traces", f"{run_id}.json")
    tracer.write(path, {"workload": wl.name, "seed": wl.seed, "metrics": metrics})
    return metrics, wl.traced_ok, path


def stop(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(spark, args, env: dict, jvm_s: float, work: str, size: str = "full") -> tuple[dict, dict]:
    """Set up, measure and (with ``args.trace``) trace one workload.
    ``size="small"`` is for the benchmark's own tests. Returns the run
    description and the result line."""
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, args.seed, work, size)
    t = time.perf_counter()
    input_sha256 = wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    setup_s = jvm_s + gen_s + prepare_s

    sets, passes, failed = measure(wl, args.seconds)
    samples = [s for one in sets for s in one]
    attempted = len(samples)
    tails = [tail(one) for one in sets]
    op_tail = statistics.median(v for v, _ in tails)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "size": size,
        "env": env,
        "python": platform.python_version(),
        "pyspark": __import__("pyspark").__version__,
        "input_sha256": input_sha256,
        "setup": {"jvm_s": jvm_s, "generate_s": gen_s, "prepare_s": prepare_s},
        "notes": wl.notes,
        "op_samples": len(samples),
        "op_s": samples,
        "op_tail": f"median over {len(sets)} set(s) of the {tails[0][1]} of {len(sets[0])} ops",
        "passes": len(passes),
        "pass_s": passes,
        "ops_per_pass": len(wl.ops()),
        "failed_ops": failed,
    }
    if args.trace:
        cores = int(env["SPARK_GRAFT_CPUS"])
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        metrics, traced_ok, path = traced(spark, wl, run_id, statistics.median(samples), cores)
        attempted += len(traced_ok)
        failed += [f"traced:{i}" for i, ok in enumerate(traced_ok) if not ok]
        info["trace_file"] = path
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(samples),
            "op_tail_s": op_tail,
            "pass_s": statistics.median(passes),
            "peak_rss_mb": peak_rss_mb(jvm_pid),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    info["failed_ops"] = failed
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }
    return info, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["embed_tvp", "detect_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [os.getcwd(), HERE]
    try:
        import vector_database_watermarking_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    env = pin_env(work)  # before the JVM starts
    from vector_database_watermarking_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    jvm_s = time.perf_counter() - t
    try:
        info, result = run(spark, args, env, jvm_s, work)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
