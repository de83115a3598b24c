"""Layered lake benchmark for icespark.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Runs one seeded, closed-loop workload (one client) on a local Spark
session with one worker thread per CPU, checks every answer, and prints
the run record (run context, per-kind latencies, failures) followed, on
the last line, by one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` every per-layer metric, measured from
spans recorded around calls into the engine (see spans.py, layers.py and
README.md in this directory).

Everything the run writes stays under ``.bench_work/`` (tables, Spark
scratch) and ``.bench_out/`` (records, spans) at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import (RssSampler, cpu_shares, cpu_ticks, geomean, loadavg,  # noqa: E402
                    median, run_loop, run_op)

SETUP_REPS = 3
MAX_CYCLES = 60
END_TO_END = [("setup_s", "s"), ("ops_per_s", "ops/s"),
              ("kind_p50_geomean_s", "s"), ("driver_rss_peak_mib", "MiB")]


def workloads():
    from lake import LakeIngest, LakeRead
    from llm import LlmPrep

    return {w.name: w for w in (LakeRead, LakeIngest, LlmPrep)}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 = the benchmark's size)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb one expected answer")
    return ap.parse_args(argv)


def configure_env(work: str) -> int:
    """Point every writer at the work directory, make the package
    importable in Spark's Python workers, and size the session to the
    CPUs this process may use. An inherited ``SPARK_GRAFT_CPUS`` is
    replaced by that count, so the engine's own parallelism fallback
    agrees with the session."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    # also for the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--driver-java-options", f"'{java_opts}'",
        "pyspark-shell"])
    return cpus


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def run(spark, args, work: str, cpus: int) -> tuple[dict, dict]:
    import pyarrow
    import pyspark

    from layers import HOOKS, PER_LAYER, group_p50s, layer_metrics
    from spans import Tracer

    cls = workloads()[args.workload]
    wl = cls(spark, work, args.scale)
    cycles = wl.op_list(args.seed, MAX_CYCLES)  # before any timing
    context = {"workload": wl.name, "seed": args.seed, "scale": args.scale,
               "seconds": args.seconds, "trace": args.trace, "nproc": cpus,
               "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
               "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
               "python": platform.python_version(), "load_before": loadavg()}

    tracer = Tracer(spark.sparkContext)
    # warm-up: a first set-up, untimed, and the first cycles of the op
    # stream on its tables, until the JVM, generated code and Python
    # workers are warm and op latencies have settled. Its ops are checked
    # like every other op.
    t0 = time.perf_counter()
    st = wl.setup(args.seed, 0)
    wl.prepare(st)
    warm_n = cls.warm_cycles
    warm = [run_op(wl, st, o, tracer) for cycle in cycles[:warm_n] for o in cycle]
    warmup_s = time.perf_counter() - t0

    # setup_s is the median of SETUP_REPS set-ups; the loop replays the
    # op stream from its start on the last one's tables
    setup_times = []
    for rep in range(1, 1 + SETUP_REPS):
        wl.teardown(st)
        t0 = time.perf_counter()
        st = wl.setup(args.seed, rep)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(st)
    prepare_s = time.perf_counter() - t0
    if args.corrupt_expected:
        wl.corrupt(st)

    if args.trace:
        tracer.install(hooks=HOOKS)
    table_bytes0 = table_bytes(wl, st)
    context["sizes_start"] = wl.sizes(st)

    ticks0 = cpu_ticks()
    with RssSampler() as rss:
        results, loop = run_loop(wl, st, cycles, args.seconds, tracer,
                                 bool(args.trace))
    context["cpu_during_loop"] = cpu_shares(ticks0, cpu_ticks())
    context["sizes_end"] = wl.sizes(st)
    context["load_after"] = loadavg()

    final = []
    if wl.final_check is not None:
        final.append(run_final(wl, st))
    all_results = warm + results + final
    failed = sum(not r.ok for r in all_results)
    measured = [r for r in results if not r.traced]
    ok_measured = [r for r in measured if r.ok]
    kinds = latencies(ok_measured)
    kind_p50 = {k: median(v) for k, v in kinds.items()}
    groups, group_n = group_p50s(measured)
    written = table_bytes(wl, st) - table_bytes0
    submitted = st.get("rows_submitted", 0)
    live_rows = wl.sizes(st)["rows"]
    extra = {
        "failed_op_ratio": failed / len(all_results),
        "bytes_written_per_row": written / submitted if submitted else 0.0,
        "bytes_stored_per_row": stored_bytes(wl.tables(st)[0]) / live_rows
        if live_rows else 0.0,
    }
    extra.update(groups)
    extra.update(wl.derived(st, results))

    record = {
        "context": context,
        "setup_reps_s": setup_times, "warmup_s": warmup_s, "prepare_s": prepare_s,
        "warm_cycles": warm_n, "warm_kind_s": latencies(warm),
        "loop": loop,
        "ops_measured": len(measured), "kind_p50_s": kind_p50,
        "kind_latencies_s": kinds,
        "kind_samples": {k: len(v) for k, v in kinds.items()},
        "group_samples": group_n,
        "failures": [{"kind": r.kind, "error": r.error} for r in all_results if not r.ok],
        **extra,
    }
    metrics = {
        "setup_s": median(setup_times),
        "ops_per_s": len(measured) / loop["cycles_wall_s"],
        "kind_p50_geomean_s": geomean(kind_p50.values()),
        "driver_rss_peak_mib": rss.peak,
    }
    units = dict(END_TO_END)
    if args.trace:
        counts = tracer.spark_counts()
        traced = [r for r in results if r.traced]
        metrics = layer_metrics(tracer, counts, wl.tables(st)[0])
        metrics.update({k: v for k, v in extra.items() if k in metrics})
        # per-group latencies of the traced run come from all its cycles
        metrics.update(group_p50s(results)[0])
        # rates over op time: traced and untraced ops share every cycle
        t_rate = len(traced) / loop["traced_busy_s"]
        u_rate = len(measured) / loop["untraced_busy_s"]
        metrics["trace.ops_per_s"] = t_rate
        metrics["trace.untraced_ops_per_s"] = u_rate
        metrics["trace.overhead_ops_per_s"] = u_rate - t_rate
        units = dict(PER_LAYER)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl")
        tracer.dump(spans_path, counts)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
        record["layer_self_s"] = {k: metrics[k] for k, _ in PER_LAYER
                                  if k.endswith(".self_s")}
        tracer.uninstall()
    result = {
        "correct": failed == 0,
        "attempted": len(all_results),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    wl.teardown(st)
    return record, result


def latencies(results) -> dict:
    """Op latencies by kind, in loop order."""
    kinds: dict[str, list[float]] = {}
    for r in results:
        kinds.setdefault(r.kind, []).append(r.latency_s)
    return kinds


def run_final(wl, st):
    """The workload's end-of-run check, counted as one more op."""
    import traceback

    from common import OpResult

    t0 = time.perf_counter()
    err = None
    try:
        wl.final_check(st)
    except Exception:  # noqa: BLE001 - a failed check is a result
        err = traceback.format_exc(limit=8)
        print(f"[perfbench] final check failed: {err}", file=sys.stderr)
    return OpResult("final_check", "check", False, time.perf_counter() - t0,
                    err is None, error=err)


def table_bytes(wl, st) -> int:
    from common import dir_bytes

    return sum(dir_bytes(t.location()) for t in wl.tables(st))


def stored_bytes(table) -> float:
    """Data plus delete-file bytes referenced by the current snapshot."""
    scan = table.scan()
    data = sum(t.file_size_in_bytes for t in scan.plan_files())
    deletes = {d.file_path for d in scan.plan_deletes()}
    return float(data + sum(os.path.getsize(p) for p in deletes))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "iceberg_cpp_spark", "__init__.py")):
        print("perfbench: iceberg_cpp_spark/ is not next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = configure_env(work)
    sys.path.insert(0, ROOT)
    from iceberg_cpp_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        record, result = run(spark, args, work, cpus)
        record["context"]["SPARK_GRAFT_CPUS_inherited"] = inherited_cpus
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
