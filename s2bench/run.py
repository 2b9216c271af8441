"""Benchmark of the s2geometry_spark engine: one workload per process.

    python3 s2bench/run.py --workload pip_flagship --seed 1 --seconds 21 --trace 0
    python3 s2bench/run.py --self-check

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones (rows_per_s,
cpu_s_per_mrow, setup_s, peak_rss_mb); with --trace 1 they are the
per-layer ones. See s2bench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import procstat  # noqa: E402
import tracing  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".s2bench")
SPEC = os.path.join(ROOT, "BENCHMARK.json")  # metric names and units
DRIVER_MEMORY = "1g"  # the JVM heap saturates early, so peak RSS is steady



def log(msg: str) -> None:
    print(f"[s2bench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def prepare_environment(scratch: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `scratch`."""
    local, tmp = os.path.join(scratch, "local"), os.path.join(scratch, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # nothing written beside the code
    sys.dont_write_bytecode = True
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both, then
    for any descendant left behind."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    left = [p for p in procstat.tree_pids() if p != os.getpid()]
    deadline = time.time() + 10
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our child: poll until it is gone
            while os.path.exists(f"/proc/{pid}"):
                time.sleep(0.1)


def metric_units(kind: str) -> dict:
    """name -> unit of the "end_to_end" or "per_layer" metrics."""
    with open(SPEC) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": float(metrics[k]), "unit": u}
                                   for k, u in units.items()}})


def run(args, scratch: str) -> int:
    import workloads as W
    from oracle import load_scalar_oracle
    from s2geometry_spark.session import get_spark

    steal0 = procstat.host_cpu_ticks()
    tracer = tracing.Tracer(enabled=bool(args.trace))
    size = W.SIZES[args.workload]
    peak = procstat.PeakRss()
    peak.start()
    try:
        t = time.perf_counter()
        spark = get_spark(f"s2bench-{args.workload}", cores=W.CORES,
                          shuffle_partitions=size["shuffle"])
        session_s = time.perf_counter() - t
        try:
            return measure(args, spark, scratch, tracer, size, peak, session_s,
                           steal0, load_scalar_oracle(ROOT))
        finally:
            stop_spark(spark)
    finally:
        peak.stop()


def measure(args, spark, scratch, tracer, size, peak, session_s, steal0,
            scalar) -> int:
    import workloads as W

    wl = W.WORKLOADS[args.workload](spark, args.seed, size, scratch, tracer, scalar)
    t = time.perf_counter()
    wl.stage()
    stage_s = time.perf_counter() - t
    for _ in range(size["warm_passes"]):
        wl.release(wl.run_pass())
    setup_s = time.perf_counter() - T0
    log(f"{wl.name}: setup {setup_s:.2f}s (session {session_s:.2f}s, staging "
        f"{stage_s:.2f}s, warm-up {time.perf_counter() - t - stage_s:.2f}s), "
        f"{wl.rows} rows/pass")

    metrics_reader = tracing.SparkMetrics(spark) if args.trace else None
    if args.trace:
        W.instrument(tracer)
    results, walls, cpus, rss, traced_walls, layers = [], [], [], [], [], []
    for _ in range(W.timed_passes(size, args.seconds)):
        # a traced run alternates untraced and traced passes, so the gap
        # between them is the tracing overhead under the same conditions
        traced = bool(args.trace) and len(walls) > len(traced_walls)
        tracer.enabled = traced
        mark = metrics_reader.mark() if traced else None
        since = len(tracer.spans)
        peak.take_window()
        cpu0 = procstat.tree_cpu_s()
        t = time.perf_counter()
        res = wl.run_pass()
        wall = time.perf_counter() - t
        cpu = procstat.tree_cpu_s() - cpu0
        pass_rss, by_proc = peak.take_window()
        results.append(res)
        if traced:
            traced_walls.append(wall)
            info = metrics_reader.since(mark)
            layers.append(pass_layers(wl, info, since, res, tracer))
        else:
            walls.append(wall)
            cpus.append(cpu)
            rss.append(pass_rss)
        log(f"pass {len(results)}{' traced' if traced else ''}: {wall:.3f}s "
            f"wall, {cpu:.2f} CPU-s, peak {pass_rss / 2 ** 20:.0f} MiB "
            f"({'+'.join(str(b >> 20) for b in by_proc)}) {wl.describe(res)}")
    peak.stop()  # the checks below are the benchmark's own work

    expected = wl.expected()
    failed = 0
    for res in results:
        errors = wl.check(res, expected)
        if errors:
            failed += 1
            log(f"check failed: {errors[:5]}")
        wl.release(res)
    log(f"{len(results)} passes checked, {failed} failed; "
        f"{wl.ambiguous} points excluded within the boundary band")

    if not args.trace:
        metrics = {
            "rows_per_s": wl.rows / W.median(walls),
            "cpu_s_per_mrow": W.median(cpus) / (wl.rows / 1e6),
            "setup_s": setup_s,
            "peak_rss_mb": W.median(rss) / 2 ** 20,
        }
        units = metric_units("end_to_end")
    else:
        tracer.enabled = False
        units = metric_units("per_layer")
        # a layer the workload does not run reports 0
        metrics = {k: W.median([d.get(k, 0.0) for d in layers]) for k in units}
        metrics["session.start_s"] = session_s
        h = wl.point_hashes()
        metrics["kernels.cell_id_rows_per_s"] = wl.kernel_rows_per_s(h)
        metrics["functions.geo.hop_floor_rows_per_s"] = wl.hop_floor_rows_per_s()
        metrics["sources.pages.geocode_s"] = wl.geocode_s()
        # the first timed pass is untraced and still partly cold: leave it
        # out of the comparison
        untraced = W.median(walls[1:])
        metrics["trace.pass_s"] = W.median(traced_walls)
        metrics["trace.untraced_pass_s"] = untraced
        metrics["trace.overhead_share"] = W.median(traced_walls) / untraced - 1.0
        steal1 = procstat.host_cpu_ticks()
        metrics["host.steal_share"] = ((steal1[0] - steal0[0])
                                       / max(1, steal1[1] - steal0[1]))
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json")
        tracer.dump(path)
        log(f"spans written to {os.path.relpath(path, ROOT)}")
    print(result_line(failed == 0, len(results), failed, metrics, units), flush=True)
    return 0


def pass_layers(wl, info, since, res, tracer) -> dict:
    """Per-layer metrics of one traced pass: the geocode hop, Spark's
    task, GC and spill totals, and the workload's own layers."""
    T = tracing
    nodes, stages = info["nodes"], info["stages"]
    udf_rows = T.node_sum(nodes, "ArrowEvalPython", "number of output rows",
                          "cell_id_udf")
    per_row = (lambda b: b / udf_rows) if udf_rows else (lambda b: 0.0)
    out = {
        "functions.geo.py_run_s": T.node_sum(
            nodes, "ArrowEvalPython", "time to run Python workers", "cell_id_udf"),
        "functions.geo.py_start_s": T.node_sum(
            nodes, "ArrowEvalPython", "time to start Python workers", "cell_id_udf"),
        "functions.geo.py_init_s": T.node_sum(
            nodes, "ArrowEvalPython", "time to initialize Python workers",
            "cell_id_udf"),
        "functions.geo.bytes_to_py_per_row": per_row(T.node_sum(
            nodes, "ArrowEvalPython", "data sent to Python workers", "cell_id_udf")),
        "functions.geo.bytes_from_py_per_row": per_row(T.node_sum(
            nodes, "ArrowEvalPython", "data returned from Python workers",
            "cell_id_udf")),
        "functions.geo.udf_rows": udf_rows,
        "spark.tasks": T.stage_sum(stages, "numTasks"),
        "spark.gc_s": T.stage_sum(stages, "jvmGcTime") / 1e3,
        "spark.spill_bytes": (T.stage_sum(stages, "memoryBytesSpilled")
                              + T.stage_sum(stages, "diskBytesSpilled")),
    }
    out.update(wl.layer_metrics(info, since, res))
    return out


def self_check(scratch: str) -> int:
    """Every workload's checks on tiny inputs: a correct pass must pass
    them and a corrupted one must fail them."""
    import workloads as W
    from oracle import load_scalar_oracle
    from s2geometry_spark.session import get_spark

    scalar = load_scalar_oracle(ROOT)
    spark = get_spark("s2bench-self-check", cores=W.CORES, shuffle_partitions=4)
    problems = []
    try:
        for name, cls in W.WORKLOADS.items():
            size = W.TINY[name]
            wl = cls(spark, 7, size, os.path.join(scratch, name),
                     tracing.Tracer(enabled=False), scalar)
            wl.stage()
            for _ in range(size["warm_passes"]):
                wl.release(wl.run_pass())
            res = wl.run_pass()
            expected = wl.expected()
            errors = wl.check(res, expected)
            if errors:
                problems.append(f"{name}: {errors[:3]}")
            if not wl.check(wl.corrupt(res), expected):
                problems.append(f"{name}: a corrupted result passed the check")
            wl.release(res)
            log(f"self-check {name}: {'ok' if not problems else problems}")
    finally:
        stop_spark(spark)
    print("self-check " + ("passed" if not problems else f"FAILED: {problems}"))
    return 1 if problems else 0


def main() -> int:
    import importlib.util

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("pip_flagship", "tile_ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=21.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not args.self_check and args.workload is None:
        ap.error("--workload is required")
    missing = [p for p in ("s2geometry_spark/__init__.py", "tests/oracle_s2.py",
                           "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"s2bench: the engine is not here: missing {missing}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("pyspark") is None:
        print("s2bench: pyspark is not installed", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_environment(scratch)
    try:
        return self_check(scratch) if args.self_check else run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
