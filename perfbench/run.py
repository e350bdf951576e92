"""geowave_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload points_join --seed 1 --seconds 12 --trace 0

Run from the repository root.  One Python client process starts ``local[N]``
(N = min(2, usable cores)) through the engine's own session factory and
calls the workload's operators back to back.  It prints every metric by
name and unit, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer metrics).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# Each Spark task also drives a Python worker process, and the JVM's GC
# and JIT threads and the client process need CPU too: local[2] keeps
# about three of a 4-vCPU host's cores busy, and local[4] was both
# noisier and no faster there.
MAX_CORES = 2
# The JVM heap starts at its maximum so that the peak RSS does not depend
# on when G1 decides to grow it.
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 8
MIN_PASSES = 1
# The first warm pass still runs slower and burns more CPU than later ones
# (the JIT keeps compiling after the cold pass), so two passes warm up.
WARMUP_PASSES = 2
# printed by name but not gated: on a shared host both wall and CPU time
# per pass swing with co-tenant load (ten-run quartile spreads up to 0.47
# and 0.29; see perfbench/README.md, "Noise")
PRINTED_UNITS = {"run_s": "s", "rows_per_s": "rows/s", "run_cpu_s": "s",
                 "rows_per_cpu_s": "rows/s"}

SPEC_FILE = "BENCHMARK.json"
OP_STAGE_KEYS = ("exec_cpu_s", "shuffle_write_mb", "gc_s", "task_skew", "core_busy_frac")


def metric_units(section: str) -> dict[str, str]:
    """name -> unit for one metric section of BENCHMARK.json."""
    with open(SPEC_FILE) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the benchmark's own tests use a small one)")
    p.add_argument("--report", default=None,
                   help="also write the full report (context, all metrics, output digests) here")
    return p.parse_args(argv)


def cores() -> int:
    try:
        usable = len(os.sched_getaffinity(0))
    except AttributeError:
        usable = os.cpu_count() or 1
    return max(1, min(MAX_CORES, usable))


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def configure_env(scratch: str, n_cores: int) -> None:
    """Everything the JVM, the Python workers and the engine write goes
    under the run's scratch dir inside the checkout."""
    root = os.getcwd()
    tmp = os.path.join(scratch, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_GRAFT_MASTER": f"local[{n_cores}]",
        "SPARK_GRAFT_SHUFFLE": str(SHUFFLE_PARTITIONS),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(scratch, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(
                "spark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse")),
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"),
            "pyspark-shell",
        ]),
    })


def start_session():
    from geowave_spark import deploy
    from geowave_spark.session import get_spark

    # executors import the package from the zip the engine ships; build
    # it inside the run's scratch dir instead of the engine's /tmp default
    orig = deploy.build_zip
    zip_path = os.path.join(os.environ["TMPDIR"], "geowave_spark_pyfiles.zip")
    deploy.build_zip = lambda path=None: orig(path or zip_path)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def engine_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by this client process, the JVM and the
    JVM's Python workers."""
    t = os.times()
    return t.user + t.system + harness.tree_cpu_s(jvm)


def stop_session(spark) -> None:
    """Stop Spark if it started, then wait for the JVM and its Python
    workers to exit (also after a start-up that was interrupted)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = []
    if proc is not None:
        procs = [proc.pid] + harness.children(proc.pid)
        for c in list(procs[1:]):
            procs += harness.children(c)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for p in procs:
            while harness._pid_alive(p) and time.time() < deadline:
                time.sleep(0.1)
            if harness._pid_alive(p):
                os.kill(p, 9)


def run(args, scratch: str, context: dict) -> dict:
    from layers import index_metrics, layer_metrics
    from workloads import WORKLOADS

    n_cores = context["cores"]
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    tracer = harness.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    session = {}

    spark = None
    try:
        with tracer.span("session.jvm_start"):
            t0 = time.perf_counter()
            spark = start_session()
            session["jvm_start_s"] = time.perf_counter() - t0
        pid = jvm_pid(spark)
        with tracer.span("session.fixture"):
            t0 = time.perf_counter()
            wl.inputs = wl.make_inputs()
            wl.load(spark)
            session["fixture_s"] = time.perf_counter() - t0
        runner = harness.Runner(spark, tracer, lambda: engine_cpu_s(pid))
        ops = wl.ops()
        with tracer.span("session.warmup"):
            t0 = time.perf_counter()
            runner.passes(ops, "warmup", 0.0, WARMUP_PASSES, job_groups=False)
            session["warmup_s"] = time.perf_counter() - t0
        setup_s = session["jvm_start_s"] + session["fixture_s"] + session["warmup_s"]

        passes = runner.passes(ops, "timed", args.seconds, MIN_PASSES, job_groups=False)
        walls = runner.op_walls("timed")
        run_s = harness.median(passes)
        per_layer, stage, probe_errors = {}, {}, []
        if args.trace:
            traced = runner.passes(ops, "traced", args.seconds, 1, job_groups=True)
            stage = harness.op_stage_summary(runner, "traced", n_cores)
            per_layer = trace_metrics(stage, traced, run_s, session, wl, n_cores)
            with tracer.span("layers"):
                points = wl.point_table()
                per_layer.update(layer_metrics(
                    spark, points, wl.probe_regions(), wl.probe_images(), tracer))
                index, probe_errors = index_metrics(
                    spark, points, os.path.join(scratch, "data"), args.seed, tracer)
                per_layer.update(index)
        op_detail = {f"{op}.{k}": v[k] for op, v in stage.items() for k in OP_STAGE_KEYS}
        op_detail.update(wl.op_layer_metrics(stage))

        with tracer.span("verify"):
            try:
                verify_errors = wl.verify()
            except Exception as exc:
                verify_errors = [f"verify raised {type(exc).__name__}: {exc}"]
        rss = harness.proc_peak_rss_mb(pid)
    finally:
        stop_session(spark)

    run_cpu_s = harness.median(runner.pass_cpu_s["timed"])
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.input_rows() / run_s,
        "run_cpu_s": run_cpu_s,
        "rows_per_cpu_s": wl.input_rows() / run_cpu_s,
        "shuffle_mb": harness.median(runner.pass_shuffle_bytes["timed"]) / 2**20,
        "jvm_peak_rss_mb": rss,
    }
    # the once-per-run oracle verification counts as one attempted op, and
    # so do the checked index probes of a traced run
    errors = runner.errors() + verify_errors + probe_errors
    failed = (sum(1 for c in runner.calls if c.error)
              + bool(verify_errors) + bool(probe_errors))
    attempted = len(runner.calls) + 1 + args.trace
    if args.trace:
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        tracer.dump(os.path.join(
            harness.OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    return {
        "workload": args.workload,
        "context": context,
        "session": session,
        "end_to_end": e2e,
        "per_layer": per_layer,
        "op_detail": op_detail,
        "op_stages": stage,
        "op_latency_s": {op: {"median": harness.median(w), "samples": len(w), "all": w}
                         for op, w in walls.items()},
        "passes_s": passes,
        "passes_cpu_s": runner.pass_cpu_s["timed"],
        "passes_shuffle_bytes": runner.pass_shuffle_bytes["timed"],
        "ops_failed_frac": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "output_digest": output_digest(wl),
        "extra": {k: v for k, v in wl.extra.items() if isinstance(v, (int, float))},
    }


def trace_metrics(stage, traced_passes, run_s, session, wl, n_cores) -> dict:
    tot = {k: sum(v[k] for v in stage.values())
           for k in ("exec_cpu_s", "exec_run_s", "gc_s", "shuffle_write_bytes", "wall_s")}
    return {
        "session.jvm_start_s": session["jvm_start_s"],
        "session.fixture_s": session["fixture_s"],
        "session.warmup_s": session["warmup_s"],
        "stages.exec_cpu_s": tot["exec_cpu_s"],
        "stages.exec_run_s": tot["exec_run_s"],
        "stages.gc_s": tot["gc_s"],
        "stages.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
        "stages.shuffle_bytes_per_input_byte": tot["shuffle_write_bytes"] / wl.input_bytes(),
        "stages.task_skew": max(v["task_skew"] for v in stage.values()),
        "stages.core_busy_frac": tot["exec_run_s"] / (tot["wall_s"] * n_cores),
        "trace.overhead_s": harness.median(traced_passes) - run_s,
    }


def output_digest(wl) -> dict:
    """Order-free digest of each op's reference output, to compare runs
    (float columns that depend on summation order are left out)."""
    import hashlib

    import pandas as pd

    from workloads import canon

    out = {}
    for name, ref in wl.refs.items():
        frame = canon(ref.ref.drop(columns=[c for c in ("weight", "pct", "sim") if c in ref.ref]))
        raw = pd.util.hash_pandas_object(frame, index=False).values.tobytes()
        out[name] = hashlib.sha256(raw).hexdigest()[:16]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(SPEC_FILE) or not os.path.isfile(
            os.path.join("geowave_spark", "session.py")):
        print(f"perfbench: run from the repository root ({SPEC_FILE} or "
              "geowave_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0 or args.scale <= 0:
        print("perfbench: --seconds and --scale must be positive", file=sys.stderr)
        return 2

    swept = harness.sweep_dead_scratch()
    scratch = harness.make_run_scratch()
    n_cores = cores()
    context = {
        "nproc": os.cpu_count(), "cores": n_cores, "master": f"local[{n_cores}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS, "seed": args.seed,
        "seconds": args.seconds, "scale": args.scale, "trace": args.trace,
        "git_commit": git_commit(), "loadavg_entry": os.getloadavg(),
        "pressure_entry": harness.pressure(),
        "swept_scratch": swept, **harness.host_memory(),
    }
    configure_env(scratch, n_cores)
    try:
        report = run(args, scratch, context)
    finally:
        # a JVM whose start-up was interrupted has no gateway to stop it
        harness.kill_users_of(scratch + os.sep)
        shutil.rmtree(scratch, ignore_errors=True)
    context["loadavg_exit"] = os.getloadavg()
    context["pressure_exit"] = harness.pressure()

    print_report(report)
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=1, default=float)
    values = report["per_layer" if args.trace else "end_to_end"]
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in metric_units("per_layer" if args.trace else "end_to_end").items()}
    correct = report["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if correct else 1


def print_report(r: dict) -> None:
    print(f"context {json.dumps(r['context'])}")
    for k, v in r["session"].items():
        if not isinstance(v, list):
            print(f"session.{k} = {v:.4f} s")
    for op, v in r["op_latency_s"].items():
        print(f"{op}_s = {v['median']:.4f} s (median of {v['samples']})")
    print(f"run_s passes = {[round(x, 4) for x in r['passes_s']]}")
    for k, u in (PRINTED_UNITS | metric_units("end_to_end")).items():
        print(f"{k} = {r['end_to_end'][k]:.6g} {u}")
    print(f"ops_failed_frac = {r['ops_failed_frac']:.4g} ({r['failed']}/{r['attempted']})")
    for k, u in metric_units("per_layer").items():
        if k in r["per_layer"]:
            print(f"{k} = {r['per_layer'][k]:.6g} {u}")
    for k, v in r["op_detail"].items():
        print(f"{k} = {v:.6g}")
    for e in r["errors"]:
        print(f"ERROR {e}")


if __name__ == "__main__":
    sys.exit(main())
