"""Benchmark entry point.

    python3 perfbench/run.py --workload derived_deps --seed 1 --seconds 20 --trace 0

Runs one workload for about --seconds in whole rounds (at least one), checks
every output, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, from an
untraced run of the same seed in a child process (call timings) plus a run
with Spark's event log on (job/task counters), and trace.overhead_s.
"""

T_PROCESS = __import__("time").time()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them under `kind`
    ("end_to_end" or "per_layer")."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def spark_factory(work: str, cores: int, event_dir: str | None):
    from pcd_spark.session import get_spark

    def make():
        confs = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start, so peak RSS
            # does not depend on when GC chooses to grow it (README, "Memory")
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", cores=cores, extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return make


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus the Python driver's ru_maxrss."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def run_rounds(wl, seconds: float) -> list:
    """Whole rounds until `seconds` have passed; a round is started only
    when the last one would still fit."""
    rounds, t0 = [], time.time()
    while True:
        r0 = time.time()
        rounds.append(wl.one_round())
        last = time.time() - r0
        if time.time() - t0 + last > seconds:
            return rounds


def measure(args, traced: bool) -> dict:
    """One run of the workload in this process. Returns the result record."""
    from perfbench.workloads import WORKLOADS, call_layers, end_to_end

    work = os.path.join(WORK, f"{args.workload}-t{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the program's driver-heap setting (session.py); under its 32g default
    # the heap grows as GC ergonomics decide, and peak RSS spread 3.2-5.4 GB
    # across runs of one workload, so it is pinned (README, "Memory")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if traced else None
    wl = WORKLOADS[args.workload](spark_factory(work, cores, event_dir), work, args.seed)
    wl.traced = traced
    setup_s = wl.start(T_PROCESS)
    spark = wl.spark
    try:
        rounds = run_rounds(wl, args.seconds)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    errors = []
    for r in rounds:
        errors += wl.check(r)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    e2e = end_to_end(wl, rounds)
    e2e.update(setup_s=setup_s, peak_rss_mb=rss)
    rec = {
        "correct": not errors,
        "attempted": sum(r.attempted for r in rounds),
        "failed": sum(r.failed for r in rounds),
        "rounds": len(rounds),
        "e2e": e2e,
        "layers": call_layers(wl, rounds),
        "spans": wl.rec.spans,
    }
    if traced:
        logs = os.listdir(event_dir)
        rec["event_log"] = os.path.join(event_dir, logs[0])
        rec["event_log_bytes"] = os.path.getsize(rec["event_log"])
    return rec


def result_line(rec: dict, metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full run record (JSON) here")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pcd_spark  # noqa: F401  -- fails outside a checkout of the program
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    if not args.trace:
        rec = measure(args, traced=False)
        if args.record:
            with open(args.record, "w") as f:
                json.dump(rec, f)
        print(result_line(rec, rec["e2e"], declared_units("end_to_end")))
        return 0

    from perfbench.eventlog import fold_file

    # untraced run of the same seed: call timings and the reference wall_s
    os.makedirs(WORK, exist_ok=True)
    untraced_path = os.path.join(WORK, f"{args.workload}-untraced.json")
    child = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
             "--record", untraced_path]
    subprocess.run(child, check=True, stdout=subprocess.DEVNULL)
    with open(untraced_path) as f:
        untraced = json.load(f)
    traced = measure(args, traced=True)
    folded = fold_file(traced["event_log"], traced["spans"])
    metrics = dict(untraced["layers"])
    for layer, fields in folded.items():
        metrics.update({f"{layer}.{f}": v for f, v in fields.items()})
    metrics["trace.overhead_s"] = traced["e2e"]["wall_s"] - untraced["e2e"]["wall_s"]
    units = declared_units("per_layer")
    # a layer the workload does not exercise reads 0
    metrics = {k: metrics.get(k, 0.0) for k in units}
    rec = {
        "correct": untraced["correct"] and traced["correct"],
        "attempted": untraced["attempted"] + traced["attempted"],
        "failed": untraced["failed"] + traced["failed"],
    }
    if args.record:
        with open(args.record, "w") as f:
            json.dump({**traced, "untraced": untraced, "metrics": metrics}, f)
    print(f"event log: {traced['event_log_bytes']} bytes", file=sys.stderr)
    print(result_line(rec, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
