"""Validation-engine benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload full_suite --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up starts one Spark session sized to the
machine, materializes the workload's seeded synthetic input to parquet and
computes the oracle's expected counts with DuckDB. Operations then run back
to back, starting in the fresh session, until ``--seconds`` have passed;
the oracle checks each. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics with
``--trace 0``; with ``--trace 1``, per-layer metrics from one untraced and
one traced warm operation and the per-layer probe (spans are written to
``.perfbench_work/traces/``). Everything the run writes stays under
``.perfbench_work/`` in the working directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench_work"


def machine() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": cpus, "ram_gib": round(mem_kb / (1 << 20), 1)}


def configure_env(hw: dict, tmp: Path) -> dict:
    """Size the session from outside through the engine's own env vars and
    keep every temporary file inside the working directory."""
    driver_gib = max(1, min(4, int(hw["ram_gib"]) // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(hw["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        # every JVM (launcher and driver): temp files and no perf-data file
        # under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for its process tree."""
    from pyspark import SparkContext

    from metrics import process_tree

    proc = getattr(SparkContext._gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and
                                         _state(p) not in ("Z", "X") for p in tree):
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"


def closed_loop(op, seconds: float, counters: dict) -> list:
    """Issue operations back to back until ``seconds`` have passed (>= 1 op)."""
    results, t_end = [], time.perf_counter() + seconds
    while True:
        results.append(run_op(op, len(results), counters))
        if time.perf_counter() >= t_end:
            return results


def run_op(op, k: int, counters: dict):
    """One operation at the boundary that must keep running: an exception or
    an oracle mismatch counts the operation as failed."""
    counters["attempted"] += 1
    t0 = time.perf_counter()
    try:
        r = op(k)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        counters["failed"] += 1
        return None, time.perf_counter() - t0
    if r.problems:
        counters["failed"] += 1
        print(f"op{k} failed the oracle: {r.problems}", file=sys.stderr)
    return r, r.latency_s


def op_details(results: list) -> list[dict]:
    """Per-operation diagnostics for the info line (None: the op raised)."""
    return [{"latency_s": lat} if r is None else
            {"latency_s": lat, "resume_s": r.resume_s, "noop_rerun_s": r.noop_rerun_s,
             "runner_timings": r.timings} for r, lat in results]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "semantic_log_detector_spark" / "plans" / "runner.py").is_file():
        print(f"no engine source under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    hw = machine()
    run_dir = WORK / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = configure_env(hw, run_dir / "tmp")
    try:
        return bench(args, hw, env, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, hw: dict, env: dict, run_dir: Path) -> int:
    import pyspark

    import metrics
    import oracle
    import workloads
    from semantic_log_detector_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    op_fn = workloads.OPS[wl.name]
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}",
                      extra_conf={"spark.sql.warehouse.dir": str(run_dir / "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rss = metrics.PeakRss()
    rss.start(metrics.java_children(os.getpid()))
    try:
        inp, shard_s = workloads.materialize(spark, wl, str(run_dir / "input"), args.seed)
        truth = oracle.input_truth(inp.clips, inp.transcripts)

        counters = {"attempted": 0, "failed": 0}

        def op(k):
            return op_fn(spark, wl, inp, truth, str(run_dir / "ops" / f"op{k}"))

        # the closed loop starts in the fresh session: its first operation
        # pays the cold start every spark-submit pays
        window = closed_loop(op, args.seconds, counters)
        info = {"workload": wl.name, "seed": args.seed, "machine": hw,
                "pyspark": pyspark.__version__, "env": env,
                "input_rows": inp.n_rows, "shard_setup_s": shard_s,
                "session_s": session_s, "ops": op_details(window)}
        if args.trace:
            values = traced(spark, op, args, counters, run_dir, rss, info)
            wanted = spec["per_layer"]
        else:
            values = metrics.end_to_end(session_s, shard_s, inp.n_rows,
                                        [lat for _, lat in window])
            wanted = spec["end_to_end"]
        info["peak_rss_mb"] = rss.stop()
        info["fail_ratio"] = metrics.fail_ratio(counters["failed"], counters["attempted"])
        print(json.dumps({"info": info}))
    finally:
        rss.stop()
        stop_spark(spark)
    missing = sorted({m["name"] for m in wanted} - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"correct": counters["failed"] == 0, "attempted": counters["attempted"],
                      "failed": counters["failed"],
                      "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                              "unit": m["unit"]} for m in wanted}}))
    return 0


def traced(spark, op, args, counters: dict, run_dir: Path, rss, info: dict) -> dict:
    """One untraced and one traced warm operation, then the per-layer probe."""
    import probe
    from spans import Tracer, format_self_times

    untraced, untraced_s = run_op(op, 1000, counters)
    tracer = Tracer()
    probe.install_spans(tracer)
    try:
        with tracer.trace("op1001"):
            traced_r, traced_s = run_op(op, 1001, counters)
        with tracer.trace("probe", name="probe"):
            values = probe.run_probe(spark, tracer, str(run_dir / "probe"), args.seed)
    finally:
        tracer.restore()
    values["workload.warm_op_s"] = untraced_s
    values["workload.peak_rss_mb"] = rss.stop()
    values["trace.overhead_s"] = traced_s - untraced_s
    info["warm_ops"] = op_details([(untraced, untraced_s), (traced_r, traced_s)])

    trace_dir = WORK / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))
    print(format_self_times(tracer.spans))
    print(f"tracing overhead: {values['trace.overhead_s']:+.3f} s per operation "
          f"(traced {traced_s:.3f} s vs untraced {untraced_s:.3f} s)")
    return values


if __name__ == "__main__":
    sys.exit(main())
