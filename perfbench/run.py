"""Extraction benchmark: one workload, closed loop, one Spark process.

    env SPARK_DRIVER_MEM=... SPARK_JVM_OPTS=... \\
        python3 perfbench/run.py --workload mixed --seed 1 --seconds 18 --trace 0

Run from the repository root (BENCHMARK.json's `command` carries the
heap settings).  The program under test is the `mimeograph_spark`
package next to this directory, driven through its public API on
`local[4]`: set-up, untimed warm-up runs, then timed runs back to back
until `--seconds` have passed, each checked against the oracle.
`--trace 1` adds one traced pass over every layer afterwards and
reports per-layer metrics instead of end-to-end ones.

The last stdout line is the result object; the line before it is the
full report (every run, and each metric's median and quartiles).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
CORES = 4
# set-ups per invocation; setup_s is the launch plus their median
SETUPS = 3
# untimed runs before timing: at least WARMUP_RUNS, for at least WARMUP_S.
# On megapage_skew the JVM's CPU time per run kept falling for about 15 s
# of runs (JIT); a shorter warm-up leaves that trend in the timed runs.
WARMUP_RUNS, WARMUP_S = 2, 12.0
REQUIRED_ENV = ("SPARK_DRIVER_MEM", "SPARK_JVM_OPTS")
T_START = time.perf_counter()


def _quartiles(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2],
            "runs": values}


def _configure_env(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside `run_dir`, and
    let the UDF workers import the package from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, spark-submit's launcher too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        f" -XX:ErrorFile={WORK}/hs_err_pid%p.log"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _timed_loop(wl, jvm: int, seconds: float) -> list[dict]:
    from perfbench import procstat

    records = []
    with procstat.Sampler(jvm) as sampler:
        deadline = time.perf_counter() + seconds
        while not records or time.perf_counter() < deadline:
            rec = {"ok": False, "mismatch_docs": 0}
            sampler.reset()
            cpu0, host0 = procstat.cpu_s(jvm), procstat.host_steal()
            t0 = time.perf_counter()
            try:
                out = wl.run()
                rec["wall_s"] = time.perf_counter() - t0
                cpu1, host1 = procstat.cpu_s(jvm), procstat.host_steal()
                rec["peak_rss_mb"] = sampler.peak
                rec["mismatch_docs"] = wl.verify(out)
                rec["ok"] = rec["mismatch_docs"] == 0
            except Exception:
                traceback.print_exc()
                records.append(rec)
                continue
            rec["docs_per_s"] = wl.docs_out / rec["wall_s"]
            rec["pages_per_s"] = wl.pages / rec["wall_s"]
            rec["jvm_cpu_s"] = cpu1[0] - cpu0[0]
            rec["py_cpu_s"] = cpu1[1] - cpu0[1]
            rec["cpu_util"] = (rec["jvm_cpu_s"] + rec["py_cpu_s"]) / (
                rec["wall_s"] * CORES
            )
            rec["steal_frac"] = (host1[1] - host0[1]) / max(host1[0] - host0[0], 1)
            records.append(rec)
    return records


def _layer_metrics(wl, spark, args, launch_s: float, med) -> tuple[dict, int]:
    """One traced pass over every layer -> (per-layer metrics, traced
    mismatches); the spans go to perfbench/.work/traces/."""
    from perfbench.tracing import Tracer

    tr = Tracer(spark, f"{args.workload}-seed{args.seed}")
    layer, bad = wl.trace(tr)
    traced_dps = wl.docs_out / tr.duration("pipeline.extract")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.dump(os.path.join(
        WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    return {
        "session.get_spark_s": launch_s,
        **layer,
        "proc.jvm_cpu_s": med("jvm_cpu_s"),
        "proc.py_cpu_s": med("py_cpu_s"),
        "proc.cpu_util": med("cpu_util"),
        "host.steal_frac": med("steal_frac"),
        **{f"spark.{k}": tr.get("pipeline.extract")[k]
           for k in ("stages", "tasks", "failed_tasks")},
        "trace.docs_per_s": traced_dps,
        "trace.overhead_frac": 1 - traced_dps / med("docs_per_s"),
    }, bad


def _bench(args, run_dir: str, workload) -> int:
    from pyspark import SparkContext

    from mimeograph_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]")
    launch_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm = SparkContext._gateway.proc.pid
        wl = workload(spark, run_dir, args.seed)
        prepare_s, prepare_parts = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t0)
            prepare_parts.append(wl.prep_parts)

        warm_ok, warmup_s = True, []
        t_warm = time.perf_counter()
        while (len(warmup_s) < WARMUP_RUNS
               or time.perf_counter() - t_warm < WARMUP_S):
            t0 = time.perf_counter()
            warm_ok &= wl.verify(wl.run()) == 0
            warmup_s.append(time.perf_counter() - t0)
        records = _timed_loop(wl, jvm, args.seconds)
        good = [r for r in records if "docs_per_s" in r]
        if not good:
            print("every timed run raised", file=sys.stderr)
            return 1
        attempted = len(records)
        failed = sum(not r["ok"] for r in records)
        mismatched = sum(r["mismatch_docs"] for r in records)

        def med(key: str) -> float:
            return statistics.median(r[key] for r in good)

        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "launch_s": launch_s,
            "prepare_s": prepare_s, "prepare_parts": prepare_parts,
            "warmup_s": warmup_s,
            "docs": wl.docs_out, "pages": wl.pages, "oracle": wl.expected,
            "records": records,
            "stats": {k: _quartiles([r[k] for r in good]) for k in (
                "wall_s", "docs_per_s", "pages_per_s", "peak_rss_mb",
                "jvm_cpu_s", "py_cpu_s", "cpu_util", "steal_frac")},
        }
        correct = warm_ok and failed == 0
        if args.trace:
            metrics, bad = _layer_metrics(wl, spark, args, launch_s, med)
            metrics["check.mismatch_docs"] = mismatched
            metrics["check.error_rate"] = failed / attempted
            correct = correct and bad == 0
        else:
            metrics = {
                "docs_per_s": med("docs_per_s"),
                "pages_per_s": med("pages_per_s"),
                "setup_s": launch_s + statistics.median(prepare_s),
                "peak_rss_mb": med("peak_rss_mb"),
                "match_frac": 1 - mismatched / (wl.docs_out * attempted),
                "run_ok_frac": 1 - failed / attempted,
            }
        units = _units()
        report["metrics"] = metrics
        report["invocation_s"] = time.perf_counter() - T_START
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mimeograph_spark")):
        print(f"no mimeograph_spark package under {ROOT}", file=sys.stderr)
        return 2
    missing = [k for k in REQUIRED_ENV if not os.environ.get(k)]
    if missing:
        print(f"set {', '.join(missing)} (see BENCHMARK.json)", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        _configure_env(run_dir)
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of "
                  f"{sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return _bench(args, run_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
