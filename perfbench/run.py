"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs a closed loop: set-up
(from process start: JVM launch, session, inputs, table cache), one cold
pass, then warm passes until ``--seconds`` have elapsed (at least one).
Every pass is verified. Spark runs as ``local[nproc]`` and all scratch
files live in ``.perfbench/`` under the root; nothing else is written.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
traced run that reports the per-layer metrics (``layers.py``). The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the run's context (nproc, load, steal, pass counts,
sample counts, failed_share and any problems).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "series_tiempo_ar_scraping_spark"


def load_spec(root: str = ROOT) -> dict:
    """BENCHMARK.json: the workload names and every metric with its unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def start_session(work: str, nproc: int, trace: bool):
    from series_tiempo_ar_scraping_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # complete per-group job counts: one etl pass runs ~200 jobs
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "40000",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = session.get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Python workers import the package through PYTHONPATH (set in main),
    # so the package zip that would otherwise be written to /tmp is not
    # needed.
    session._SHIPPED_SESSIONS.add(id(spark))
    return spark


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, nproc: int) -> tuple[dict, dict]:
    import lanes
    import layers

    trace = bool(args.trace)
    etl = args.workload == "etl_catalog"
    setup = lanes.etl_inputs if etl else lanes.lane_inputs
    body = lanes.run_etl_pass if etl else lanes.run_lane_pass

    spark = start_session(work, nproc, trace)
    boot_s = time.perf_counter() - T0
    inputs = setup(spark, os.path.join(work, "inputs"), args.seed)
    setup_s = time.perf_counter() - T0
    sc = spark.sparkContext
    tracer = layers.Tracer(sc) if trace else None
    if tracer and etl:
        layers.install_etl(tracer)

    tally = {"attempted": 0, "failed": 0, "problems": []}
    persisted = [persisted_rdds(spark)]

    def one_pass(k: int) -> float:
        if tracer:
            tracer.pass_id = k
        t = time.perf_counter()
        with tracer.span("pass") if tracer else contextlib.nullcontext():
            (att, fail, probs), cleanup = body(spark, inputs, work, k, tracer)
        elapsed = time.perf_counter() - t
        cleanup()
        tally["attempted"] += att
        tally["failed"] += fail
        tally["problems"] += probs
        persisted.append(persisted_rdds(spark))
        return elapsed

    cold = one_pass(0)
    warm: list[float] = []
    t_warm = time.perf_counter()
    while not warm or time.perf_counter() - t_warm < args.seconds:
        warm.append(one_pass(len(warm) + 1))

    # before the checks: DuckDB runs inside this process
    jvm = type(sc)._gateway.proc
    rss_mb = {"python": vm_hwm_kb("self") / 1024, "jvm": vm_hwm_kb(jvm.pid) / 1024}
    peak_rss_mb = sum(rss_mb.values())
    t_check = time.perf_counter()
    if not etl:
        bad, probs = lanes.oracle_check(spark, inputs)
        tally["failed"] += len(bad) * (1 + len(warm))
        tally["problems"] += probs

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold,
            "pass_s": statistics.median(warm),
            "peak_rss_mb": peak_rss_mb,
        }
    else:
        metrics = {m["name"]: 0.0 for m in load_spec()["per_layer"]}
        metrics.update(layers.isolated_runs(tracer) if etl else {})
        app_id = sc.applicationId
        spark.stop()
        work_by_group = layers.spark_work_by_group(os.path.join(work, "events"), app_id)
        metrics.update(layers.layer_metrics(tracer.spans, work_by_group,
                                        list(range(1, len(warm) + 1))))
        # persisted[k] is the count after pass k-1; warm passes only
        growth = [b - a for a, b in zip(persisted[1:], persisted[2:])]
        metrics["session.boot_s"] = boot_s
        metrics["session.persisted_rdds_growth"] = statistics.median(growth)
        metrics["trace.pass_s"] = statistics.median(warm)
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "loadavg": list(os.getloadavg()),
        "passes": {"cold": 1, "warm": len(warm)},
        "samples": {"setup_s": 1, "cold_pass_s": 1, "pass_s": len(warm),
                    "peak_rss_mb": 1},
        "boot_s": boot_s, "warm_passes_s": warm, "pass_max_s": max(warm),
        "check_s": time.perf_counter() - t_check, "rss_mb": rss_mb,
        "failed_share": tally["failed"] / max(1, tally["attempted"]),
        "persisted_rdds": persisted,
        "problems": tally["problems"][:20],
    }
    result = {
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
    }
    spec = load_spec()[("per_layer" if trace else "end_to_end")]
    result["metrics"] = {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec
    }
    return result, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG} not found under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    workloads = [w["name"] for w in load_spec()["workloads"]]
    if args.workload not in workloads:
        ap.error(f"--workload must be one of {workloads}")

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # the JVM spark-submit starts to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(
            p for p in [ROOT, os.environ.get("PYTHONPATH")] if p),
    })
    if args.workload == "query_lane":
        os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    sys.path[:0] = [HERE, ROOT]
    os.chdir(work)
    stat0 = cpu_times()
    result = None
    try:
        result, context = run(args, work, nproc)
    finally:
        from pyspark.sql import SparkSession

        shutdown(SparkSession.getActiveSession())
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    context["steal_pct"] = steal_pct(stat0, cpu_times())
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
