"""KG-construction benchmark for morph_kgc_spark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_tpch --seed 1 --seconds 5 --trace 0

One closed-loop client: one driver process at ``local[<nproc>]`` runs
repetitions back to back. The seed only shapes the generated inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
set-up and untraced repetitions, then one traced repetition and the
pipeline-prefix runs, and prints the per-layer metrics. Either way the
last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
run's context (host disclosure, heap, sample counts, input sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_REPS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_tpch", "kg_mapping_wide", "web_crawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def heap_gb() -> int:
    """Driver heap sized to the host: a fifth of RAM, 1-4 GB."""
    import probe

    return max(1, min(4, probe.mem_total_mb() // 5 // 1024))


def start_spark(cores: int, heap: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def percentile_note(samples: list[float]) -> dict:
    """Median, count, and the highest percentile with at least ten
    samples beyond it (none below eleven samples)."""
    n = len(samples)
    note = {"samples": n, "median_s": statistics.median(samples),
            "walls_s": samples}
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        note[f"p{p}_s"] = sorted(samples)[int(n * p / 100) - 1]
    else:
        note["highest_supported_percentile"] = None
    return note


def measure(wl, spark, seconds: float, jvm: int) -> dict:
    """Closed loop: repetitions back to back for ``seconds``, and at least
    MIN_REPS."""
    import probe

    walls, cpus, results, failed = [], [], [], 0
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_REPS or time.perf_counter() < t_end:
        c0, t0 = probe.cpu_now(jvm), time.perf_counter()
        try:
            res = wl.rep(spark)
        except Exception:
            res = None
            log(traceback.format_exc())
        wall, cpu = time.perf_counter() - t0, probe.cpu_now(jvm) - c0
        walls.append(wall)
        cpus.append(cpu)
        if res is not None:
            try:
                wl.check(res)
                results.append(res)
            except AssertionError:
                res = None
                log(traceback.format_exc())
        failed += res is None
        wl.cleanup(spark)
        if failed > 3 and not results:
            break
    return {"walls": walls, "cpus": cpus, "results": results, "failed": failed}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "morph_kgc_spark")):
        log("morph_kgc_spark not found: run from the repository root")
        return 2
    sys.path[:0] = [HERE, ROOT]
    # keep every temporary file inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    import probe
    import workloads

    host_start = probe.host_facts()
    cores = host_start["nproc"]
    heap = heap_gb()
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    t0 = time.perf_counter()
    inputs = wl.prepare()
    prepare_s = time.perf_counter() - t0

    # set-up, once: JVM and session start + one untimed warm-up repetition
    t0 = time.perf_counter()
    spark = start_spark(cores, heap)
    try:
        wl.rep(spark)
        setup_s = time.perf_counter() - t0
        wl.cleanup(spark)
        jvm = probe.jvm_pid(spark)

        run = measure(wl, spark, args.seconds, jvm)
        peak_rss = probe.vm_hwm_mb(jvm)
        run_s = statistics.median(run["walls"])
        ok = run["results"]
        triples = statistics.median(r["triples"] for r in ok) if ok else 0
        context = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_heap_gb": heap, "mem_total_mb": probe.mem_total_mb(),
            "host_start": host_start, "inputs": inputs, "facts": wl.facts,
            "prepare_s": prepare_s, "setup_s": setup_s,
            "run": percentile_note(run["walls"]), "selftest": wl.selftest,
            "triples": triples,
            "failed_frac": run["failed"] / len(run["walls"]),
        }
        if args.trace:
            import layers

            metrics = layers.traced(wl, spark, run_s, cores, context, WORK)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_s": (run_s, "s"),
                "triples_per_s": (triples / run_s, "1/s"),
                "cpu_s": (statistics.median(run["cpus"]), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
                "bytes_per_triple": (wl.bytes_per_triple(ok) if ok else 0.0, "B"),
            }
    finally:
        stop_jvm(spark)
    context["host_end"] = probe.host_facts()
    correct = (run["failed"] == 0 and wl.selftest["drop_caught"]
               and wl.selftest["alter_caught"])
    print(json.dumps(context, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": len(run["walls"]),
        "failed": run["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
