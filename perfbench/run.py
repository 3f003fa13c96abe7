"""Benchmark of the spark_search engine: one command, one Spark process.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Starts one SparkSession on
``local[nproc]``, generates the workload's inputs from ``--seed``,
builds what the workload needs (timed as ``setup_s``), then measures
whole units of work (serve-hot: rounds in which each of two clients
sends one query per class; update-mix: upsert/delete cycles) until ``--seconds`` have passed, at
least one, and checks every result against the suite's pure-Python
BM25 oracle. ``--trace 1`` is the separate traced run: it
prints the per-layer metrics instead of the end-to-end ones and writes
its spans beside the run's scratch directory.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding exactly the
metrics BENCHMARK.json lists for the chosen ``--trace``. The line before
it, prefixed ``report``, holds everything else: error rate, tail
latency with its percentile and sample count, descriptors, machine and
input hash, and the host's state during the run (``host_probe_s``, a
fixed pure-Python loop; on serve-hot ``loop_steal_s``, CPU seconds the
shared host took during the timed loop), to tell host drift from a
program change.

End-to-end metrics (both workloads):
  setup_s                     session, corpus, index build, oracle
                              expectations and warm-up
  op_p50_s                    median latency of the workload's own
                              operation: one query (serve-hot); one
                              upsert or delete until its first correct
                              answer (update-mix)
  query_p50_s                 median latency (search call + .collect())
                              of each query class, averaged over the
                              classes (serve-hot: exact, or3, and2,
                              prefix, many16, point; update-mix: the hot
                              OR query and the fresh-token query)
  queries_per_s               serve-hot: queries completed per second in
                              the closed loop; update-mix: queries per
                              second spent querying
  build_docs_per_s            documents per second of the workload's
                              first (cold) build_index
  index_bytes_per_input_byte  index bytes on disk per corpus content
                              byte: the built index (serve-hot); every
                              directory the last generation reads, its
                              segments and tombstones (update-mix)

Layer -> end-to-end metric it should move (workload):
  build.postings.wall_s, build.terms.wall_s, build.unattributed_s,
  build.spark.*               -> build_docs_per_s, setup_s (both)
  build.docs.wall_s           -> build_docs_per_s once it outgrows postings
  build.*.bytes/rows/files    -> index_bytes_per_input_byte (both)
  query.call_s                -> query_p50_s (both)
  query.collect_s             -> query tail (serve-hot); ~0 on update-mix
  query.<class>.p50_s         -> query_p50_s (serve-hot)
  query.reader_open_s         -> op_p50_s (update-mix)
  query.<class>.sigma_df, .matched_terms, .spark_jobs: descriptors
  spark.*_per_query           -> query_p50_s (both)
  codec.decode_us_per_block   -> query tail (serve-hot), compact (update-mix)
  codec.encode_us_per_block   -> build_docs_per_s (both)
  maintain.upsert_s, .delete_s, checkpoint.manifest_load_s
                              -> op_p50_s (update-mix)
  maintain.compact.*          -> compact_s (update-mix, report line;
                              the traced run only)
  maintain.segments, .tombstones -> query_p50_s (update-mix)
  proc.cpu_s_per_op           -> queries_per_s (serve-hot)
A per-layer metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve-hot", "update-mix")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: input sizes for the smoke test")
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def _session(nproc: int, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # JVM temp files inside the checkout; no hsperfdata file in the
        # system temp directory. The JIT stops at C1: a run is too short
        # for C2 to finish, and its compiler threads took one to two of
        # the four cores all through the timed loop, so latency depended
        # on how far they had got. C1 alone keeps the tiered code cache
        # size, which it would otherwise cut to 48 MB.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _host_probe() -> float:
    """Seconds of a fixed pure-Python loop: the shared host's speed at
    the time of the run, reported beside the metrics to tell host drift
    from a change in the program."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def _machine(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1), "spark": spark.version,
            "python": sys.version.split()[0]}


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_search", "query.py")):
        print(f"perfbench: no spark_search package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{a.workload}-s{a.seed}-p{os.getpid()}")
    os.makedirs(work)
    # Python workers import the engine from this checkout, and every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    from perfbench import inputs, workloads

    probe_s = _host_probe()
    t = time.time()
    spark = _session(nproc, work)
    session_s = time.time() - t
    try:
        ctx = workloads.Ctx(spark, a.seed, a.seconds, bool(a.trace),
                            inputs.SIZES[a.scale], work, nproc)
        run = workloads.serve_hot if a.workload == "serve-hot" else workloads.update_mix
        res = run(ctx)
        machine = _machine(spark)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    produced = res.layers if a.trace else res.e2e
    metrics = {m["name"]: {"value": float(produced.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale, "machine": machine,
        "session_start_s": session_s, "host_probe_s": probe_s,
        "inputs_sha": res.report.pop("inputs_sha", None),
        "error_rate": res.failed / max(1, res.attempted),
        "end_to_end": res.e2e, "per_layer": res.layers,
        "not_exercised": sorted(m for m in metrics if m not in produced),
        "unlisted": sorted(m for m in produced if m not in metrics),
        **res.report,
    }
    print("report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({
        "correct": res.failed == 0, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
