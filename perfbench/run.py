#!/usr/bin/env python3
"""KG-construction benchmark for serd_spark.

    python3 perfbench/run.py --workload ttl_colocated --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's input
from ``--seed`` (parquet, under ``.perfbench/``), starts a fresh
``local[N]`` session (N = usable cores, at most 4), runs one untimed
warm-up job, then runs jobs back to back -- a closed loop with one
client -- for ``--seconds`` seconds, checking every job's output
against the generator's truth.  The last line of stdout is one JSON
object: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from jobs import WORKLOADS, dir_bytes  # noqa: E402
from tracing import (  # noqa: E402
    RssSampler, StageLog, Tracer, median, quartile_spread)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and run the program with its own defaults."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]


class Session:
    """The one Spark session of a run.  ``start`` replaces the running
    context (the JVM stays); ``close`` ends the JVM and waits for it."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, n: int, ui: bool):
        from serd_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{n}]",
                               extra_conf={
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_job(w, spark, corpus, paths, out, rss=None) -> dict:
    if rss:
        rss.reset()
    t = time.perf_counter()
    try:
        info = w.job(spark, paths, out)
        wall = time.perf_counter() - t
        chk = w.check(corpus, out, info)
        rec = {"wall": wall, "ran": True, "ok": chk["ok"],
               "problems": chk["problems"], "precision": chk["precision"],
               "recall": chk["recall"], "out_bytes": dir_bytes(out)}
    except Exception:  # a failed job is counted, and the loop goes on
        traceback.print_exc()
        rec = {"wall": time.perf_counter() - t, "ran": False, "ok": False,
               "problems": ["raised"]}
    if rss:
        rec["peak_rss"] = rss.peak
    shutil.rmtree(out, ignore_errors=True)
    return rec


def summary(xs) -> dict:
    s = {"median": median(xs), "n": len(xs)}
    if len(xs) >= 2:
        s["q1"], _, s["q3"] = statistics.quantiles(xs, n=4)
    return s


def traced(w, spark, corpus, paths, work, seconds, tracer, rss):
    """Alternate an untraced job with a traced iteration for
    ``seconds`` (at least two pairs), so both sides are equally warm
    and their difference is the tracing overhead.  Returns the
    untraced jobs, the per-layer metrics and the traced jobs' checks."""
    stages = StageLog(spark)
    out = os.path.join(work, "traced")
    jobs, its, t_end = [], [], time.perf_counter() + seconds
    while len(its) < 2 or time.perf_counter() < t_end:
        jobs.append(run_job(w, spark, corpus, paths,
                            os.path.join(work, "out"), rss))
        tracer.iteration = len(its)
        its.append(w.traced(spark, paths, out, tracer, stages, corpus))
    metrics = w.layers(its, corpus)
    metrics["trace.iterations"] = len(its)
    return jobs, metrics, [i["check"] for i in its]


def parallel_eff(w, sess, paths, n, t_n, tracer) -> dict:
    """The ttl_colocated parse cut on one core against ``t_n``, its
    median on ``n`` cores: speed-up / n."""
    spark = sess.start(1, ui=True)
    effs = []
    for k in range(3):  # the first pass warms the one-core context
        with tracer.span("parse.local1", call="parse→count") as sp:
            w.parsed(spark, paths).count()
        if k:
            effs.append(sp["dur"] / (n * t_n))
    return {"diag.parallel_eff_1to4": median(effs),
            "diag.parallel_eff_1to4_spread":
                (max(effs) - min(effs)) / median(effs)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    n = min(MAX_CORES, len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    import serd_spark  # noqa: F401  (no program: fail before any output)

    work = os.path.join(ROOT, ".perfbench",
                        f"work-{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sess = Session(work)
    rss = RssSampler() if args.trace else None
    try:
        prepare_env(work)
        t = time.perf_counter()
        corpus = w.corpus(args.seed)
        paths = corpus.write(os.path.join(work, "input"))
        gen_total = time.perf_counter() - t
        detail = {"workload": w.name, "seed": args.seed, "trace": args.trace,
                  "cores": n,
                  "corpus": {"digest": corpus.digest(), "gen_s": corpus.gen_s,
                             "write_s": gen_total - corpus.gen_s,
                             "turns": corpus.n_turns,
                             "expected_rows": corpus.expected_rows,
                             "expected_errors": corpus.expected_errors,
                             "input_mb": dir_bytes(paths["turns"]) / 2**20}}
        print(json.dumps({"corpus": detail["corpus"]}), flush=True)
        if rss:
            rss.start()
        t = time.perf_counter()
        # the traced run keeps the UI on throughout: its REST API
        # gives the stage metrics
        spark = sess.start(n, ui=bool(args.trace))
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = run_job(w, spark, corpus, paths, os.path.join(work, "warm"))
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - gen_total
        if not args.trace:  # closed loop, one client
            jobs, t_end = [], time.perf_counter() + args.seconds
            while not jobs or time.perf_counter() < t_end:
                jobs.append(run_job(w, spark, corpus, paths,
                                    os.path.join(work, "out")))
        else:
            tracer = Tracer()
            jobs, layer_metrics, traced_checks = traced(
                w, spark, corpus, paths, work, args.seconds, tracer, rss)
        # speed counts every job that ran to the end; whether its
        # output was right is ok_frac's business
        walls = [j["wall"] for j in jobs if j["ran"]]
        tps = [corpus.n_turns / x for x in walls]
        checks = [warm] + jobs
        detail.update({
            "setup": {"setup_s": setup_s, "start_s": start_s,
                      "warm_s": warm_s},
            "turns_per_s": summary(tps), "job_s": summary(walls),
            "jobs": checks})
        if not args.trace:
            metrics = {
                "turns_per_s": median(tps),
                "setup_s": setup_s,
                "out_mb": median([j["out_bytes"] for j in jobs
                                  if j["ran"]]) / 2**20,
                "ok_frac": sum(j["ok"] for j in checks) / len(checks),
            }
            listed = spec["end_to_end"]
        else:
            metrics = layer_metrics
            checks += traced_checks
            if w.name == "ttl_colocated":
                detail["diagnostics"] = parallel_eff(
                    w, sess, paths, n,
                    metrics["scan.s"] + metrics["parse.s"], tracer)
            peaks = [j["peak_rss"] / 2**20 for j in jobs]
            metrics.update({
                "session.start_s": start_s, "session.warm_s": warm_s,
                "session.peak_rss_mb": median(peaks),
                "session.peak_rss_spread": quartile_spread(peaks),
                "scan.mb_in": detail["corpus"]["input_mb"],
                "trace.untraced_job_s": median(walls),
            })
            metrics["trace.overhead_s"] = (metrics["trace.traced_job_s"]
                                           - metrics["trace.untraced_job_s"])
            listed = spec["per_layer"]
            trace_path = os.path.join(ROOT, ".perfbench", "traces",
                                      f"{w.name}-seed{args.seed}.json")
            tracer.dump(trace_path)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        sess.close()
        if rss:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    # a metric a workload's layers do not touch reads 0
    detail["metrics"] = metrics = {m["name"]: {
        "value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
        for m in listed}
    print(json.dumps(detail, default=str), flush=True)
    failed = sum(not c["ok"] for c in checks)
    print(json.dumps({"correct": failed == 0, "attempted": len(checks),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
