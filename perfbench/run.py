#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation, at local[nproc].

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 5 --trace 0

Workloads (each generated from ``--seed``; the engine receives only the
generated inputs, and every output is checked against a reference):

* ``crawl``      -- ``CrawlEngine`` on a seeded synthetic world, crawl
  order and seen set checked against ``OracleCrawler`` (w_crawl.py).
* ``seen_dedup`` -- the operator library called directly, URL-level and
  content-level dedup in one op: a round of ``operators.seen`` (half
  re-discoveries, half new candidates against a seen set several times
  the Bloom's design size; local-default exact filter path plus its Bloom
  insert, checked against the anti-join; w_seen.py), then one pass of the
  dedup/similarity headline queries on a seeded corpus (``queries`` ->
  ``operators.dedup`` / ``operators.similarity``, checked against their
  DuckDB twins; w_dedup.py).

Ops run back to back (closed loop, one client) until ``--seconds`` have
passed; an op in flight always completes and at least one runs. The last
stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; an attempt fails if it raises or its output differs from
the reference. With ``--trace 0`` the metrics are the end-to-end ones:

* ``work_per_s``  -- items per second of timed wall: URLs scheduled and
  fetched (crawl); candidates filtered and inserted plus input rows the
  queries read (seen_dedup).
* ``step_s_p50``  -- median wall of one step: a crawl round; a seen round
  with its insert plus a query pass.
* ``setup_s``     -- process start to the first timed op: JVM and Spark
  session start, input generation, engine set-up and warm-up, without
  the references and input self-checks only the benchmark needs.

Memory is reported in every run's detail line and, as a per-layer metric,
in traced runs: ``peak_rss_mb`` is the peak of the whole process tree
(driver, JVM, Python workers), sampled from /proc as proportional set
size, so pages the forked Python workers share count once. It is not an
end-to-end metric because the JVM's share swings by a third from run to
run (the heap grows with GC timing), more than any bound could allow.

The host these figures are drawn on shares its cores with other tenants,
and its speed drifts by a third over minutes. So the three timings are
reported at a reference host speed: each run times a fixed CPU and memory
task on every core (``harness.calibrate``) before Spark starts and after
it has stopped, and scales its timings by ``REFERENCE_CAL_S`` over the
mean of the two. The raw timings and both calibrations are in the line
before the result.

With ``--trace 1`` the run records spans around calls into the engine,
turns on Spark's event log, and the metrics are the per-layer ones that
every workload has: the Spark job layer per step (from the event log)
and the memory of the whole tree, the JVM, the driver and the Python
workers. The line before the result holds the workload's own figures
under ``"perfbench"``: run metadata (seed, nproc, master, load average,
commit), per part the e2e numbers under their own names
(``crawl_urls_per_s``, ``round_s_p50``, ``seen_anti_cands_per_s``,
``suite_s_p50``), ``error_rate``, peak RSS of the JVM and the Python
workers apart, where the run's wall went and, in traced runs, every
part's layer metrics (crawl phases, store, fetch seam, seen kernels,
filter health, read/insert split, per-query walls).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

T0 = time.time()   # for the breakdown of the run's wall in the detail line

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload -> the modules whose ``Part``s one op runs, in order
WORKLOADS = {"crawl": ["w_crawl"], "seen_dedup": ["w_seen", "w_dedup"]}
# calibration wall on the idle 4-vCPU host the first figures were drawn on
REFERENCE_CAL_S = 0.7


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops Spark and removes its scratch (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "pushkind_crawlers_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Spark's Python workers import the engine and this benchmark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    cpus = len(os.sched_getaffinity(0))
    cal_start = harness.calibrate(cpus)
    ctx = harness.Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
                      trace=bool(args.trace), root=ROOT, work=work, t_start=time.time(),
                      cpus=cpus, tracer=harness.Tracer() if args.trace else None)
    meta = {"workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
            "trace": args.trace, "nproc": ctx.cpus, "master": ctx.master,
            "loadavg_start": os.getloadavg(), "commit": harness.git_commit(ROOT)}
    parts = [importlib.import_module(m).Part for m in WORKLOADS[args.workload]]
    spark = None
    try:
        with harness.RssSampler() as rss:
            spark = harness.start_spark(ctx, f"perfbench-{ctx.workload}")
            res = harness.run_workload(ctx, spark, parts)
            t_run = time.time()
            harness.stop_spark(spark)
            spark = None
            harness.reap_descendants()
            rss.sample()
        t_stop = time.time()
        cal_end = harness.calibrate(cpus)
        speed = (cal_start + cal_end) / 2 / REFERENCE_CAL_S
        raw = {"work_per_s": res["work_per_s"], "step_s_p50": res["step_s_p50"],
               "setup_s": res["setup_s"]}
        values = {"work_per_s": raw["work_per_s"] * speed,
                  "step_s_p50": raw["step_s_p50"] / speed,
                  "setup_s": raw["setup_s"] / speed}
        layers = res["layers"]
        if ctx.trace:
            layers.update({"spans": ctx.tracer.totals(min(t0 for t0, _ in res["windows"])),
                           "spans_missing": ctx.tracer.missing})
            layers.update(harness.eventlog_rollup(ctx.dir("eventlog"), res["windows"],
                                                  res["steps"]))
            layers.update({"peak_rss_mb": rss.peak["total"],
                           "jvm.rss_peak_mb": rss.peak["jvm"],
                           "driver.rss_peak_mb": rss.peak["driver"],
                           "pyworker.rss_peak_mb": rss.peak["pyworkers"],
                           "pyworker.count": rss.max_workers})
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if ctx.trace else "end_to_end"]
        source = layers if ctx.trace else values
        metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
                   for m in spec}
        detail = dict(res["detail"], meta=meta,
                      error_rate=res["failed"] / res["attempted"],
                      e2e=values, e2e_raw=raw, setup_untimed_s=ctx.untimed_s,
                      calibration_s={"start": cal_start, "end": cal_end},
                      run_wall_s={"to_setup_start": ctx.t_start - T0,
                                  "setup_ops_checks": t_run - ctx.t_start,
                                  "stop": t_stop - t_run, "to_result": time.time() - t_stop},
                      rss_peak_mb=rss.peak, pyworker_count=rss.max_workers,
                      layers=layers)
        print(json.dumps({"perfbench": detail}, default=str))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
