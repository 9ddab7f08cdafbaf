"""Layered benchmark of the extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py): dict-fastscan, dict-mixed.  Run from the root
of a checkout; everything the run writes stays under ``.perfbench/`` there.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it print
each metric by name with its unit, and ``failed_frac`` (failed / attempted).

``--trace 0`` (end-to-end, untraced) reports setup_s, docs_per_s,
core_s_per_kdoc and peak_rss_mb.  A closed loop runs one job at a time from
this driver process on ``local[nproc]`` until ``--seconds`` have passed,
after untimed warm-up jobs; the outputs are checked against the in-process
expectation after the timed region.

``--trace 1`` reports the per-layer metrics listed in layers.py: the kernel
in-process on one core with timing wrappers, the UDF and exchange SQL
metrics of the executed plan, the paired 1-core / N-core stage, and
``jobs/flagship_job.main`` over the seeded crawl set (page kernel,
checkpointed extraction, graph and curate).
"""

from __future__ import annotations

import argparse
import functools
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

from session import ROOT, WORK, configure_env, effective_conf, ncpus  # noqa: E402

REQUIRED = ("html_parser_spark/kernel.py", "jobs/flagship_job.py")

# set-up samples per untraced run: this process plus fresh-process probes
SETUP_SAMPLES = 2
# untimed jobs before the timed loop: the first ones still warm the JVM and
# the Python workers
WARMUP_JOBS = 3
# pages the in-process kernel probes read
KERNEL_SAMPLE = 600
PAGE_KERNEL_SAMPLE = 400


def process_age() -> float:
    """Seconds since this process was started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rfind(")") + 2 :].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


class SetupProbe:
    """One set-up sample in a fresh process: launch -> ready.  ``release``
    lets it tear down while the caller does untimed work; ``close`` waits
    for it to end."""

    def __init__(self, log):
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_probe.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
        )
        ready = self.proc.stdout.readline().strip() == "ready"
        self.seconds = time.perf_counter() - t0
        if not ready:
            self.close()
            raise RuntimeError("set-up probe did not get ready (see .perfbench/probe.log)")

    def release(self) -> None:
        if not self.proc.stdin.closed:
            self.proc.stdin.close()

    def close(self) -> None:
        self.release()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def wait_tree_empty(pid: int, timeout: float = 30.0) -> None:
    """Reap this process's children and wait until every process it started
    has exited; kill what is left after ``timeout``."""
    import signal

    import procmon

    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        rest = [p for p in procmon.tree(pid) if p != pid and procmon.state(p) not in ("Z", "")]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def prepare(w, seed: int, run_dir: str):
    """Generate the workload's pages, build (or load) the expectation, check
    the recipe and write the input parquet.  Runs before the session starts:
    the expectation forks workers."""
    import expected
    import workloads

    rows = w.rows(seed)
    exp = expected.dictionary_expectation(f"{w.name}-{seed}", rows, w.max_html_bytes)
    shapes = workloads.check_recipe(w, rows, exp)
    inp = os.path.join(run_dir, "pages.parquet")
    workloads.write_pages(rows, inp)
    return rows, inp, exp, shapes


def prepare_crawl(seed: int, run_dir: str):
    """The same for the crawl set the traced run feeds to the flagship job."""
    import expected
    import workloads

    rows = workloads.crawl_rows(seed)
    exp = expected.crawl_expectation(f"crawl-{seed}", rows)
    shapes = workloads.check_crawl_recipe(rows, exp)
    inp = os.path.join(run_dir, "crawl.parquet")
    workloads.write_pages(rows, inp)
    return rows, inp, exp, shapes


def run_untraced(w, seed: int, seconds: int, run_dir: str, report: dict) -> dict:
    import procmon
    import session
    import workloads

    me = os.getpid()
    age = process_age()
    rows, inp, exp, report["shapes"] = prepare(w, seed, run_dir)
    spark, st = session.start_session()
    # this process's set-up: start-up until main ran, then the session start
    setup = [age + st["session_s"] + st["first_worker_s"]]
    phases = report["phases"] = {"ready": setup[0]}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        report["conf"] = effective_conf(spark)
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        report["partitions"] = parts
        with open(os.path.join(WORK, "probe.log"), "a") as log:
            for i in range(SETUP_SAMPLES - 1):
                probe = SetupProbe(log)
                setup.append(probe.seconds)
                if i < SETUP_SAMPLES - 2:
                    probe.close()
            # the last probe tears down during the untimed warm-up
            probe.release()
            for i in range(WARMUP_JOBS):
                workloads.run_job(spark, w, inp, os.path.join(run_dir, f"warmup{i}"), parts)
            probe.close()
        phase("probes+warmup")

        walls: list[float] = []
        peaks: list[float] = []
        cpu0 = procmon.cpu_seconds(procmon.tree(me))
        t0 = time.perf_counter()
        with procmon.TreeSampler(me) as mon:
            mon.take_worker_peak()
            while True:
                out = os.path.join(run_dir, f"out{len(walls)}")
                t = time.perf_counter()
                workloads.run_job(spark, w, inp, out, parts)
                walls.append(time.perf_counter() - t)
                peaks.append(mon.take_worker_peak())
                if time.perf_counter() - t0 >= seconds:
                    break
        cpu = procmon.cpu_seconds(procmon.tree(me)) - cpu0
        phase("timed")
    finally:
        session.stop_session(spark)
    phase("stop")
    outs = [os.path.join(run_dir, f"out{i}") for i in range(len(walls))]
    # forked once the session is gone: at most py4j's finalizer thread is
    # left, whose lock the children never take (a spawn pool would leave a
    # resource-tracker process behind)
    with multiprocessing.get_context("fork").Pool(min(len(outs), ncpus())) as pool:
        checks = pool.map(functools.partial(workloads.check_output, exp=exp), outs)
    attempted = sum(a for a, _ in checks)
    failed = sum(f for _, f in checks)
    phase("check")
    docs = len(rows) * len(walls)
    report.update(setup_samples=setup, walls=walls, worker_rss_peaks_mb=peaks,
                  rss_peak_by_role_mb=mon.peak_by_role, cpu_s=cpu, docs=docs)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": statistics.median(setup),
            "docs_per_s": statistics.median(len(rows) / x for x in walls),
            "core_s_per_kdoc": cpu / (docs / 1000.0),
            "peak_rss_mb": statistics.median(peaks),
        },
    }


def stage_layer(spark, w, inp: str, out: str, parts: int) -> dict:
    """The workload's job written to ``out`` (untimed warm-up, checked by
    the caller), then its stage run to completion at N partitions and at 1
    partition, with the N-partition plan metrics."""
    import sparkstats
    import workloads

    sc = spark.sparkContext
    workloads.run_job(spark, w, inp, out, parts)
    walls = {}
    for cores, group in ((parts, "perfbench-ncore"), (1, "perfbench-1core")):
        df = workloads.extract_df(spark, w, inp, cores)
        sc.setJobGroup(group, group)
        t = time.perf_counter()
        sparkstats.run_plan(df)
        walls[cores] = time.perf_counter() - t
        if cores == parts:
            m = sparkstats.plan_metrics(df)
            layer = {**sparkstats.udf_metrics(m), **sparkstats.exchange_metrics(m),
                     **sparkstats.task_stats(spark, group)}
    sc.setJobGroup("perfbench", "perfbench")
    layer["stage.wall_s_ncore"] = walls[parts]
    layer["stage.wall_s_1core"] = walls[1]
    layer["stage.scaling_1toN"] = walls[1] / (ncpus() * walls[parts])
    return layer


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def checkpoint_metrics(spark, results_dir: str, run_s: float) -> dict:
    counts = [r[0] for r in spark.read.parquet(os.path.join(results_dir, "_lineage"))
              .select("url_count").collect()]
    return {
        "checkpoint.run_s": run_s,
        "checkpoint.bytes_written": _du(os.path.join(results_dir, "data")),
        "checkpoint.partition_skew": max(counts) / statistics.median(counts),
    }


def job_metrics(spark, out: str, report: dict) -> dict:
    wall = {r["stage"]: r["wall_sec"] for r in
            spark.read.parquet(os.path.join(out, "_stage_lineage")).collect()}
    g, c = report["stages"]["graph"], report["stages"]["curate"]
    return {
        "job.extract_s": wall["extract"],
        "job.graph_s": wall["graph"],
        "job.curate_s": wall["curate"],
        "graph.edges": g["edges"],
        "graph.hosts": g["hosts"],
        "curate.docs_in": c["docs_in"],
        "curate.after_quality": c["after_quality_filter"],
        "curate.after_dedup": c["after_dedup"],
        "curate.dedup_ratio": c["after_dedup"] / max(1, c["after_quality_filter"]),
    }


def run_traced(w, seed: int, run_dir: str, report: dict) -> dict:
    import procmon
    import session
    import tracing
    import workloads
    from html_parser_spark.spark.checkpoint import CheckpointedExtraction

    me = os.getpid()
    tracer = tracing.Tracer()
    m: dict = {}
    rows, inp, exp, report["shapes"] = prepare(w, seed, run_dir)
    crawl, crawl_inp, crawl_exp, report["crawl_shapes"] = prepare_crawl(seed, run_dir)
    with procmon.TreeSampler(me) as mon:
        spark, st = session.start_session()
        try:
            m["session.start_s"] = st["session_s"]
            report["conf"] = effective_conf(spark)
            parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            guard = w.max_html_bytes
            kept = [r for r in rows if not guard or len(r["html"]) <= guard]
            m.update(tracing.kernel_layer([r["html"] for r in kept[:KERNEL_SAMPLE]], tracer))
            m.update(tracing.page_kernel_layer(
                [(r["html"], r["url"]) for r in crawl[:PAGE_KERNEL_SAMPLE]], tracer))
            out = os.path.join(run_dir, "out")
            m.update(stage_layer(spark, w, inp, out, parts))
            attempted, failed = workloads.check_output(out, exp)
            # kernel time the UDF's rows would cost in-process, against the
            # Python time Spark measured for them
            m["udf.kernel_s"] = m["udf.rows"] / m["kernel.docs_per_s"]
            m["udf.boundary_frac"] = 1.0 - m["udf.kernel_s"] / m["udf.python_total_s"]

            ck_wrap = [(CheckpointedExtraction, "run", lambda f: tracer.wrap("checkpoint.run", f))]
            job_out = os.path.join(run_dir, "job")
            with tracer.patch(ck_wrap):
                first = len(tracer.spans)
                job_report = workloads.run_flagship(crawl_inp, job_out, parts)
                ck_s = tracer.totals(first)["checkpoint.run"]
            a, f = workloads.check_flagship(job_out, crawl_exp)
            attempted += a
            failed += f
            m.update(checkpoint_metrics(spark, os.path.join(job_out, "extract"), ck_s))
            m.update(job_metrics(spark, job_out, job_report))
        finally:
            session.stop_session(spark)
    m["proc.driver_rss_mb"] = mon.peak_by_role["driver"]
    m["proc.worker_rss_mb"] = mon.peak_by_role["worker"]
    tracer.dump(os.path.join(WORK, f"trace-{w.name}-{seed}.json"))
    return {"attempted": attempted, "failed": failed, "metrics": m}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    import workloads

    w = workloads.WORKLOADS.get(args.workload)
    if w is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    configure_env()
    import layers

    run_dir = os.path.join(WORK, "runs", f"{w.name}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    report = {"workload": w.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": ncpus()}
    try:
        if args.trace:
            res = run_traced(w, args.seed, run_dir, report)
        else:
            res = run_untraced(w, args.seed, args.seconds, run_dir, report)
    finally:
        wait_tree_empty(os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)

    want = layers.PER_LAYER if args.trace else layers.END_TO_END
    if set(res["metrics"]) != set(want):
        raise RuntimeError(f"perfbench: metrics {sorted(set(res['metrics']) ^ set(want))} "
                           "reported but not declared, or declared but not reported")
    metrics = {k: {"value": v, "unit": want[k][0]} for k, v in res["metrics"].items()}
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    report["result"] = result
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports",
                           f"{w.name}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"perfbench {w.name} seed={args.seed} trace={args.trace} "
          f"conf={json.dumps(report.get('conf'))}")
    for k, v in metrics.items():
        print(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    print(f"  {'failed_frac':28s} {res['failed'] / res['attempted']:.6g} ratio")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
