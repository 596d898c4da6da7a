#!/usr/bin/env python3
"""The artexin_spark benchmark: extraction and curation workloads, six
end-to-end metrics, and a separately traced run for per-layer metrics.

    python3 perfbench/run.py --workload html_fetch --seed 1 --seconds 6 --trace 0

``--trace 0`` times the workload's job, rep after rep (at least MIN_REPS),
for ``--seconds`` and prints every end-to-end metric of BENCHMARK.json.
``--trace 1`` runs the pipeline ladder LADDER_PASSES times, each pass
followed by an untraced rep, then a traced rep and the module, storage and
operator probes, and prints every per-layer metric; the spans go to
``perfbench/.work/trace/``. Every rep's output is checked; the last line of
stdout is one JSON object. README.md lists the workloads and metrics.

All load comes from this one driver process: Spark runs at local[nproc],
closed loop, one job at a time. The launcher fits Spark to the host
(driver heap DRIVER_MEM, no console progress bar, shuffle and temp files
inside the checkout) and puts the repository on the Python workers' path.
Inputs are generated from ``--seed`` and cached on disk (gen.py); their
generation is not part of set-up time. ``bench.py`` at the repository root
is a different, frozen protocol (32 cores, one wall number per query) and
is not used here.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"
MIN_REPS = 3
LATEST_REP_START_S = 100  # no new rep after this, so a run ends well inside 180 s
LADDER_PASSES = 3


def configure(cpus: int, scratch: str) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([old] if old else []))
    sys.path[:0] = [ROOT, HERE]
    java_opts = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # session.get_spark floors shuffle partitions at 32, sized for a
        # 32-core host; two per core keeps tasks from being mostly overhead
        SPARK_SHUFFLE_PARTITIONS=str(2 * cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIR=os.path.join(scratch, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf " + shlex.quote("spark.driver.extraJavaOptions=" + java_opts),
                "pyspark-shell",
            ]
        ),
    )


def warm_workers(spark, cpus: int) -> None:
    """One Arrow task per core, overlapping, so each core gets a Python
    worker that has imported the extraction pipeline."""

    def touch(batches):
        import time as _t

        import artexin_spark.pipeline  # noqa: F401

        _t.sleep(0.2)
        yield from batches

    spark.range(0, cpus * 64, 1, cpus).mapInArrow(touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def setup(cpus: int):
    """(session, get_spark seconds, worker warm-up seconds)."""
    from artexin_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_workers(spark, cpus)
    return spark, t1 - t0, time.perf_counter() - t1


def one_task_per_file(spark, path: str) -> None:
    """Scan each input file as one task, as bench.py does: the generated
    files are small, and Spark would otherwise pack them into fewer tasks
    than cores. Spark adds a file to a task while the task's bytes plus the
    file's stay within maxPartitionBytes, counting openCostInBytes per file
    already in it; an open cost equal to the cap closes every task after
    one file, and a cap of twice the largest file splits none."""
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    cap = 2 * max(os.path.getsize(os.path.join(path, f)) for f in files)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(cap))
    spark.conf.set("spark.sql.files.openCostInBytes", str(cap))
    tasks = spark.read.parquet(path).rdd.getNumPartitions()
    if tasks != len(files):
        raise RuntimeError("scan of %d files plans %d tasks" % (len(files), tasks))


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    def __init__(self, args, cpus: int, scratch: str):
        import spans
        import work

        self.args = args
        self.cpus = cpus
        self.scratch = scratch
        self.w = work.WORKLOADS[args.workload](WORK, args.seed, None, cpus)
        self.tracer = spans.Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.verdicts: list[str] = []
        self.notes: list[str] = []
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Accumulate the wall time of one phase of the run."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def attempt(self, label: str, tracer):
        """One timed rep plus its output check: (wall, cpu, steal, stats)."""
        import sysstat

        w = self.w
        w.before_rep()
        self.attempted += 1
        s0, c0, t0 = sysstat.cpu_counters(), sysstat.tree_cpu_s(), time.perf_counter()
        try:
            with tracer.span("rep", workload=self.args.workload):
                out = w.rep(tracer)
            err = None
        except Exception as e:  # noqa: BLE001 — a failed rep is counted, not fatal
            out, err = None, "%s: %s" % (type(e).__name__, str(e).splitlines()[0] if str(e) else "")
        wall = time.perf_counter() - t0
        self.phases["rep"] = self.phases.get("rep", 0.0) + wall
        cpu = sysstat.tree_cpu_s() - c0
        steal = sysstat.steal_share(s0, sysstat.cpu_counters())
        with self.phase("check"):
            problems, stats = ([err], None) if err else w.check(out)
        if problems:
            self.failed += 1
        verdict = "ok" if not problems else "FAILED: " + "; ".join(problems[:5])
        self.verdicts.append(
            "check %s %s: %s (wall %.3f s, cpu %.3f s, steal %.3f)"
            % (self.args.workload, label, verdict, wall, cpu, steal)
        )
        return wall, cpu, steal, stats, out

    def main(self) -> dict:
        import spans
        import sysstat

        a, w = self.args, self.w
        g0 = time.perf_counter()
        w.generate()
        self.gen_s = time.perf_counter() - g0
        self.steal0 = sysstat.cpu_counters()
        with self.phase("setup"):
            spark, self.get_spark_s, self.warm_s = setup(self.cpus)
        # cold: from process start, so the JVM launch and the imports count
        self.setup_s = sysstat.since_process_start() - self.gen_s
        try:
            spark.sparkContext.setJobGroup("perfbench", a.workload)
            one_task_per_file(spark, w.input.path)
            with self.phase("prepare"):
                w.prepare(spark, self.scratch)
            with self.phase("warmup"):
                w.warmup(spans.NO_TRACE)
            if a.trace:
                metrics = self.traced(spark)
            else:
                metrics = self.timed()
        finally:
            with self.phase("shutdown"):
                shutdown(spark)
        self.phases["generate"] = self.gen_s
        self.notes.append(
            "phases %s: %s" % (a.workload, ", ".join("%s %.2f s" % kv for kv in self.phases.items()))
        )
        return metrics

    def summarise(self, name: str, values: list[float]) -> float:
        """Note the median and quartiles of one metric's values; return the median."""
        q1, q2, q3 = quartiles(values)
        self.notes.append(
            "metric %s %s: median %.6g, quartiles %.6g .. %.6g, n=%d"
            % (self.args.workload, name, q2, q1, q3, len(values))
        )
        return q2

    def timed(self) -> dict:
        import spans
        import sysstat

        a, w = self.args, self.w
        reps = []
        begin = time.perf_counter()
        while len(reps) < MIN_REPS or time.perf_counter() - begin < a.seconds:
            if sysstat.since_process_start() > LATEST_REP_START_S:
                break
            reps.append(self.attempt("rep %d" % (len(reps) + 1), spans.NO_TRACE))
        good = [r for r in reps if r[3] is not None]
        # wall net of hypervisor steal (the guest's steal share over the rep):
        # on a 4-core guest, steal bursts of 10-20% that last minutes double
        # the run-to-run spread of the raw rate
        walls = [r[0] * (1 - r[2]) for r in good]
        series = {
            "rows_per_s": [w.rows / x for x in walls],
            "cpu_us_per_row": [r[1] / w.rows * 1e6 for r in good],
            "output_bytes_per_input_byte": [r[3]["out_bytes"] / w.text_bytes for r in good],
            "error_row_share": [r[3]["error_rows"] / w.rows for r in good],
            "ok_rep_share": [(self.attempted - self.failed) / self.attempted],
            "setup_s": [self.setup_s],
        }
        self.notes += [
            "input %s: %d rows, %d text bytes, generated or loaded in %.2f s"
            % (a.workload, w.rows, w.text_bytes, self.gen_s),
            "steal share per rep: %s" % " ".join("%.3f" % r[2] for r in reps),
        ]
        if good:
            raw = w.rows / statistics.median(r[0] for r in good)
            self.notes.append("rows per second of raw wall (steal included): %.6g" % raw)
        metrics = {k: self.summarise(k, v) if v else 0.0 for k, v in series.items()}
        # rows_per_s from the median wall, not the median of per-rep rates
        metrics["rows_per_s"] = w.rows / statistics.median(walls) if walls else 0.0
        return metrics

    def traced(self, spark) -> dict:
        import layers
        import spans
        import sysstat
        import work

        a, w, tr = self.args, self.w, self.tracer
        base = "%s-s%d" % (a.workload, a.seed)
        # ladder passes, each followed by an untraced rep of the job, so
        # rungs and job are measured at the same point of the JVM's warm-up
        passes, job_walls = [], []
        tr.trace_id = base + "-ladder"
        for i in range(LADDER_PASSES):
            times, write = layers.ladder_pass(w, tr)
            passes.append(times)
            job_walls.append(self.attempt("untraced rep %d" % (i + 1), spans.NO_TRACE)[0])
        job_wall = statistics.median(job_walls)
        tr.trace_id = base + "-rep"
        traced_wall, _, _, _, out = self.attempt("traced rep", tr)
        m = layers.ladder_metrics(passes)
        tr.trace_id = base + "-side"
        m.update(layers.side_rung(w, tr))
        tr.trace_id = base + "-storage"
        m.update(layers.storage_probe(w, write, tr))
        tr.trace_id = base + "-operators"
        m.update(layers.operator_probe(w, tr, out))
        tr.trace_id = base + "-modules"
        m.update(layers.module_timings(w, tr))
        m["pipeline.job_s"] = job_wall
        if isinstance(w, work.CurateOps):
            top = sum(m["operators.%s_s" % op] for op in layers.OPERATORS)
            m["pipeline.ladder_vs_job"] = top / job_wall
        else:
            # the rung that runs the job itself, paired with the rep after
            # it in the same pass, so a burst of host load cancels out
            rung = "aggregate" if isinstance(w, work.HtmlFetch) else "run_extract"
            top = m["pipeline.%s_s" % rung]
            m["pipeline.ladder_vs_job"] = statistics.median(
                p[rung][0] / j for p, j in zip(passes, job_walls)
            )
        # overhead against the untraced rep that ran just before the traced one
        overhead = traced_wall - job_walls[-1]
        m["trace.overhead_s"] = overhead
        m["trace.overhead_share"] = overhead / job_walls[-1]
        m["pipeline.worker_peak_rss_mb"] = sysstat.worker_peak_rss_mb()
        m["pipeline.task_failures"] = layers.task_failures(spark)
        m["session.get_spark_s"] = self.get_spark_s
        m["session.worker_warmup_s"] = self.warm_s
        m["host.steal_share"] = sysstat.steal_share(self.steal0, sysstat.cpu_counters())
        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "spans-%s.json" % base)
        tr.write(path)
        self.notes.append("spans written to %s" % os.path.relpath(path, ROOT))
        for name, s in sorted(tr.self_times().items(), key=lambda kv: -kv[1]):
            self.notes.append("self time %s %s: %.4f s" % (a.workload, name, s))
        self.notes.append(
            "ladder %s: rung deltas sum to %.3f s against a %.3f s job (ratio %.3f); "
            "tracing overhead %.3f s (%.1f%%)"
            % (a.workload, top, job_wall, m["pipeline.ladder_vs_job"], overhead,
               100 * overhead / job_walls[-1])
        )
        return m


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, "run-%d" % os.getpid())
    configure(cpus, scratch)
    try:
        return measure(args, cpus, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, cpus: int, scratch: str) -> int:
    try:
        import pyspark  # noqa: F401

        import artexin_spark  # noqa: F401
        import work
    except ImportError as e:
        print("perfbench: cannot import the program under test: %s" % e, file=sys.stderr)
        return 2
    if args.workload not in work.WORKLOADS:
        print("perfbench: unknown workload %r (have %s)" % (args.workload, ", ".join(work.WORKLOADS)), file=sys.stderr)
        return 2
    wanted = load_spec()["per_layer" if args.trace else "end_to_end"]
    run = Run(args, cpus, scratch)
    metrics = run.main()
    for line in run.verdicts + run.notes:
        print(line)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError("metrics not measured: %s" % ", ".join(missing))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
