#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at a tiny size, two reps each, and requires its output
check to pass; then tampers with one output row of each workload and
requires the check to fail. Last, runs run.py end to end on chat_sink at
its full size for one second, untraced and traced, and requires a correct
result carrying exactly the metrics BENCHMARK.json names. Exits 0 when all
of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import run as R

TINY = {"html_fetch": 20, "chat_sink": 3000, "resume_snapshot": 3000, "curate_ops": 300}
SEED = 7


def tamper_sink_row(data_dir: str) -> None:
    """Change the extracted text of one row in one data file, in place."""
    for base, _, files in os.walk(data_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                path = os.path.join(base, f)
                t = pq.read_table(path)
                texts = t.column("extracted_text").to_pylist()
                texts[0] = (texts[0] or "") + " tampered"
                i = t.schema.get_field_index("extracted_text")
                # Spark writes timestamps as INT96; keep them so it can read the file back
                pq.write_table(
                    t.set_column(i, "extracted_text", [texts]), path,
                    use_deprecated_int96_timestamps=True,
                )
                crc = os.path.join(base, ".%s.crc" % f)  # the local FS checksum
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise RuntimeError("no data file under %s" % data_dir)


def tampered_problems(name: str, w, out) -> list[str]:
    """The check's verdict on ``out`` with one output row changed."""
    from pyspark.sql import functions as F

    from artexin_spark import pipeline, storage
    import work

    if name == "html_fetch":
        key = out["sample"][0]
        df = pipeline.extract_df(w.spark, w.df, repartition=False)
        hit = (F.col("conv_id") == key["conv_id"]) & (F.col("turn_idx") == key["turn_idx"])
        df = df.withColumn(
            "extracted_text",
            F.when(hit, F.concat("extracted_text", F.lit(" tampered"))).otherwise(F.col("extracted_text")),
        )
        row = df.agg(*work.extraction_aggs(w.sample_mod)).collect()[0].asDict()
        return w.check(row)[0]
    if name == "chat_sink":
        tamper_sink_row(storage.data_path(w.sink))
        return w.check(out)[0]
    if name == "resume_snapshot":
        res, _ = out
        tamper_sink_row(storage.run_data_path(w.sink, res["run_id"]))
        snap = storage.read_snapshot(w.spark, w.sink)
        return w.check((res, snap.agg(*work.extraction_aggs(w.sample_mod)).collect()[0].asDict()))[0]
    term, n = out["terms"][0]
    return w.check(dict(out, terms=[(term, n + 1)] + out["terms"][1:]))[0]


def in_process(cpus: int, scratch: str) -> list[str]:
    import spans
    import work

    failures = []
    spark, _, _ = R.setup(cpus)
    try:
        for name, size in TINY.items():
            w = work.WORKLOADS[name](R.WORK, SEED, size, cpus)
            w.generate()
            R.one_task_per_file(spark, w.input.path)
            w.prepare(spark, scratch)
            for rep in (1, 2):
                w.before_rep()
                out = w.rep(spans.NO_TRACE)
                problems, _ = w.check(out)
                print("selftest %s rep %d: %s" % (name, rep, "; ".join(problems) or "ok"), flush=True)
                if problems:
                    failures.append("%s rep %d: %s" % (name, rep, problems))
            problems = tampered_problems(name, w, out)
            print("selftest %s tampered row: %s" % (name, "; ".join(problems) or "NOT DETECTED"), flush=True)
            if not problems:
                failures.append("%s: a tampered output row passed the check" % name)
    finally:
        R.shutdown(spark)
    return failures


def end_to_end() -> list[str]:
    """run.py as the benchmark is run: the last line must be a correct
    result with exactly BENCHMARK.json's metric names and units."""
    spec = R.load_spec()
    failures = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        cmd = [sys.executable, os.path.join(R.HERE, "run.py"), "--workload", "chat_sink",
               "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            failures.append("run.py --trace %d printed no result (exit %d)" % (trace, p.returncode))
            continue
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        ok = p.returncode == 0 and result["correct"] and got == want
        print("selftest run.py --trace %d: %s" % (trace, "ok" if ok else "FAILED"), flush=True)
        if not ok:
            failures.append("run.py --trace %d: exit %d, result %s" % (trace, p.returncode, lines[-1][:300]))
    return failures


def main() -> int:
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(R.WORK, "selftest-%d" % os.getpid())
    R.configure(cpus, scratch)
    try:
        failures = in_process(cpus, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    failures += end_to_end()
    for f in failures:
        print("selftest FAILED: %s" % f)
    print("selftest: %s" % ("ok" if not failures else "%d failure(s)" % len(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
