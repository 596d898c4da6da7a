"""Per-layer measurements of the traced run.

Three views, all from calls into the program's public functions:

- single-process timings of the extractor's modules over a fixed seeded
  sample of the workload's payloads (dom, preprocess, readability, pdfx);
- the pipeline ladder: cumulative DataFrames, each sent to a noop sink,
  from the scan up to the full run_extract job. A rung's self time is its
  time minus the rung below it. A side rung puts the html_fetch job's
  aggregate on top of the extraction stage;
- storage and operator probes on the same input.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from artexin_spark import dom, pdfx, pipeline, readability, storage, udfs
from artexin_spark.preprocess import preps_for

import sysstat
import work

MODULE_SAMPLE = 150  # payloads timed single-process
PDF_SAMPLE = 20
MODULE_PASSES = 3
OPERATOR_TEXT_BYTES = 150_000  # text the operator probe takes from extraction inputs
OPERATORS = ("minhash_dedup", "simhash", "top_terms", "quality_langid", "curate")
RUNGS = ("scan", "prepare_input", "arrow_boundary", "extract_stage", "bucket_shuffle")


def _count_nodes(root) -> int:
    n, stack = 0, [root]
    while stack:
        node = stack.pop()
        n += 1
        stack.extend(node.children or ())
    return n


def module_timings(w, tracer) -> dict:
    """Mean µs per payload of each extractor module, best of MODULE_PASSES
    passes over a seeded sample of the workload's payloads."""
    lookup = w.lookup()
    payloads = [v for v in lookup.values() if v[0] and not pdfx.is_pdf(v[0])]
    pdfs = [v[0] for v in lookup.values() if v[0] and pdfx.is_pdf(v[0])]
    rng = random.Random("modules-%d" % w.seed)
    sample = rng.sample(payloads, min(MODULE_SAMPLE, len(payloads)))
    if pdfs:
        pdf_sample = rng.sample(pdfs, min(PDF_SAMPLE, len(pdfs)))
    else:  # no PDF payloads in this workload: wrap its own texts as PDFs
        pdf_sample = [pdfx.build_simple_pdf(t) for t, _ in sample[:PDF_SAMPLE]]
    keys = ("parse", "preps", "strip_and_build", "collect_text_spans", "extract_turn", "pdf")
    best = {k: None for k in keys}
    nodes = 0
    for p in range(MODULE_PASSES):
        tot = dict.fromkeys(keys, 0)
        with tracer.span("modules.pass", n_payloads=len(sample)):
            for text, src in sample:
                src = src or ""
                preps = preps_for(src)
                t0 = time.perf_counter_ns()
                doc = dom.parse(text)
                t1 = time.perf_counter_ns()
                for prep in preps:
                    prep(doc)
                t2 = time.perf_counter_ns()
                article = readability.strip_and_build(doc)
                t3 = time.perf_counter_ns()
                readability.collect_text_spans(article)
                t4 = time.perf_counter_ns()
                readability.extract_turn(text, base_url=src, preprocessors=preps, with_html=False)
                t5 = time.perf_counter_ns()
                tot["parse"] += t1 - t0
                tot["preps"] += t2 - t1
                tot["strip_and_build"] += t3 - t2
                tot["collect_text_spans"] += t4 - t3
                tot["extract_turn"] += t5 - t4
                if p == 0:
                    nodes += _count_nodes(dom.parse(text))
            for payload in pdf_sample:
                t0 = time.perf_counter_ns()
                pdfx.pdf_extract(payload)
                tot["pdf"] += time.perf_counter_ns() - t0
        for k in keys:
            best[k] = tot[k] if best[k] is None else min(best[k], tot[k])
    n, n_pdf = max(1, len(sample)), max(1, len(pdf_sample))
    return {
        "dom.parse_us_per_turn": best["parse"] / n / 1e3,
        "dom.nodes_per_turn": nodes / n,
        "preprocess.preps_us_per_turn": best["preps"] / n / 1e3,
        "readability.strip_and_build_us_per_turn": best["strip_and_build"] / n / 1e3,
        "readability.collect_text_spans_us_per_turn": best["collect_text_spans"] / n / 1e3,
        "readability.extract_turn_us_per_turn": best["extract_turn"] / n / 1e3,
        "pdfx.pdf_extract_us_per_turn": best["pdf"] / n_pdf / 1e3,
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    """(wall s, process-tree CPU s, fn's result)."""
    c0, t0 = sysstat.tree_cpu_s(), time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, sysstat.tree_cpu_s() - c0, out


def ladder_pass(w, tracer) -> tuple[dict, dict]:
    """One pass up the ladder: {rung: (wall s, cpu s)} and the write rung's
    sink and result."""
    spark, t, b = w.spark, w.transcripts(), w.n_buckets
    src = "source" if "source" in t.columns else None
    prepared = pipeline.prepare_input(t, b, src)

    def identity(batches):  # nested, so it pickles by value
        yield from batches

    jobs = {
        "scan": lambda: _noop(t),
        "prepare_input": lambda: _noop(prepared),
        "arrow_boundary": lambda: _noop(prepared.mapInArrow(identity, prepared.schema)),
        "extract_stage": lambda: _noop(
            pipeline.extract_df(spark, t, n_buckets=b, source_col=src, repartition=False)
        ),
        "bucket_shuffle": lambda: _noop(
            pipeline.extract_df(spark, t, n_buckets=b, source_col=src)
        ),
        "aggregate": lambda: pipeline.extract_df(
            spark, t, n_buckets=b, source_col=src, repartition=False
        ).agg(*work.extraction_aggs(w.sample_mod)).collect(),
    }
    times = {}
    for rung in RUNGS + ("aggregate",):
        with tracer.span("pipeline." + rung):
            times[rung] = timed(jobs[rung])[:2]
    sink = w.ladder_sink()
    with tracer.span("pipeline.run_extract"):
        wall, cpu, res = timed(lambda: pipeline.run_extract(spark, t, sink, source_col=src))
    times["run_extract"] = (wall, cpu)
    return times, {"sink": sink, "result": res}


def ladder_metrics(passes: list[dict]) -> dict:
    """Rung metrics from several passes: each rung's median wall and CPU,
    and its self time against the rung below."""
    m, prev_wall, prev_cpu = {}, 0.0, 0.0
    for rung in RUNGS + ("run_extract",):
        wall = statistics.median(p[rung][0] for p in passes)
        cpu = statistics.median(p[rung][1] for p in passes)
        if rung == "run_extract":
            m["pipeline.run_extract_s"] = wall
            m["storage.write_s"] = wall - prev_wall
            m["storage.write_cpu_s"] = cpu - prev_cpu
        else:
            m["pipeline.%s_s" % rung] = wall
            m["pipeline.%s_cpu_s" % rung] = cpu
            m["pipeline.%s_self_s" % rung] = wall - prev_wall
        prev_wall, prev_cpu = wall, cpu
    wall = statistics.median(p["aggregate"][0] for p in passes)
    m["pipeline.aggregate_s"] = wall
    m["pipeline.aggregate_self_s"] = wall - m["pipeline.extract_stage_s"]
    return m


def side_rung(w, tracer) -> dict:
    """udfs.with_extraction, the SQL-surface path over the same input."""
    t = w.transcripts()
    src = "source" if "source" in t.columns else None
    with tracer.span("udfs.with_extraction"):
        wall, cpu, _ = timed(lambda: _noop(udfs.with_extraction(t, "text", src)))
    return {"udfs.with_extraction_s": wall, "udfs.with_extraction_cpu_s": cpu}


def _weighted_pct(pairs: list[tuple[float, int]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(n for _, n in pairs)
    acc = 0
    for v, n in pairs:
        acc += n
        if acc >= q * total:
            return v
    return pairs[-1][0] if pairs else 0.0


def storage_probe(w, write, tracer) -> dict:
    """Sink and lineage counters of the ladder's write rung, then a resume
    against a checkpoint holding a seeded half of the buckets: timed
    completed_buckets and read_snapshot calls and the share of buckets the
    resume skipped."""
    spark, sink, res = w.spark, write["sink"], write["result"]
    data_dir = storage.data_path(sink)
    m = {}
    m["storage.bytes_written"] = work.dir_bytes(sink)
    m["storage.files_written"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(data_dir) for f in fs
    )
    lin = storage.read_lineage(spark, sink).filter(F.col("run_id") == res["run_id"])
    rows = lin.select("n_rows", "wall_ms").collect()
    m["storage.lineage_rows"] = len(rows)
    n_rows = [r["n_rows"] for r in rows] or [0]
    walls = [r["wall_ms"] for r in rows] or [0.0]
    m["pipeline.bucket_rows_skew"] = max(n_rows) / max(statistics.median(n_rows), 1e-9)
    m["pipeline.bucket_wall_skew"] = max(walls) / max(statistics.median(walls), 1e-9)
    batches = spark.read.parquet(data_dir).groupBy("batch_ms").count().collect()
    pairs = [(r["batch_ms"] * 1e3, r["count"]) for r in batches]
    m["pipeline.batch_us_per_row_p50"] = _weighted_pct(pairs, 0.5)
    m["pipeline.batch_us_per_row_p99"] = _weighted_pct(pairs, 0.99)

    t, b = w.transcripts(), w.n_buckets
    checkpoint = os.path.join(w.scratch, "probe_checkpoint")
    probe = os.path.join(w.scratch, "probe_sink")
    work.build_checkpoint(spark, t, b, work.half_buckets(w.seed, b), checkpoint)
    shutil.rmtree(probe, ignore_errors=True)
    shutil.copytree(checkpoint, probe)
    with tracer.span("storage.completed_buckets"):
        m["storage.completed_buckets_s"], _, _ = timed(
            lambda: storage.completed_buckets(spark, probe).count()
        )
    res, snap = work.resume_job(spark, t, probe, tracer)
    m["storage.buckets_skipped_share"] = (b - res["buckets"]) / b
    with tracer.span("storage.read_snapshot_count"):
        m["storage.read_snapshot_s"], _, _ = timed(
            lambda: storage.read_snapshot(spark, probe).agg(F.count(F.lit(1))).collect()
        )
    return m


def operator_probe(w, tracer, traced_out) -> dict:
    """The curate_ops operator set. On curate_ops the traced rep's output
    and spans already hold the counts and times; elsewhere the set runs
    over a seeded sample of the workload's texts."""
    if isinstance(w, work.CurateOps):
        if traced_out is None:
            raise RuntimeError("the traced curate_ops rep failed; see its check line")
        out = traced_out
        spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans if s["name"].startswith("operators.")}
    else:
        t = w.transcripts()
        mod = max(1, w.text_bytes // OPERATOR_TEXT_BYTES)
        docs = t.select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text").filter(
            F.pmod(F.col("doc_id"), F.lit(mod)) == 0
        )
        eval_df = docs.filter(F.pmod(F.col("doc_id"), F.lit(100)) == 0)
        n0 = len(tracer.spans)
        out = work.run_operators(docs, eval_df, tracer, work.CurateOps.TOP_K)
        spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans[n0:]}
    counts = {
        "minhash_dedup": len(out["pairs"]),
        "simhash": out["simhash"]["rows"],
        "top_terms": len(out["terms"]),
        "quality_langid": out["quality_langid"]["rows"],
        "curate": len(out["kept"]),
    }
    m = {}
    for op, n in counts.items():
        m["operators.%s_s" % op] = spans["operators." + op]
        m["operators.%s_rows" % op] = n
    return m


def task_failures(spark) -> int:
    st = spark.sparkContext.statusTracker()
    failed = 0
    for job in st.getJobIdsForGroup(None) + st.getJobIdsForGroup("perfbench"):
        info = st.getJobInfo(job)
        for stage in info.stageIds if info else ():
            s = st.getStageInfo(stage)
            failed += s.numFailedTasks if s else 0
    return failed
