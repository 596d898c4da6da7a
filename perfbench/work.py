"""The four workloads: input, untimed preparation, the timed job, and the
output check of every rep.

A workload's ``rep`` is the timed job. ``check`` runs after it, untimed,
and returns the list of problems it found (empty when the output is
right) together with the counts the end-to-end metrics need.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import uuid
from collections import Counter

from pyspark.sql import functions as F

from artexin_spark import pipeline, storage
from artexin_spark.operators import dedup as dd
from artexin_spark.operators import textstats as ts
from artexin_spark.preprocess import preps_for
from artexin_spark.readability import extract_turn

import gen

DIGEST_COLS = (
    "conv_id", "turn_idx", "role", "tool", "ts", "title",
    "extracted_text", "spans", "images", "n_images", "error",
)
SAMPLE_COLS = ("conv_id", "turn_idx", "title", "extracted_text", "spans", "n_images", "error")
SAMPLE_TARGET = 150  # turns compared with single-node extract_turn per rep


def _dec_sum(col):
    # sum of 64-bit hashes as decimal: order-independent and cannot overflow
    return F.sum(col.cast("decimal(38,0)"))


def key_digest():
    """Order-independent digest of the (conv_id, turn_idx) keys. With equal
    row counts, equal key digests mean (up to a 64-bit hash collision) the
    same keys: none duplicated, none missing."""
    return _dec_sum(F.xxhash64("conv_id", "turn_idx"))


def extraction_aggs(sample_mod: int) -> list:
    """One aggregate over extracted rows: count, key digest, order-
    independent output digest, in-band errors, output bytes and a
    deterministic sample of whole rows for the per-turn check."""
    key_hash = F.xxhash64("conv_id", "turn_idx")
    return [
        F.count(F.lit(1)).alias("rows"),
        key_digest().alias("key_digest"),
        _dec_sum(F.xxhash64(*DIGEST_COLS)).alias("digest"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        F.sum(F.octet_length(F.coalesce("extracted_text", F.lit("")))).alias("out_bytes"),
        F.collect_list(
            F.when(F.pmod(key_hash, F.lit(sample_mod)) == 0, F.struct(*SAMPLE_COLS))
        ).alias("sample"),
    ]


def check_turns(sample, lookup) -> list[str]:
    """Per-turn equality of the sampled output rows with single-node
    ``readability.extract_turn`` on the same payload."""
    problems = []
    if not sample:
        problems.append("per-turn sample is empty")
    for r in sample:
        key = (r["conv_id"], r["turn_idx"])
        if key not in lookup:
            problems.append("sampled row %r is not in the input" % (key,))
            continue
        text, src = lookup[key]
        src = src or ""
        ref = extract_turn(text, base_url=src, preprocessors=preps_for(src), with_html=False)
        got = (
            r["title"],
            r["extracted_text"],
            [(s["start"], s["end"]) for s in (r["spans"] or [])],
            r["n_images"],
            r["error"],
        )
        want = (ref.title, ref.text, [tuple(s) for s in ref.spans], ref.n_images, ref.error)
        if got != want:
            field = ("title", "extracted_text", "spans", "n_images", "error")
            bad = [f for f, g, w in zip(field, got, want) if g != w]
            problems.append("turn %r differs from extract_turn in %s" % (key, ",".join(bad)))
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def n_bucket_dirs(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(d.startswith("part_key=") for d in os.listdir(path))


class Workload:
    """Base: a generated input table and a digest that must repeat."""

    kind = ""
    default_size = 0
    # input files per core, each scanned as one task: two per core lets a
    # core that drew a light file take another. (Sixteen tasks on 4 cores
    # cost html_fetch about 40% more CPU per turn than eight.)
    n_files_per_cpu = 2
    # untimed full reps first: the JVM's CPU per rep keeps falling for about
    # five reps (JIT and plan compilation), by half or more on 4 cores
    warmup_reps = 4

    def __init__(self, work_dir: str, seed: int, size: int | None, cpus: int):
        self.work_dir = work_dir
        self.seed = seed
        self.size = size or self.default_size
        self.cpus = cpus
        self.first_digest = None
        self.input_key_digest = None
        self._lookup = None

    def generate(self) -> None:
        self.input = gen.cached(
            self.work_dir, self.kind, self.seed, self.size, self.n_files_per_cpu * self.cpus
        )
        self.rows = self.input.meta["rows"]
        self.text_bytes = self.input.meta["text_bytes"]
        self.sample_mod = max(1, self.rows // SAMPLE_TARGET)

    def lookup(self) -> dict:
        if self._lookup is None:
            t = self.input.read()
            src = t.column("source").to_pylist() if "source" in t.column_names else None
            keys = zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist())
            texts = t.column("text").to_pylist()
            self._lookup = {
                k: (texts[i], src[i] if src else "") for i, k in enumerate(keys)
            }
        return self._lookup

    def prepare(self, spark, scratch: str) -> None:
        self.spark = spark
        self.scratch = scratch
        self.df = spark.read.parquet(self.input.path)
        self.n_buckets = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))

    def before_rep(self) -> None:
        pass

    def warmup(self, tracer) -> None:
        for _ in range(self.warmup_reps):
            self.before_rep()
            self.rep(tracer)

    def transcripts(self):
        """The input as a transcript table, for the layer ladder."""
        return self.df

    def ladder_sink(self) -> str:
        """Untimed: an empty sink for the ladder's write rung."""
        sink = os.path.join(self.scratch, "ladder_sink")
        shutil.rmtree(sink, ignore_errors=True)
        return sink

    def digest_problems(self, digest) -> list[str]:
        if self.first_digest is None:
            self.first_digest = digest
            return []
        if digest != self.first_digest:
            return ["output digest %s differs from the first rep's %s" % (digest, self.first_digest)]
        return []

    def extraction_problems(self, row) -> list[str]:
        problems = []
        if row["rows"] != self.rows:
            problems.append("output rows %d != input rows %d" % (row["rows"], self.rows))
        if self.input_key_digest is None:
            self.input_key_digest = self.df.agg(key_digest()).collect()[0][0]
        if row["key_digest"] != self.input_key_digest:
            problems.append("output (conv_id, turn_idx) keys differ from the input's")
        problems += check_turns(row["sample"], self.lookup())
        problems += self.digest_problems(str(row["digest"]))
        return problems


class HtmlFetch(Workload):
    kind = "html"
    default_size = 330  # conversations, about 8k turns

    def rep(self, tracer):
        with tracer.span("pipeline.extract_df"):
            out = pipeline.extract_df(self.spark, self.df, repartition=False)
        with tracer.span("pipeline.aggregate"):
            return out.agg(*extraction_aggs(self.sample_mod)).collect()[0].asDict()

    def check(self, row):
        problems = self.extraction_problems(row)
        return problems, {"error_rows": row["errors"], "out_bytes": row["out_bytes"]}


class ChatSink(Workload):
    kind = "chat"
    default_size = 50_000  # turns
    warmup_reps = 3  # its reps are longer; three reach most of the JIT gain

    def prepare(self, spark, scratch: str) -> None:
        super().prepare(spark, scratch)
        self.sink = os.path.join(scratch, "chat_sink")

    def before_rep(self) -> None:
        shutil.rmtree(self.sink, ignore_errors=True)

    def rep(self, tracer):
        with tracer.span("pipeline.run_extract"):
            return pipeline.run_extract(self.spark, self.df, self.sink)

    def sink_problems(self, data_dir: str, n_dirs: int) -> list[str]:
        got = n_bucket_dirs(data_dir)
        if got != n_dirs:
            return ["%d bucket dirs in %s, expected %d" % (got, data_dir, n_dirs)]
        return []

    def lineage_rows(self) -> int:
        lin = storage.read_lineage(self.spark, self.sink)
        latest = lin.groupBy("part_key").agg(F.max_by("n_rows", "finished_at").alias("n"))
        return int(latest.agg(F.sum("n")).collect()[0][0] or 0)

    def check(self, result):
        row = (
            storage.read_data(self.spark, self.sink)
            .agg(*extraction_aggs(self.sample_mod))
            .collect()[0]
            .asDict()
        )
        problems = self.extraction_problems(row)
        if result["rows"] != self.rows:
            problems.append("run_extract reported %d rows, input has %d" % (result["rows"], self.rows))
        problems += self.sink_problems(storage.data_path(self.sink), self.n_buckets)
        lin = self.lineage_rows()
        if lin != self.rows:
            problems.append("lineage n_rows sum %d != input rows %d" % (lin, self.rows))
        return problems, {"error_rows": row["errors"], "out_bytes": dir_bytes(self.sink)}


def half_buckets(seed: int, n_buckets: int) -> list[int]:
    """The seeded half of the buckets a resume checkpoint holds."""
    return sorted(random.Random("resume-%d" % seed).sample(range(n_buckets), n_buckets // 2))


def build_checkpoint(spark, df, n_buckets: int, done: list[int], path: str) -> int:
    """Write a snapshot sink at ``path`` in which exactly the ``done``
    buckets are complete; returns its size in bytes."""
    shutil.rmtree(path, ignore_errors=True)
    src = "source" if "source" in df.columns else None
    cols = list(pipeline.INPUT_COLS) + (["source"] if src else [])
    part = (
        pipeline.prepare_input(df, n_buckets, src)
        .filter(F.col("part_key").isin(done))
        .select(*cols)
    )
    pipeline.run_extract(spark, part, path, n_buckets=n_buckets, snapshot=True, run_id="checkpoint")
    return dir_bytes(path)


def resume_job(spark, df, sink: str, tracer):
    """run_extract(resume, snapshot) with a fresh run id, then read the
    snapshot back; returns (run_extract result, snapshot frame)."""
    with tracer.span("pipeline.run_extract"):
        res = pipeline.run_extract(
            spark, df, sink, resume=True, snapshot=True, run_id=uuid.uuid4().hex[:12]
        )
    with tracer.span("storage.read_snapshot"):
        snap = storage.read_snapshot(spark, sink)
    return res, snap


class ResumeSnapshot(ChatSink):
    """The chat corpus against a checkpoint in which a seeded half of the
    buckets is complete."""

    def prepare(self, spark, scratch: str) -> None:
        super().prepare(spark, scratch)
        self.sink = os.path.join(scratch, "resume_sink")
        self.checkpoint = os.path.join(scratch, "resume_checkpoint")
        self.done = half_buckets(self.seed, self.n_buckets)
        self.checkpoint_bytes = build_checkpoint(
            spark, self.df, self.n_buckets, self.done, self.checkpoint
        )

    def before_rep(self) -> None:
        shutil.rmtree(self.sink, ignore_errors=True)
        shutil.copytree(self.checkpoint, self.sink)

    def rep(self, tracer):
        res, snap = resume_job(self.spark, self.df, self.sink, tracer)
        with tracer.span("pipeline.aggregate"):
            return res, snap.agg(*extraction_aggs(self.sample_mod)).collect()[0].asDict()

    def check(self, result):
        res, row = result
        problems = self.extraction_problems(row)
        todo = self.n_buckets - len(self.done)
        if res["buckets"] != todo:
            problems.append("resume extracted %d buckets, expected %d" % (res["buckets"], todo))
        problems += self.sink_problems(storage.run_data_path(self.sink, res["run_id"]), todo)
        lin = self.lineage_rows()
        if lin != self.rows:
            problems.append("latest lineage n_rows sum %d != input rows %d" % (lin, self.rows))
        out_bytes = dir_bytes(self.sink) - self.checkpoint_bytes
        return problems, {"error_rows": row["errors"], "out_bytes": out_bytes}


_TOKEN_SPLIT = re.compile(r"[^a-z0-9']+")


def run_operators(docs, eval_df, tracer, top_k: int) -> dict:
    """The curate_ops operator set over a (doc_id, text) frame, one span
    per operator."""
    with tracer.span("operators.minhash_dedup"):
        pairs = dd.minhash_dedup(docs, k=16, bands=4, threshold=0.8).select("id_a", "id_b").collect()
    with tracer.span("operators.simhash"):
        sim = docs.select(F.col("doc_id"), dd.simhash_col("text").alias("s")).agg(
            F.count("s").alias("rows"), _dec_sum(F.xxhash64("doc_id", "s")).alias("digest")
        ).collect()[0]
    with tracer.span("operators.top_terms"):
        terms = ts.top_terms(docs, k=top_k).collect()
    with tracer.span("operators.quality_langid"):
        ql = ts.quality_score(docs).join(ts.lang_id(docs), "doc_id").agg(
            F.count(F.lit(1)).alias("rows"),
            _dec_sum(F.xxhash64("doc_id", "quality", "pred_lang")).alias("digest"),
            F.sum(F.when(F.col("pred_lang").isNull(), 1).otherwise(0)).alias("no_lang"),
        ).collect()[0]
    with tracer.span("operators.curate"):
        kept = ts.curate(docs, eval_df, min_quality=0.5, langs=("en",)).select("doc_id").collect()
    return {
        "pairs": sorted((r["id_a"], r["id_b"]) for r in pairs),
        "simhash": sim,
        "terms": [(r["term"], r["n"]) for r in terms],
        "quality_langid": ql,
        "kept": sorted(r["doc_id"] for r in kept),
    }


class CurateOps(Workload):
    kind = "docs"
    default_size = 1000  # documents
    n_files_per_cpu = 1
    warmup_reps = 1  # a rep is 4-7 s; the first one holds most of the compilation
    TOP_K = 50

    def prepare(self, spark, scratch: str) -> None:
        super().prepare(spark, scratch)
        self.eval_ids = self.input.meta["eval_ids"]
        self.eval_df = self.df.filter(F.col("doc_id").isin(self.eval_ids))
        t = self.input.read()
        self.texts = t.column("text").to_pylist()
        counts = Counter(
            tok for text in self.texts for tok in _TOKEN_SPLIT.split(text.lower()) if tok
        )
        self.ref_terms = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: self.TOP_K]

    def rep(self, tracer):
        return run_operators(self.df, self.eval_df, tracer, self.TOP_K)

    def lookup(self) -> dict:
        return {("doc-%d" % i, 0): (t, "") for i, t in enumerate(self.texts)}

    def check(self, out):
        problems = []
        meta = self.input.meta
        missing = [tuple(p) for p in meta["dup_pairs"] if tuple(p) not in set(out["pairs"])]
        if missing:
            problems.append("minhash_dedup missed %d planted duplicate pairs" % len(missing))
        for name in ("simhash", "quality_langid"):
            if out[name]["rows"] != self.rows:
                problems.append("%s rows %d != documents %d" % (name, out[name]["rows"], self.rows))
        if out["terms"] != self.ref_terms:
            problems.append("top_terms differs from the single-node term count")
        if out["quality_langid"]["no_lang"] != meta["no_lang_rows"]:
            problems.append(
                "lang_id gave %d null languages, %d documents have no evidence"
                % (out["quality_langid"]["no_lang"], meta["no_lang_rows"])
            )
        leaked = set(out["kept"]) & set(self.eval_ids)
        if leaked:
            problems.append("curate kept %d eval-slice documents" % len(leaked))
        parts = (out["pairs"], out["simhash"]["digest"], out["terms"],
                 out["quality_langid"]["digest"], out["kept"])
        digest = hashlib.sha1(repr(parts).encode()).hexdigest()
        problems += self.digest_problems(digest)
        out_bytes = sum(len(self.texts[i].encode()) for i in out["kept"])
        return problems, {"error_rows": out["quality_langid"]["no_lang"], "out_bytes": out_bytes}

    def transcripts(self):
        return self.df.select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        )


WORKLOADS = {
    "html_fetch": HtmlFetch,
    "chat_sink": ChatSink,
    "resume_snapshot": ResumeSnapshot,
    "curate_ops": CurateOps,
}
