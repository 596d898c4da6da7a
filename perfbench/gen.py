"""Seeded input generators for the four workloads, cached on disk.

Every table is a pure function of (kind, seed, size, GEN_VERSION) and is
written once under ``.work/inputs/<kind>-s<seed>-n<size>-v<GEN_VERSION>/``
as several parquet files, so a later run with the same key only reads it.
Bump GEN_VERSION whenever a generator changes what it emits.

Error rows are planted at an exact count (not a per-row coin flip), so the
error-row share of a workload does not wander from seed to seed.

The html_fetch pages come from the program's own
``corpus.gen_transcripts``; the cache key does not cover that function, so
clear ``.work/inputs/`` after changing it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

EMPTY_SHARE = 0.005  # empty payloads: the extractor's in-band empty_payload error
PDF_SHARE = 0.01  # html_fetch only: PDF payloads routed to pdfx
NO_LANG_SHARE = 0.01  # curate_ops only: documents with no language evidence
DUP_SHARE = 0.02  # curate_ops only: exact copies of an earlier document
NEAR_DUP_SHARE = 0.02  # curate_ops only: copies with one word changed
EVAL_SHARE = 0.01  # curate_ops only: the decontamination eval slice

_TOPIC = (
    "signal antenna payload satellite broadcast receiver downlink archive "
    "library content article reader village school teacher knowledge page "
    "story lesson chapter weather market farming health news cache index "
    "battery solar panel relay spectrum packet frame carrier beacon river "
    "harvest clinic vaccine rainfall bridge road water price seed tractor "
    "lecture exam student radio station tower license update schedule map "
    "report summary question answer reply thanks please sorry maybe today "
    "tomorrow yesterday morning evening week month year number list table "
    "problem solution idea plan draft version error fix test build release"
).split()
_EN = "the and of to in is that it was for a an as at by on with we you".split()
# the stopwords a marker-based language identifier keys on
_MARKERS = {
    "en": _EN[:10],
    "de": "der die das und ist nicht von mit den zu".split(),
    "fr": "le la les et de des est une dans que".split(),
    "es": "el la los las de que es en un por".split(),
}
# tokens that are in no language's marker list and hold no CJK: a document
# made only of these gives lang_id zero evidence, hence a null pred_lang
_NO_LANG = ["x%d" % i for i in range(40)] + ["k%dq" % i for i in range(40)]

# documents draw from many pseudo-words, so two unrelated documents rarely
# share a word 3-gram and decontamination removes only real overlaps
_DOC_VOCAB = [a + b + c for a in ("ba", "ko", "mi", "tu", "se", "ra", "lo", "vi")
              for b in ("n", "r", "l", "s", "k") for c in ("a", "e", "i", "o", "u", "")]
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


@dataclass
class Table:
    path: str  # directory of parquet files
    meta: dict

    def read(self) -> pa.Table:
        return pq.read_table(self.path)


def _cache_dir(root: str, kind: str, seed: int, size: int) -> str:
    return os.path.join(root, "inputs", f"{kind}-s{seed}-n{size}-v{GEN_VERSION}")


def cached(root: str, kind: str, seed: int, size: int, n_files: int) -> Table:
    """Return the cached table for the key, generating it first if absent."""
    path = _cache_dir(root, kind, seed, size)
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        table, meta = _GENERATORS[kind](seed, size)
        tmp = path + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        n = table.num_rows
        n_files = max(1, min(n_files, n))
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, "part-%03d.parquet" % i))
        meta.update(
            rows=n,
            text_bytes=int(sum(len(t.encode()) for t in table.column("text").to_pylist() if t)),
            kind=kind,
            seed=seed,
            size=size,
            gen_version=GEN_VERSION,
        )
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as f:
        return Table(path, json.load(f))


def _prose(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_TOPIC if rng.random() < 0.7 else _EN) for _ in range(n_words)]
    for i in range(6, n_words - 1, 9):
        words[i] += ","
    text = " ".join(words)
    return text[0].upper() + text[1:].rstrip(",") + "."


def _transcript_table(cols: dict) -> pa.Table:
    n = len(cols["text"])
    arrays = {
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols.get("tool", [None] * n), pa.string()),
        "ts": pa.array(
            BASE_TS_US + np.asarray(cols["turn_idx"], dtype=np.int64) * 60_000_000,
            pa.timestamp("us", tz="UTC"),
        ),
    }
    if "source" in cols:
        arrays["source"] = pa.array(cols["source"], pa.string())
    return pa.table(arrays)


def gen_html(seed: int, n_convs: int):
    """The tool-fetch corpus of ``corpus.gen_transcripts`` (boilerplate-laden
    pages, preprocessor-dispatching source URLs, malformed and plain-text
    turns, 2% hot conversations) with exactly EMPTY_SHARE empty payloads and
    PDF_SHARE ``pdfx.build_simple_pdf`` payloads at seeded positions, and
    the source domains in a fixed turn-by-turn cycle."""
    from artexin_spark import corpus, pdfx

    pdf = corpus.gen_transcripts(n_convs=n_convs, seed=seed, with_source=True)
    # whole multiples of 200 turns, so the planted shares are exact
    pdf = pdf.iloc[: len(pdf) - len(pdf) % 200]
    rng = random.Random("html-%d" % seed)
    texts = pdf["text"].tolist()
    n = len(texts)
    full = [i for i, t in enumerate(texts) if t]
    for i, t in enumerate(texts):
        if not t:  # the generator's own empties: refill, then plant exactly
            texts[i] = texts[rng.choice(full)]
    k_empty = max(1, round(EMPTY_SHARE * n))
    k_pdf = max(1, round(PDF_SHARE * n))
    picks = rng.sample(range(n), k_empty + k_pdf)
    for i in picks[:k_empty]:
        texts[i] = ""
    for i in picks[k_empty:]:
        body = "\n".join(_prose(rng, rng.randint(40, 90)) for _ in range(rng.randint(2, 4)))
        texts[i] = pdfx.build_simple_pdf(body, title=_prose(rng, 4).rstrip("."))
    cols = {c: pdf[c].tolist() for c in ("conv_id", "role", "tool")}
    # the source domain picks the preprocessors, which are a large share of a
    # page's cost; the corpus draws one domain per conversation, so the few
    # hot conversations would set the mix. Cycle the domains turn by turn
    # instead: every seed gives each domain the same share of turns.
    domains = corpus._DOMAINS
    cols["source"] = [
        domains[i % len(domains)] + "/" + src.rsplit("/", 1)[1]
        for i, src in enumerate(pdf["source"].tolist())
    ]
    cols["turn_idx"] = pdf["turn_idx"].tolist()
    cols["text"] = texts
    return _transcript_table(cols), {"empty_rows": k_empty, "pdf_rows": k_pdf}


def gen_chat(seed: int, n_turns: int):
    """Short plain-text conversational turns, 100-400 characters, in
    conversations of 2-24 turns; exactly EMPTY_SHARE empty turns."""
    rng = np.random.default_rng([seed, 17])
    lens, total = [], 0
    while total < n_turns:
        lens.append(int(rng.integers(2, 25)))
        total += lens[-1]
    lens[-1] -= total - n_turns
    vocab = np.array(_TOPIC + _EN, dtype=object)
    n_words = rng.integers(18, 66, n_turns)
    flat = vocab[rng.integers(0, len(vocab), int(n_words.sum()))].tolist()
    texts, pos = [], 0
    for k in n_words.tolist():
        s = " ".join(flat[pos : pos + k])
        pos += k
        texts.append(s[0].upper() + s[1:] + ".")
    k_empty = max(1, round(EMPTY_SHARE * n_turns))
    for i in rng.choice(n_turns, k_empty, replace=False).tolist():
        texts[i] = ""
    conv_id, turn_idx = [], []
    for c, k in enumerate(lens):
        conv_id.extend(["chat-%07d" % c] * k)
        turn_idx.extend(range(k))
    roles = ["user" if t % 2 == 0 else "assistant" for t in turn_idx]
    cols = {"conv_id": conv_id, "turn_idx": turn_idx, "role": roles, "text": texts}
    return _transcript_table(cols), {"empty_rows": k_empty}


def gen_docs(seed: int, n_docs: int):
    """A documents table (doc_id, text) of ~300-character documents: mostly
    English, some German/French/Spanish, NO_LANG_SHARE with no language
    evidence, planted exact and near duplicates, and a seeded eval slice."""
    rng = random.Random("docs-%d" % seed)
    texts: list[str] = []
    # exact language mix: 70% English, 10% each German, French, Spanish
    langs = ["en"] * (n_docs - 3 * (n_docs // 10)) + ["de", "fr", "es"] * (n_docs // 10)
    rng.shuffle(langs)
    for lang in langs:
        markers = _MARKERS[lang]
        words = [
            rng.choice(markers) if rng.random() < 0.25 else rng.choice(_DOC_VOCAB)
            for _ in range(rng.randint(40, 60))
        ]
        words[0], words[-1] = rng.choice(markers), rng.choice(markers)
        for i in range(7, len(words) - 1, 8):
            words[i] += ","
        texts.append(" ".join(words).capitalize() + ".")
    ids = list(range(n_docs))
    rng.shuffle(ids)
    k_none = max(1, round(NO_LANG_SHARE * n_docs))
    k_dup = max(1, round(DUP_SHARE * n_docs))
    k_near = max(1, round(NEAR_DUP_SHARE * n_docs))
    none_ids = ids[:k_none]
    for i in none_ids:
        texts[i] = " ".join(rng.choice(_NO_LANG) for _ in range(rng.randint(40, 60))) + "."
    pairs = []
    copies = sorted(ids[k_none : k_none + k_dup + k_near])
    originals = [i for i in ids[k_none + k_dup + k_near :]]
    for j, i in enumerate(copies):
        src = rng.choice([o for o in originals[:200] if o < i] or [None])
        if src is None:
            continue
        words = texts[src].split(" ")
        if j % 2:  # near duplicate: one inner word changed, the marker ends kept
            words[rng.randrange(1, len(words) - 1)] = rng.choice(_DOC_VOCAB)
        else:
            pairs.append([src, i])
        texts[i] = " ".join(words)
    eval_ids = sorted(rng.sample(originals, max(1, round(EVAL_SHARE * n_docs))))
    table = pa.table(
        {"doc_id": pa.array(range(n_docs), pa.int64()), "text": pa.array(texts, pa.string())}
    )
    meta = {"no_lang_rows": k_none, "dup_pairs": sorted(pairs), "eval_ids": eval_ids}
    return table, meta


_GENERATORS = {"html": gen_html, "chat": gen_chat, "docs": gen_docs}
