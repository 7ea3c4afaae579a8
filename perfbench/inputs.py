"""Seeded input builders for the benchmark, cached per
(kind, seed, scale, generator fingerprint) under the work directory.

Two inputs:

- a transcript table (``transcripts/part-*.parquet``) built with the
  program's own turn generator, with the global seed set to ``--seed``. It
  carries no gold columns; the gold digest of every turn sits beside it in
  ``gold.parquet`` (md5 of the gold text, gold char and span counts).
- a ``documents`` table (``docs/documents.parquet``, the schema of the sf
  test data's ``documents``) of random-word documents with planted near-duplicate
  clone families. ``families.parquet`` records each clone's family root, its
  word-replacement rate and its true word-bigram Jaccard with the root.

The program under test only ever sees the parquet tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from random import Random

import pyarrow as pa
import pyarrow.parquet as pq

# transcript tables: (turns, files); one mega-conversation holds ~5% of turns
TRANSCRIPT_SCALES = {"full": (32_000, 16), "tiny": (600, 4)}
# document corpora: base docs; a quarter of them root a clone family
DOC_SCALES = {"full": 1_000, "tiny": 120}
CLONE_RATES = (0.05, 0.15, 0.3, 0.6)
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
GEN_WORKERS = 4  # processes that build transcript files
KEEP_CACHED = 6  # cached inputs kept per kind; older ones are pruned

_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")  # WS_CLASS of the program


@dataclass
class Input:
    path: str   # directory holding the tables
    meta: dict  # rows, bytes, generation seconds, key


def word_shingles(text: str) -> set:
    """Word-bigram shingle set with the program's normalization (trim,
    whitespace runs to one space, lower-case; a one-word doc is its own
    shingle). Plain Python, independent of the Spark code it checks."""
    norm = _WS_RE.sub(" ", text.strip(" \t\n\x0b\f\r")).lower()
    toks = norm.split(" ")
    if len(toks) < 2:
        return {norm}
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _fingerprint() -> str:
    from univer_ocr_spark.generator.goldens import generator_fingerprint

    with open(__file__, "rb") as fh:
        own = hashlib.blake2b(fh.read(), digest_size=4).hexdigest()
    return f"{generator_fingerprint()}{own}"


def _cached(cache_dir: str, kind: str, seed: int, scale: str, build) -> Input:
    key = f"{kind}-s{seed}-{scale}-{_fingerprint()}"
    path = os.path.join(cache_dir, key)
    meta_file = os.path.join(path, "meta.json")
    if not os.path.exists(meta_file):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        meta = build(tmp, seed, scale)
        meta.update(key=key, gen_s=time.perf_counter() - t0, generated_now=True)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        _prune(cache_dir, kind, keep=path)
        return Input(path, meta)
    os.utime(path)  # most recently used survives pruning
    with open(meta_file) as fh:
        meta = json.load(fh)
    meta["generated_now"] = False
    return Input(path, meta)


def _prune(cache_dir: str, kind: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
        if e.startswith(kind + "-") and ".tmp" not in e
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ------------------------------------------------------------ transcripts --

def _transcript_chunk(out_file: str, lo: int, hi: int, mega_size: int, seed: int):
    """Build the turns of conversations [lo, hi), write them as one parquet
    file and return their gold digest rows."""
    from univer_ocr_spark.generator.transcripts import (
        build_turn, conv_id_of, conv_size,
    )

    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    gold = {k: [] for k in ("conv_id", "turn_idx", "text_md5", "n_chars", "n_spans")}
    for idx in range(lo, hi):
        cid = conv_id_of(idx)
        for t in range(conv_size(idx, 1, mega_size, seed)):
            row = build_turn(cid, t, seed)
            for k in cols:
                cols[k].append(row[k])
            gold["conv_id"].append(cid)
            gold["turn_idx"].append(t)
            gold["text_md5"].append(
                hashlib.md5(row["gold_text"].encode("utf-8")).hexdigest()
            )
            gold["n_chars"].append(len(row["gold_text"]))
            gold["n_spans"].append(len(row["gold_spans"]))
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    pq.write_table(pa.table(cols, schema=schema), out_file)
    return gold


def _build_transcripts(out: str, seed: int, scale: str) -> dict:
    from univer_ocr_spark.generator.transcripts import conv_size

    n_turns, n_files = TRANSCRIPT_SCALES[scale]
    mega_size = max(50, n_turns // 20)
    # contiguous conversation ranges of ~n_turns / n_files turns each, so
    # every file is one similar-sized scan split
    sizes, total = [], 0
    while total < n_turns:
        sizes.append(conv_size(len(sizes), 1, mega_size, seed))
        total += sizes[-1]
    bounds, acc, lo = [], 0, 0
    for idx, s in enumerate(sizes):
        acc += s
        if acc >= (len(bounds) + 1) * total / n_files or idx == len(sizes) - 1:
            bounds.append((lo, idx + 1))
            lo = idx + 1
    os.makedirs(os.path.join(out, "transcripts"))
    jobs = [
        (os.path.join(out, "transcripts", f"part-{i:04d}.parquet"), a, b, mega_size, seed)
        for i, (a, b) in enumerate(bounds)
    ]
    # one file per job, in a few worker processes; the pool waits for them
    with ProcessPoolExecutor(max_workers=min(GEN_WORKERS, os.cpu_count() or 1)) as pool:
        golds = list(pool.map(_transcript_chunk, *zip(*jobs)))
    gold = {k: sum((g[k] for g in golds), []) for k in golds[0]}
    pq.write_table(pa.table(gold), os.path.join(out, "gold.parquet"))
    return {
        "rows": total,
        "bytes": _dir_bytes(os.path.join(out, "transcripts")),
        "convs": len(sizes),
        "mega_conv_turns": mega_size,
    }


def transcripts(cache_dir: str, seed: int, scale: str) -> Input:
    return _cached(cache_dir, "transcripts", seed, scale, _build_transcripts)


# -------------------------------------------------------------- documents --

def _random_doc(rng: Random) -> list:
    return [rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100))]


def _clone(rng: Random, words: list, rate: float) -> list:
    return [
        rng.choice([v for v in DOC_VOCAB if v != w]) if rng.random() < rate else w
        for w in words
    ]


def _build_docs(out: str, seed: int, scale: str) -> dict:
    rng = Random(f"perfbench-docs-{seed}")
    n_base = DOC_SCALES[scale]
    texts = [_random_doc(rng) for _ in range(n_base)]
    family, rate, true_j = [-1] * n_base, [0.0] * n_base, [1.0] * n_base
    for root in rng.sample(range(n_base), n_base // 4):
        for r in CLONE_RATES:
            words = _clone(rng, texts[root], r)
            texts.append(words)
            family.append(root)
            rate.append(r)
            true_j.append(jaccard(word_shingles(" ".join(texts[root])),
                                  word_shingles(" ".join(words))))
    # shuffle doc ids so clone families are spread over the id range
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    docs = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    fams = {k: [] for k in ("doc_id", "family", "rate", "true_j")}
    for new, old in enumerate(order):
        text = " ".join(texts[old])
        docs["doc_id"].append(new)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(DOC_LANGS))
        docs["source"].append(f"src{new % 20}")
        docs["n_chars"].append(len(text))
        fams["doc_id"].append(new)
        fams["family"].append(new_id[family[old]] if family[old] >= 0 else -1)
        fams["rate"].append(rate[old])
        fams["true_j"].append(true_j[old])
    os.makedirs(os.path.join(out, "docs"))
    pq.write_table(pa.table(docs), os.path.join(out, "docs", "documents.parquet"))
    pq.write_table(pa.table(fams), os.path.join(out, "families.parquet"))
    return {
        "rows": len(order),
        "bytes": _dir_bytes(os.path.join(out, "docs")),
        "base_docs": n_base,
        "clones": len(order) - n_base,
    }


def documents(cache_dir: str, seed: int, scale: str) -> Input:
    return _cached(cache_dir, "documents", seed, scale, _build_docs)
