"""Seeded input generator for the benchmark.

Kept inside the benchmark's own directory on purpose: the program's own
``hashio_spark/datagen.py`` may change in later work, and the benchmark's
inputs must not move with it.  Everything is built with numpy + pyarrow
(no Spark), so input generation is never part of a timed window or of
set-up time.

Two input sets, each fully determined by ``(GEN_VERSION, seed, size)``:

* **interleaved** — the validator's input table
  ``(doc_id, partition_id, spans array<struct<kind,text,media_ref,offset>>,
  quality)`` written as ``N_FILES`` parquet files that each hold whole
  ``partition_id`` values, plus a ``catalog.parquet`` asset table.  Four
  violation rules are planted at seeded random rows; their counts are
  derived here from the planting masks, independently of the validator.
* **neardup** — a flat ``(doc_id, text)`` corpus written as
  ``documents.parquet``; a seeded 5% of docs are near-copies (one word
  substituted) of the doc before them.  The planted pairs are returned.

Generated sets are cached on disk under a key of version, seed and size;
a finished set is marked by its ``meta.json``, written last.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1

N_PARTITIONS = 64
N_FILES = 16
N_ASSETS = 1000
# planted-violation rates (per row, independent draws)
P_DUP = 0.010       # row reuses the previous row's doc_id
P_DANGLE = 0.010    # one media span points at a ref absent from the catalog
P_NULLTEXT = 0.010  # first span is a text span with NULL text
P_OOO = 0.010       # span offsets reversed (docs with >= 2 spans)
VOCAB = 5000
NEARDUP_RATE = 0.05

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("partition_id", pa.int32()),
    ("spans", pa.list_(SPAN_TYPE)), ("quality", pa.float64()),
])


def _words(rng: np.random.Generator) -> pa.Array:
    """A fixed-size vocabulary of distinct lowercase pseudo-words."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(3, 9, size=VOCAB)
    words = set()
    out = []
    while len(out) < VOCAB:
        w = letters[rng.integers(0, 26, size=lens[len(out)])].tobytes().decode()
        if w not in words:
            words.add(w)
            out.append(w)
    return pa.array(out)


def _join_words(vocab: pa.Array, word_idx: np.ndarray, counts: np.ndarray) -> pa.Array:
    """Strings made of ``counts[i]`` consecutive vocabulary words taken
    from ``word_idx``, space-separated (vectorised via list join)."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    lists = pa.ListArray.from_arrays(pa.array(offsets), vocab.take(pa.array(word_idx)))
    return pc.binary_join(lists, " ")


def _prefixed(prefix: str, values: np.ndarray, width: int = 0) -> pa.Array:
    s = pc.cast(pa.array(values), pa.string())
    if width:
        s = pc.utf8_lpad(s, width=width, padding="0")
    return pc.binary_join_element_wise(pa.scalar(prefix), s, "")


# ---------------------------------------------------------------------------
# interleaved table
# ---------------------------------------------------------------------------


def interleaved_tables(n_docs: int, seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """(documents, catalog, expected) for ``n_docs`` rows.

    ``expected`` holds the planted-violation counts per rule, the total
    the CLI summary must report, and the per-partition row counts."""
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng)
    idx = np.arange(n_docs)

    dup = rng.random(n_docs) < P_DUP
    dup[0] = False
    dup[1:] &= ~dup[:-1]  # a duplicate never copies another duplicate
    base = np.where(dup, idx - 1, idx)
    doc_id = _prefixed(f"s{seed}-doc-", base, width=9)
    # a duplicate shares its base row's partition, so the uniqueness rule
    # sees both rows in one file and in one streaming micro-batch
    part = (rng.permutation(n_docs) % N_PARTITIONS)[base].astype(np.int32)

    dangle = rng.random(n_docs) < P_DANGLE
    nulltext = rng.random(n_docs) < P_NULLTEXT
    ooo = rng.random(n_docs) < P_OOO

    n_spans = rng.integers(1, 9, size=n_docs)
    n_spans = np.where((ooo | dangle | nulltext) & (n_spans < 2), 2, n_spans)
    total = int(n_spans.sum())
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_spans, out=starts[1:])
    span_doc = np.repeat(idx, n_spans)
    pos = np.arange(total) - starts[span_doc]
    first = pos == 0
    last = pos == n_spans[span_doc] - 1

    is_text = rng.random(total) < 0.7
    is_text |= first & nulltext[span_doc]   # planted: first span is text ...
    is_text &= ~(last & dangle[span_doc])   # ... and the last one media
    kinds = pa.array(np.array(["image", "audio", "video"])[rng.integers(0, 3, total)])
    kind = pc.if_else(pa.array(is_text), pa.scalar("text"), kinds)

    n_words = np.where(is_text, rng.integers(8, 25, size=total), 0)
    text = _join_words(vocab, rng.integers(0, VOCAB, size=int(n_words.sum())), n_words)
    null_text = ~is_text | (first & nulltext[span_doc])
    text = pc.if_else(pa.array(null_text), pa.scalar(None, pa.string()), text)

    ref_idx = rng.integers(0, N_ASSETS, size=total)
    refs = _prefixed("asset-", ref_idx)
    missing = _prefixed("asset-missing-", span_doc)
    refs = pc.if_else(pa.array(last & dangle[span_doc]), missing, refs)
    media_ref = pc.if_else(pa.array(is_text), pa.scalar(None, pa.string()), refs)

    offset = np.where(ooo[span_doc], (n_spans[span_doc] - 1 - pos) * 10, pos * 10).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [kind, text, media_ref, pa.array(offset)], fields=list(SPAN_TYPE))
    spans = pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), spans)

    docs = pa.Table.from_arrays(
        [doc_id, pa.array(part), spans, pa.array(rng.random(n_docs))], schema=DOC_SCHEMA)
    catalog = pa.table({
        "media_ref": _prefixed("asset-", np.arange(N_ASSETS)),
        "media_kind": pa.array(np.array(["image", "audio", "video"])[rng.integers(0, 3, N_ASSETS)]),
        "size_bytes": pa.array(rng.integers(1024, 10_000_000, size=N_ASSETS)),
    })
    counts = {
        "duplicate_doc_id": int(dup.sum()),
        "dangling_media_ref": int(dangle.sum()),
        "null_text_span": int(nulltext.sum()),
        "offset_out_of_order": int(ooo.sum()),
    }
    expected = {
        "docs": n_docs,
        "violations_by_rule": counts,
        "violations": sum(counts.values()),
        "partition_rows": np.bincount(part, minlength=N_PARTITIONS).tolist(),
    }
    return docs, catalog, expected


def write_interleaved(docs: pa.Table, catalog: pa.Table, out: str) -> None:
    """``out/docs/part-XX.parquet`` (file f holds partitions p with
    p % N_FILES == f, sorted by partition) and ``out/catalog.parquet``."""
    os.makedirs(f"{out}/docs")
    part = docs.column("partition_id").to_numpy()
    order = np.lexsort((np.arange(len(part)), part))
    for f in range(N_FILES):
        rows = order[(part[order] % N_FILES) == f]
        pq.write_table(docs.take(pa.array(rows)), f"{out}/docs/part-{f:02d}.parquet",
                       row_group_size=max(1, len(rows) // 4))
    pq.write_table(catalog, f"{out}/catalog.parquet")


# ---------------------------------------------------------------------------
# near-dup corpus
# ---------------------------------------------------------------------------


def neardup_table(n_docs: int, seed: int) -> tuple[pa.Table, list[tuple[str, str]]]:
    """(documents, planted pairs).  Doc i is a planted near-dup with
    probability NEARDUP_RATE: it copies doc i-1's words with one word
    substituted (shingle Jaccard ~0.9 for 40-100 words)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _words(rng)
    idx = np.arange(n_docs)
    near = rng.random(n_docs) < NEARDUP_RATE
    near[0] = False
    near[1:] &= ~near[:-1]  # planted pairs never chain
    n_words = rng.integers(40, 101, size=n_docs)
    n_words[near] = n_words[np.flatnonzero(near) - 1]
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_words, out=starts[1:])
    words = rng.integers(0, VOCAB, size=int(starts[-1]))
    for i in np.flatnonzero(near):
        w = words[starts[i - 1]:starts[i]].copy()
        j = rng.integers(0, len(w))
        w[j] = (w[j] + 1 + rng.integers(0, VOCAB - 1)) % VOCAB
        words[starts[i]:starts[i + 1]] = w
    doc_id = _prefixed(f"s{seed}-nd-", idx, width=9)
    docs = pa.table({"doc_id": doc_id, "text": _join_words(vocab, words, n_words)})
    ids = doc_id.to_pylist()
    pairs = [(ids[i - 1], ids[i]) for i in np.flatnonzero(near)]
    return docs, pairs


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------


def ensure(root: str, kind: str, n_docs: int, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) one input set under ``root``; returns its
    directory and its meta (expected counts / planted pairs)."""
    out = os.path.join(root, f"{kind}-v{GEN_VERSION}-s{seed}-n{n_docs}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "interleaved":
        docs, catalog, meta = interleaved_tables(n_docs, seed)
        write_interleaved(docs, catalog, tmp)
    elif kind == "neardup":
        docs, pairs = neardup_table(n_docs, seed)
        pq.write_table(docs, f"{tmp}/documents.parquet", row_group_size=max(1, n_docs // 16))
        meta = {"docs": n_docs, "planted_pairs": pairs}
    else:
        raise ValueError(f"unknown input kind: {kind}")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, out)
    return out, meta
