"""Builder-side measurement data: synthesize a 10x-scale twin of the
driver's sf1.0 directory (which the driver generates and removes) so
optimization A/Bs on the text/vector legs can be validated at the
driver's escalated scale.  NOT used by any query, test, or bench run —
pure instrumentation; outputs land outside the repo (default
/root/sfbig) and only documents/embeddings are synthesized (the
relational tables are copied from sf0.1 unscaled, so relational-leg
numbers from this directory are NOT citable).

Statistics matched from /root/testdata/sf0.1 (empirically): 31-word
vocabulary with its unigram distribution, per-doc word-count
distribution, 20 sources round-robin, lang marginals, and a ~5%
planted near-duplicate rate (mutated copies, 1-3 word edits) that
reproduces the driver's observed jaccard_pairs_exact density
(25 pairs/500 docs at sf0.01, 2544/50k at the driver's sf1.0).
Deterministic: seed 7.

Usage: python tools/make_bigsf.py [outdir] [n_docs] [n_vecs]
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/root/sfbig"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(7)
    con = duckdb.connect()

    # --- empirical stats from sf0.1 documents ---
    rows = con.sql(
        f"select text, lang, source from '{SRC}/documents.parquet'"
    ).fetchall()
    words: dict[str, int] = {}
    lens = []
    langs: dict[str, int] = {}
    for text, lang, _src in rows:
        toks = text.split(" ")
        lens.append(len(toks))
        for t in toks:
            words[t] = words.get(t, 0) + 1
        langs[lang] = langs.get(lang, 0) + 1
    vocab = np.array(sorted(words))
    wprob = np.array([words[w] for w in vocab], dtype=float)
    wprob /= wprob.sum()
    lens = np.array(lens)
    lang_names = sorted(langs)
    lang_prob = np.array([langs[n] for n in lang_names], dtype=float)
    lang_prob /= lang_prob.sum()

    # --- documents: i.i.d. word salad + ~5% mutated near-copies ---
    doc_words: list[np.ndarray] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            base = doc_words[rng.integers(max(0, i - 1000), i)]
            w = base.copy()
            n_edits = int(rng.integers(1, 4)) if len(w) else 0  # empty base: nothing to edit
            for _ in range(n_edits):
                w[rng.integers(0, len(w))] = vocab[
                    rng.choice(len(vocab), p=wprob)
                ]
        else:
            n = int(lens[rng.integers(0, len(lens))])
            w = vocab[rng.choice(len(vocab), size=n, p=wprob)]
        doc_words.append(w)
    texts = [" ".join(w) for w in doc_words]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(
                [lang_names[i] for i in rng.choice(len(lang_names), n_docs, p=lang_prob)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))

    # --- embeddings: noisy copies of sf0.1 vectors, labels carried ---
    base_rows = con.sql(
        f"select embedding, label from '{SRC}/embeddings.parquet'"
    ).fetchall()
    base_vecs = np.array([r[0] for r in base_rows], dtype=np.float32)
    base_lab = np.array([r[1] for r in base_rows])
    idx = rng.integers(0, len(base_vecs), n_vecs)
    vecs = base_vecs[idx] + rng.normal(0, 0.05, (n_vecs, base_vecs.shape[1])).astype(
        np.float32
    )
    etbl = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(base_lab[idx], pa.int32()),
        }
    )
    pq.write_table(etbl, os.path.join(out, "embeddings.parquet"))

    # --- remaining tables: copied unscaled (NOT citable for timing) ---
    for t in "region nation customer supplier part orders lineitem events".split():
        shutil.copyfile(os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    print(f"wrote {out}: {n_docs} docs, {n_vecs} vecs")


if __name__ == "__main__":
    main()
