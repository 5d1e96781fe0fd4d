"""Seeded input generator for the benchmark.

Every file is a pure function of ``(seed, sizes)``: numpy's PCG64
stream drives every value and pyarrow writes each table as one parquet
file with one row group and no pandas metadata, so one seed gives
byte-identical files and two seeds give different ones.

* ``write_corpus``: the registry's ``documents`` and ``embeddings``
  tables (the column names and types of the tables in TESTDATA.md) holding a
  text corpus with planted exact duplicates, near duplicates, benchmark
  contamination, PII and low-quality pages, and clustered embeddings
  with planted near-duplicate vectors; an eval set; and streaming drop
  files that replay corpus documents and each other.  The planted ids
  are returned so the checks can score recall.
* ``write_project``: a binary-classification project (train/test CSV)
  with a planted logistic signal on two of four features.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, row_group_size=max(table.num_rows, 1), compression="snappy"
    )


def _clustered_unit_vectors(rng, n: int, k: int, spread: float = 0.35):
    centers = rng.normal(size=(k, _EMBED_DIM))
    labels = rng.integers(0, k, n)
    v = centers[labels] + spread * rng.normal(size=(n, _EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


# --------------------------------------------------------------- corpus

# A Zipf-ish vocabulary: stopwords first (every clean page passes the
# Gopher stopword rule), then synthetic content words of 3-9 letters.
_STOP = ["the", "a", "and", "of", "to", "is", "in", "that", "for", "with"]


def _vocab(rng, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(_STOP)
    out = list(_STOP)
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _page(rng, vocab: list[str], p: np.ndarray, n_words: int) -> str:
    return " ".join(np.asarray(vocab)[rng.choice(len(vocab), n_words, p=p)])


def write_corpus(out_dir: str, seed: int, n_docs: int = 1200) -> dict:
    """Write the curation corpus, eval set, embeddings and streaming
    drops under ``out_dir``; returns the planted ids.

    Files: ``documents.parquet`` and ``embeddings.parquet`` (the
    registry layout), ``evals.parquet`` [eval_id, text] and
    ``drops/drop_<i>.parquet`` [doc_id, text]."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 400)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks
    p /= p.sum()

    texts = [_page(rng, vocab, p, int(w)) for w in rng.integers(60, 160, n_docs)]
    ids = list(range(n_docs))
    planted: dict[str, list] = {}

    # Low-quality pages: too short, or symbol-heavy.
    low = rng.choice(n_docs, n_docs // 40, replace=False)
    for j, i in enumerate(low):
        texts[i] = (
            _page(rng, vocab, p, 20)
            if j % 2
            else " ".join(["###"] * 40 + [_page(rng, vocab, p, 30)])
        )
    clean = np.setdiff1d(np.arange(n_docs), low)
    pick = rng.permutation(clean)
    n_exact, n_near, n_cont, n_pii = (n_docs // 20,) * 4
    exact_src = pick[:n_exact]
    near_src = pick[n_exact : n_exact + n_near]
    cont_dst = pick[n_exact + n_near : n_exact + n_near + n_cont]
    pii_dst = pick[n_exact + n_near + n_cont : n_exact + n_near + n_cont + n_pii]

    # Exact duplicates: new ids with identical text.
    planted["exact_pairs"] = []
    for i in exact_src:
        planted["exact_pairs"].append([int(i), len(ids)])
        ids.append(len(ids))
        texts.append(texts[i])
    # Near duplicates: one word in 40 replaced.
    planted["near_pairs"] = []
    for i in near_src:
        w = texts[i].split()
        for k in range(0, len(w), 40):
            w[k] = vocab[int(rng.integers(10, len(vocab)))]
        planted["near_pairs"].append([int(i), len(ids)])
        ids.append(len(ids))
        texts.append(" ".join(w))

    # Eval set; a passage of each of the first n_cont evals is spliced
    # into one clean corpus page (benchmark contamination).
    n_evals = 2 * n_cont
    evals = [_page(rng, vocab, p, 40) for _ in range(n_evals)]
    planted["contaminated"] = []
    for e, i in enumerate(cont_dst):
        w = texts[i].split()
        cut = len(w) // 2
        texts[i] = " ".join(w[:cut] + evals[e].split() + w[cut:])
        planted["contaminated"].append(int(i))

    # PII: an email, a phone number and an IPv4 address per page.
    planted["pii"] = []
    for i in pii_dst:
        a, b, c = rng.integers(100, 999, 3)
        texts[i] = (
            f"{texts[i]} contact user{a}@example.org or {a}-{b}-{c}{a % 10} "
            f"host 10.{a % 256}.{b % 256}.{c % 256}"
        )
        planted["pii"].append(int(i))

    order = rng.permutation(len(ids))  # duplicates land anywhere
    n_all = len(ids)
    corpus = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n_all), pa.string()),
            "source": pa.array([f"src{i % 8}" for i in range(n_all)], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    _write(corpus, os.path.join(out_dir, "documents.parquet"))
    _write(
        pa.table(
            {
                "eval_id": pa.array(range(n_evals), pa.int64()),
                "text": pa.array(evals, pa.string()),
            }
        ),
        os.path.join(out_dir, "evals.parquet"),
    )

    # Embeddings: clustered unit vectors plus planted near copies.
    n_vec = n_docs
    vecs, labels = _clustered_unit_vectors(rng, n_vec, 16)
    src = rng.choice(n_vec, n_vec // 20, replace=False)
    jitter = vecs[src] + 0.01 * rng.normal(size=(len(src), _EMBED_DIM))
    jitter /= np.linalg.norm(jitter, axis=1, keepdims=True)
    vecs = np.vstack([vecs, jitter.astype(np.float32)])
    labels = np.concatenate([labels, labels[src]])
    planted["vec_pairs"] = [[int(a), n_vec + j] for j, a in enumerate(src)]
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    # Streaming drops: each drop holds fresh pages, replays of corpus
    # pages (caught by the digest index) and repeats of an earlier
    # drop's fresh pages (caught by that drop's index append).
    drops_dir = os.path.join(out_dir, "drops")
    os.makedirs(drops_dir, exist_ok=True)
    next_id = 1_000_000
    prev_fresh: list[str] = []
    n_drops, per_drop = 2, 60
    for d in range(n_drops):
        fresh = [_page(rng, vocab, p, int(w)) for w in rng.integers(60, 120, per_drop)]
        replay = [texts[int(i)] for i in rng.choice(n_all, per_drop // 4)]
        repeat = list(prev_fresh[: per_drop // 4])
        rows = fresh + replay + repeat
        d_ids = list(range(next_id, next_id + len(rows)))
        next_id += len(rows)
        _write(
            pa.table(
                {
                    "doc_id": pa.array(d_ids, pa.int64()),
                    "text": pa.array(rows, pa.string()),
                }
            ),
            os.path.join(drops_dir, f"drop_{d}.parquet"),
        )
        prev_fresh = fresh
    return planted


# -------------------------------------------------------------- project


def write_project(raw_dir: str, seed: int, n_rows: int = 3000) -> None:
    """Write ``train.csv`` / ``test.csv`` under ``raw_dir``: key,
    four numeric features and (train only) a 0/1 target whose log-odds
    are linear in ``f_signal_a`` and ``f_signal_b``."""
    os.makedirs(raw_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    x = np.round(rng.normal(size=(n_rows, 4)), 3)
    logit = 1.6 * x[:, 0] - 1.1 * x[:, 1] + 0.2
    y = (rng.uniform(size=n_rows) < 1.0 / (1.0 + np.exp(-logit))).astype(np.int64)
    key = np.arange(n_rows, dtype=np.int64)
    cols = {
        "key": key,
        "f_signal_a": x[:, 0],
        "f_signal_b": x[:, 1],
        "f_noise_a": x[:, 2],
        "f_noise_b": x[:, 3],
    }
    test = key % 5 == 0
    train_t = pa.table({**{k: v[~test] for k, v in cols.items()}, "target": y[~test]})
    test_t = pa.table({k: v[test] for k, v in cols.items()})
    pacsv.write_csv(train_t, os.path.join(raw_dir, "train.csv"))
    pacsv.write_csv(test_t, os.path.join(raw_dir, "test.csv"))
