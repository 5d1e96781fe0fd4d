"""The input generator is a pure function of its seed.

    python -m pytest fmlbench -q
"""

import os

import pyarrow.parquet as pq

import gen


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _write_all(root, seed):
    gen.write_corpus(os.path.join(root, "corpus"), seed, n_docs=200)
    gen.write_project(os.path.join(root, "raw"), seed, n_rows=300)
    return _files(root)


def test_one_seed_is_byte_identical_two_seeds_differ(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    c = _write_all(str(tmp_path / "c"), 8)
    assert a.keys() == b.keys() == c.keys()
    assert a == b
    assert not {k for k in a if a[k] == c[k]}


def test_registry_layout_matches_the_driver_testdata_types(tmp_path):
    gen.write_corpus(str(tmp_path), 1, n_docs=200)
    docs = pq.read_schema(str(tmp_path / "documents.parquet"))
    assert [(f.name, str(f.type)) for f in docs] == [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64"),
    ]
    emb = pq.read_schema(str(tmp_path / "embeddings.parquet"))
    assert [(f.name, str(f.type)) for f in emb] == [
        ("vec_id", "int64"), ("embedding", "list<element: float>"), ("label", "int32"),
    ]
    for name in ("documents", "embeddings", "evals"):
        assert pq.ParquetFile(str(tmp_path / f"{name}.parquet")).num_row_groups == 1


def test_planted_sets_are_disjoint_and_present(tmp_path):
    planted = gen.write_corpus(str(tmp_path), 3, n_docs=200)
    ids = set(pq.read_table(str(tmp_path / "documents.parquet")).column("doc_id").to_pylist())
    near = {b for _, b in planted["near_pairs"]}
    exact = {b for _, b in planted["exact_pairs"]}
    assert near | exact <= ids and not near & exact
    assert not set(planted["contaminated"]) & set(planted["pii"])
