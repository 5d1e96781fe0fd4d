"""The benchmark's workloads.

Each workload is a closed loop with one client and one operation
type.  ``prepare`` writes the seeded inputs (pure Python, repeatable),
``start`` does per-session set-up, ``run`` executes one operation (the
timed part), ``check`` verifies its output (untimed) and ``clean``
removes what the operation left on disk (untimed).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import re
import shutil
import statistics
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import gen
from fastmlframework_spark.core import checkpoints
from fastmlframework_spark.extensions import curation as xcur
from fastmlframework_spark.extensions import dedup as xdedup
from fastmlframework_spark.extensions import filtering as xfilt
from fastmlframework_spark.extensions import similarity as xsim
from fastmlframework_spark.extensions import text as xtext
from fastmlframework_spark.pipeline import solution
from fastmlframework_spark.queries import dedup as qdedup
from fastmlframework_spark.queries import registry
from fastmlframework_spark.sources import shards as xshards
from fastmlframework_spark.streaming import dedup as sdedup

# Library functions are called through their modules so that a traced
# run, which rebinds module attributes, sees every call.

# ---------------------------------------------------------------- helpers


def _rows_digest(cols, rows) -> str:
    """Order-insensitive digest of stringified values over sorted
    columns: the registry's oracle comparison."""
    idx = [cols.index(c) for c in sorted(cols)]
    lines = sorted("\x1f".join(str(r[i]) for i in idx) for r in rows)
    return hashlib.md5("\x1e".join(lines).encode()).hexdigest()


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the query's
    ``QueryExecution`` tracker, forcing planning first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    phases = qe.tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        out[kv._1()] = (ph.endTimeMs() - ph.startTimeMs())
    return out


# -------------------------------------------------------- solution_chain

_META_SCALE = 1_000_000
_FEATURE_SCALE = 1000


def chain_config(raw: str) -> dict:
    """The chain, as small as it goes: two-fold CV, one permutation
    run of feature selection, one Newton step, five MLlib iterations
    and a two-evaluation blend search."""
    feats = ("f_signal_a", "f_signal_b", "f_noise_a", "f_noise_b")
    return {
        "index_column": "key",
        "target_column": "target",
        "train_file": os.path.join(raw, "train.csv"),
        "test_file": os.path.join(raw, "test.csv"),
        "modeling_settings": {
            "task": "classification",
            "metric": "roc_auc_score",
            "models": ["newton", "logistic_regression"],
            "model_seeds_list": [27],
            "cv_params": {"n_folds": 2, "stratified": False},
            "predict_probability": True,
            "class_label": 1,
            "target_decimals": 6,
            "run_fs": True,
            "run_hpo": False,
            "run_stacking": True,
            "run_blending": True,
        },
        "model_params": {
            "newton": {
                "estimator_kind": "logistic_newton",
                "scales": {f: _FEATURE_SCALE for f in feats},
                "iters": 1,
                "lam": 1.0,
            },
            "logistic_regression": {"maxIter": 5, "regParam": 0.01},
        },
        "fs_settings": {
            "estimator": "logistic_regression",
            "nb_target_permutation_runs": 1,
            "threshold": -1000.0,
        },
        "stacking_settings": {
            "meta_model": "ridge_meta",
            "meta_model_params": {
                "estimator_kind": "ridge_closed_form",
                "scales": {
                    "newton_OOF": _META_SCALE,
                    "logistic_regression_OOF": _META_SCALE,
                },
                "lam": 1,
            },
        },
        "blending_settings": {"init_points": 1, "n_iter": 1},
    }


def _auc(scores: pd.Series, labels: pd.Series) -> float:
    """Rank (Mann-Whitney) AUC with tied scores sharing their mean rank."""
    ranks = scores.rank()
    pos = labels == 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def _table_digest(path: str) -> str:
    """Digest of a parquet table's rows, sorted, with full-precision
    values."""
    df = pq.read_table(path).to_pandas()
    df = df[sorted(df.columns)].sort_values(sorted(df.columns), ignore_index=True)
    return hashlib.md5(df.to_csv(index=False, float_format="%.17g").encode()).hexdigest()


class SolutionChain:
    name = "solution_chain"
    item = "OOF row written"
    AUC_FLOOR = 0.75

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.raw = self.inputs = os.path.join(work, "raw")
        self.project = os.path.join(work, "project")
        self.oof_digest = None

    def prepare(self, out: str) -> None:
        gen.write_project(out, self.seed)

    def start(self, bench) -> None:
        self.config = chain_config(self.raw)
        with open(os.path.join(self.raw, "train.csv")) as fh:
            self.n_train = sum(1 for _ in fh) - 1
        results = os.path.join(self.project, "results")
        models = self.config["modeling_settings"]["models"]
        model_dirs = {
            m: os.path.join(results, m, "fs_permutation", "hpo_none", "single_seed")
            for m in models
        }
        self.manifest_expect = {
            "models": models,
            "stacking": True,
            "blending": True,
            "artifacts": model_dirs,
        }
        self.stacked = os.path.join(results, "stacking", "train_oof")
        self.blended = os.path.join(results, "blending", "train_oof")
        self.oof_dirs = [os.path.join(d, "train_oof") for d in model_dirs.values()]
        self.oof_dirs += [self.stacked, self.blended]

    def run(self, bench, op) -> None:
        ran = solution.build_solution(bench.spark, self.config, self.project, workers=2)
        _require(len(ran) == 7, f"expected 7 tasks to run from cold, got {len(ran)}")
        op.items = self.n_train * len(self.oof_dirs)

    def check(self, bench, op) -> None:
        for d in self.oof_dirs:
            t = pq.read_table(d)
            _require(t.num_rows == self.n_train, f"{d}: {t.num_rows} OOF rows")
        st = pq.read_table(self.stacked).to_pandas()
        auc = _auc(st["target_oof"], st["target"])
        _require(auc > self.AUC_FLOOR, f"stacked OOF AUC {auc:.3f} <= {self.AUC_FLOOR}")
        with open(os.path.join(self.project, "solution_manifest.json")) as fh:
            manifest = json.load(fh)
        _require(manifest == self.manifest_expect, "solution manifest differs from the config's")
        # a run of more than one operation (the traced run) also
        # requires every operation to repeat the first one's predictions
        digest = _table_digest(self.stacked) + _table_digest(self.blended)
        if self.oof_digest is None:
            self.oof_digest = digest
        _require(digest == self.oof_digest, "stacked or blended OOF differs between operations")

    def clean(self, bench) -> None:
        shutil.rmtree(self.project, ignore_errors=True)


# ------------------------------------------------------- corpus_curation

_PII_RE = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b"
    r"|\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
)


class CorpusCuration:
    name = "corpus_curation"
    item = "document"
    NEAR_RECALL_FLOOR = 0.9
    ANN_RECALL_FLOOR = 0.8
    K = 5
    N_QUERIES = 40

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs = os.path.join(work, "corpus")
        self.out = os.path.join(work, "curation_out")

    def prepare(self, out: str) -> None:
        self.planted = gen.write_corpus(out, self.seed)
        # drop files are ingested in name order; pin their mtimes
        drops = os.path.join(out, "drops")
        for i, n in enumerate(sorted(os.listdir(drops))):
            os.utime(os.path.join(drops, n), (1_700_000_000 + i, 1_700_000_000 + i))

    def start(self, bench) -> None:
        corpus = pq.read_table(os.path.join(self.inputs, "documents.parquet"))
        self.n_docs = corpus.num_rows
        drops = os.path.join(self.inputs, "drops")
        self.drop_files = sorted(os.listdir(drops))
        drop_t = [pq.read_table(os.path.join(drops, n)) for n in self.drop_files]
        self.n_drop_docs = sum(t.num_rows for t in drop_t)
        # the registry query's DuckDB oracle answer; read from the
        # registry dict because all_oracles() imports every query module
        # (queries.similarity alone takes ~13 s)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.inputs, 'documents.parquet')}')"
        )
        cur = con.execute(registry._ORACLES["dedup_exact"])
        self.report_expect = _rows_digest([d[0] for d in cur.description], cur.fetchall())
        con.close()
        # exact top-k for the ANN recall check, on the driver; like the
        # operator, a query is not its own neighbour
        emb = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        v = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ids = emb.column("vec_id").to_numpy()
        self.query_ids = ids[:: max(len(ids) // self.N_QUERIES, 1)][: self.N_QUERIES]
        rows = np.searchsorted(ids, self.query_ids)
        sims = v[rows] @ v.T
        sims[np.arange(len(rows)), rows] = -np.inf
        self.exact_topk = {
            int(q): set(ids[np.argsort(-sims[i], kind="stable")[: self.K]].tolist())
            for i, q in enumerate(self.query_ids)
        }
        # batch answer of the stream: over the union of the drops, the
        # min id of each text whose digest the corpus index lacks
        seen = {hashlib.md5(t.encode()).hexdigest() for t in corpus.column("text").to_pylist()}
        first: dict[str, int] = {}
        for t in drop_t:
            for i, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
                d = hashlib.md5(text.encode()).hexdigest()
                if d not in seen:
                    first[d] = min(first.get(d, i), i)
        self.stream_expect = sorted(first.values())

    # ------------------------------------------------------------- op

    def run(self, bench, op) -> None:
        res = {}
        res.update(self._report(bench))
        res.update(self._funnel(bench))
        res.update(self._vectors(bench))
        res.update(self._stream(bench))
        op.result = res
        op.items = self.n_docs + self.n_drop_docs

    def _action(self, bench, layer: str, name: str):
        """A benchmark-side span around an action on a plan built by
        ``layer``: the action's jobs belong to that layer."""
        tr = bench.tracer
        return tr.span(layer, f"action:{name}") if tr else contextlib.nullcontext()

    def _report(self, bench) -> dict:
        """The registry's ``dedup_exact`` query over the corpus: one row
        per distinct text with its min id and copy count."""
        tr = bench.tracer
        if tr is None:
            rows = qdedup.dedup_exact(bench.spark, self.inputs).collect()
        else:
            with tr.span("queries", "construct"):
                df = qdedup.dedup_exact(bench.spark, self.inputs)
            with tr.span("queries", "execute") as s:
                s.attrs["phases"] = _catalyst_phases(df)
                rows = df.collect()
        return {"report": (list(rows[0].__fields__) if rows else [], [tuple(r) for r in rows])}

    def _funnel(self, bench) -> dict:
        spark = bench.spark
        docs = spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))
        evals = spark.read.parquet(os.path.join(self.inputs, "evals.parquet"))

        # canonicalize -> exact dedup on the canonical digest
        canon = xtext.canonicalize(docs).withColumn("__d", F.md5("canon"))
        keep = canon.groupBy("__d").agg(F.min("doc_id").alias("doc_id"))
        with self._action(bench, "extensions.text", "exact_dedup"):
            stage1 = checkpoints.checkpoint(
                docs.join(keep.select("doc_id"), on="doc_id", how="left_semi")
            )
        # MinHash near dedup: of each verified pair the min id stays
        pairs = xdedup.minhash_lsh_pairs(stage1, num_hashes=8, bands=4, verify_threshold=None)
        with self._action(bench, "extensions.dedup", "near_pairs"):
            pair_rows = pairs.collect()
        verified = [(r.key_a, r.key_b) for r in pair_rows if r.sig_agreement >= 0.6]
        dropped = sorted({max(a, b) for a, b in verified})
        stage2 = stage1.filter(~F.col("doc_id").isin(dropped)) if dropped else stage1
        # quality screen: Gopher rules
        flags = xfilt.gopher_rule_flags(stage2).select("doc_id", "passes")
        with self._action(bench, "extensions.filtering", "quality"):
            stage3 = checkpoints.checkpoint(
                stage2.join(flags.filter("passes").select("doc_id"), on="doc_id", how="left_semi")
            )
            n2, n3 = stage2.count(), stage3.count()
        # contamination screen against the eval set
        cont = xcur.eval_contamination(stage3, evals, n=5, min_containment=0.5)
        with self._action(bench, "extensions.curation", "contamination"):
            cont_ids = sorted(r.doc_id for r in cont.select("doc_id").distinct().collect())
        stage4 = stage3.filter(~F.col("doc_id").isin(cont_ids)) if cont_ids else stage3
        # PII scrub -> packing -> shard write
        scrubbed = xcur.pii_scrub(stage4).select(
            "doc_id", F.col("clean_text").alias("text"), "lang", "source"
        )
        packed = xcur.pack_streams(scrubbed, ctx=512, shards=4)
        with self._action(bench, "extensions.curation", "packing"):
            n_packs = packed.select("shard", "pack_id").distinct().count()
        manifest = xshards.write_training_shards(
            scrubbed.select("doc_id", "text"), os.path.join(self.out, "shards"), n_shards=4
        )
        for df in (stage1, stage3):
            checkpoints.release(df)
        return {
            "pairs": [(r.key_a, r.key_b, r.sig_agreement) for r in pair_rows],
            "candidate_pairs": len(pair_rows),
            "verified_pairs": len(verified),
            "quality_pass_rate": n3 / n2,
            "curation_pass_rate": manifest["total_rows"] / self.n_docs,
            "contaminated": cont_ids,
            "n_packs": n_packs,
        }

    def _vectors(self, bench) -> dict:
        spark = bench.spark
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings.parquet"))
        queries = emb.filter(F.col("vec_id").isin([int(q) for q in self.query_ids])).select(
            "vec_id", "embedding"
        )
        topk = xsim.ivf_topk(emb, queries, k=self.K, n_clusters=8, n_probe=3)
        with self._action(bench, "extensions.similarity", "search"):
            hits = topk.select("query_id", "vec_id").collect()
        survivors = xdedup.semantic_dedup(emb, threshold=0.99)
        with self._action(bench, "extensions.dedup", "semantic_dedup"):
            kept = {r.vec_id for r in survivors.collect()}
        return {"ann_hits": [(r.query_id, r.vec_id) for r in hits], "sem_kept": kept}

    def _stream(self, bench) -> dict:
        spark = bench.spark
        root = os.path.join(self.out, "stream")
        index = os.path.join(root, "index")
        docs = spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))
        sdedup.build_digest_index(docs, index)
        drops = os.path.join(self.inputs, "drops")
        schema = spark.read.parquet(os.path.join(drops, self.drop_files[0])).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        tr = bench.tracer
        t_drain = time.time()
        with tr.span("streaming", "action:drain") if tr else contextlib.nullcontext() as drain:
            q = sdedup.streaming_exact_dedup(
                stream, index, os.path.join(root, "novel"), os.path.join(root, "ckpt")
            )
            if tr:
                tr.alias(str(q.runId), drain)
                tr.fallback_parent = drain
            try:
                q.awaitTermination(120)
            finally:
                if tr:
                    tr.fallback_parent = None
            if q.isActive:
                q.stop()
                raise CheckFailed("stream drain did not finish within 120 s")
            if q.exception() is not None:
                raise CheckFailed(f"stream failed: {q.exception()}")
        novel = spark.read.parquet(os.path.join(root, "novel"))
        got = sorted(r.doc_id for r in novel.select("doc_id").collect())
        progress = [json.loads(p.json) for p in q.recentProgress]
        return {
            "stream_ids": got,
            "progress": progress,
            **_stream_stats(progress, t_drain, len(self.drop_files)),
        }

    # ---------------------------------------------------------- check

    def check(self, bench, op) -> None:
        r = op.result
        _require(
            _rows_digest(*r["report"]) == self.report_expect,
            "dedup_exact result differs from its DuckDB oracle",
        )
        found = {(a, b) for a, b, s in r["pairs"] if s >= 0.6}
        near = [tuple(p) for p in self.planted["near_pairs"]]
        recall = sum(tuple(sorted(p)) in found for p in near) / len(near)
        _require(recall >= self.NEAR_RECALL_FLOOR, f"near-duplicate recall {recall:.2f}")
        shards = pq.read_table(os.path.join(self.out, "shards")).to_pandas()
        ids = set(shards["doc_id"])
        for a, b in self.planted["exact_pairs"]:
            _require(not (a in ids and b in ids), f"exact duplicate pair {a},{b} survived")
        leaks = [t for t in shards["text"] if _PII_RE.search(t)]
        _require(not leaks, f"{len(leaks)} shard rows with unmasked PII")
        missing = set(self.planted["contaminated"]) - set(r["contaminated"])
        _require(not missing, f"contaminated docs not flagged: {sorted(missing)[:5]}")
        hits: dict[int, set] = {}
        for q, v in r["ann_hits"]:
            hits.setdefault(int(q), set()).add(int(v))
        ann = sum(len(hits.get(q, set()) & e) for q, e in self.exact_topk.items()) / (
            self.K * len(self.exact_topk)
        )
        _require(ann >= self.ANN_RECALL_FLOOR, f"ANN recall@{self.K} {ann:.2f}")
        r["ann_recall"] = ann
        kept = r["sem_kept"]
        vrec = sum((a in kept) != (b in kept) for a, b in self.planted["vec_pairs"]) / len(
            self.planted["vec_pairs"]
        )
        _require(vrec >= self.NEAR_RECALL_FLOOR, f"semantic-dedup recall {vrec:.2f}")
        _require(r["stream_ids"] == self.stream_expect, "stream sink differs from the batch answer")

    def clean(self, bench) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


def _stream_stats(progress: list[dict], t_drain: float, n_files: int) -> dict:
    """State-store rows, files still queued and how long each drop
    waited.  The rows are read from the last progress event; this sink
    (foreachBatch) has no state operator, so they are 0.  Spark's file
    source reports no backlog, so the queue is derived: every drop is
    on disk when the drain starts, so after the i-th data trigger
    ``n_files - i`` files are still queued (as long as a trigger
    ingests one file), and a drop waits from the drain start to its
    trigger's start."""
    batches = [p for p in progress if p.get("numInputRows")]
    waits = [
        dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - t_drain
        for p in batches
    ]
    return {
        "state_rows": sum(
            o.get("numRowsTotal", 0) for o in (progress[-1].get("stateOperators") or [])
        ) if progress else 0,
        "backlog_files": statistics.mean(n_files - i for i in range(1, len(batches) + 1))
        if batches else 0.0,
        "generator_late_ms": 1000.0 * statistics.mean(waits) if waits else 0.0,
    }


WORKLOADS = {w.name: w for w in (SolutionChain, CorpusCuration)}
