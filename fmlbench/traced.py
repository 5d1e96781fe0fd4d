"""The traced run (``--trace 1``): per-layer metrics.

After the same set-up as an untraced run, one operation runs untimed
(so every pass below runs warm), then ``--seconds`` of operations
untraced, the same number of operations with spans installed
(``spans.Tracer``), and the same number untraced again.  The session's
event log is parsed after it stops; every job is attributed to its
innermost span.  Per-layer figures are per operation of the traced
pass, and ``trace.overhead_ratio`` is traced operation time over the
mean of the two untraced passes, which bracket it.
"""

from __future__ import annotations

import os
import statistics

import metrics as M
import run as R
from spans import Tracer, find_event_log, layer_self_times, read_event_log

# The errors of each layer are counted as its spans that raised.
ERROR_LAYERS = ("queries", "core", "sources", "pipeline", "ml", "extensions", "streaming")

PER_LAYER = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.deserialize_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.driver_gap_s", "s"),
    ("spark.executor_busy_ratio", "ratio"),
    ("spark.catalyst_analysis_ms", "ms"),
    ("spark.catalyst_optimization_ms", "ms"),
    ("spark.catalyst_planning_ms", "ms"),
    ("spark.unattributed_jobs", "count"),
    ("spark.errors", "count"),
    ("queries.construct_ms", "ms"),
    ("queries.execute_ms", "ms"),
    ("core.checkpoints.taken", "count"),
    ("core.checkpoints.live_after_op", "count"),
    ("sources.ingestion.self_s", "s"),
    ("sources.artifacts.self_s", "s"),
    ("sources.artifacts.bytes_written", "bytes"),
    ("sources.shards.bytes_written", "bytes"),
    ("pipeline.tasks.self_s", "s"),
    ("pipeline.tasks.parallelism", "ratio"),
    ("pipeline.tasks.idle_s", "s"),
    ("ml.wrappers.fits", "count"),
    ("ml.wrappers.self_s", "s"),
    ("ml.wrappers.jobs", "count"),
    ("ml.wrappers.task_s", "s"),
    ("ml.cv.self_s", "s"),
    ("ml.cv.jobs", "count"),
    ("ml.cv.task_s", "s"),
    ("ml.hpo.evaluations", "count"),
    ("ml.hpo.self_s", "s"),
    ("ml.feature_selection.self_s", "s"),
    ("ml.feature_selection.jobs", "count"),
    ("ml.ensembling.self_s", "s"),
    ("ml.ensembling.jobs", "count"),
    ("extensions.text.self_s", "s"),
    ("extensions.filtering.self_s", "s"),
    ("extensions.filtering.pass_rate", "ratio"),
    ("extensions.dedup.self_s", "s"),
    ("extensions.dedup.candidate_pairs", "count"),
    ("extensions.dedup.verified_pairs", "count"),
    ("extensions.dedup.pair_yield", "ratio"),
    ("extensions.similarity.build_s", "s"),
    ("extensions.similarity.search_s", "s"),
    ("extensions.similarity.jobs", "count"),
    ("extensions.similarity.recall_at_k", "ratio"),
    ("extensions.curation.self_s", "s"),
    ("extensions.curation.pass_rate", "ratio"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.backlog_files", "count"),
    ("streaming.generator_late_ms", "ms"),
    *((f"{layer}.errors", "count") for layer in ERROR_LAYERS),
    ("trace.spans", "count"),
    ("trace.overhead_ratio", "ratio"),
)

_TASK_CLASSES = (
    "TrainDataIngestion",
    "FeatureSelectionTask",
    "RunSingleModelHPO",
    "RunSingleModelPrediction",
    "StackingTask",
    "BlendingTask",
    "BuildSolution",
)
_INDEX_BUILD = ("hash_sample_rows", "lloyd_centers")
# the top-k search: the call that builds it and the action that runs it
_SEARCH = ("ivf_topk", "action:search")


def _du(path: str) -> int:
    """Bytes under ``path`` (a file or a directory tree)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


def _hooks() -> dict:
    def written(arg_index: int, key: str):
        def hook(span, args, kwargs, out):
            path = args[arg_index] if len(args) > arg_index else kwargs["path"]
            span.attrs[key] = _du(path)

        return hook

    def task(span, args, kwargs, out):
        t = args[0]
        span.attrs["task"] = t.task_id()
        span.attrs["deps"] = [d.task_id() for d in t._requires()]

    def hpo(span, args, kwargs, out):
        span.attrs["evaluations"] = len(out.history)

    hooks = {
        "write_artifact": written(1, "bytes"),
        "write_json": written(1, "bytes"),
        "write_training_shards": written(1, "bytes"),
        "maximize": hpo,
    }
    hooks.update({f"{c}.run": task for c in _TASK_CLASSES})
    return hooks


def run(wl, seconds: float):
    log_dir = os.path.join(R.WORK, "eventlog")
    bench, loop, _ = R._setup(wl, event_log=log_dir)
    try:
        loop.one()  # untimed
        before = R._measure(loop, seconds)
        tracer = Tracer(bench.spark)
        tracer.hooks = _hooks()
        from fastmlframework_spark.core.checkpoints import live_count  # unwrapped

        roots, live = [], []
        plain_run = wl.run

        def traced_run(b, op):
            with tracer.span("bench", f"op:{wl.name}") as s:
                roots.append((s, op))
                plain_run(b, op)
            live.append(live_count())

        wl.run = traced_run
        bench.tracer = tracer
        tracer.install()
        try:
            traced = [loop.one() for _ in before]
        finally:
            tracer.uninstall()
            wl.run = plain_run
            bench.tracer = None
        after = [loop.one() for _ in before]
    finally:
        R._stop_session()  # flushes the event log
    untraced_s = [sum(dt for _, dt in p) for p in (before, after)]
    traced_s = sum(dt for _, dt in traced)
    jobs, stages = read_event_log(find_event_log(log_dir))
    values = _per_layer(tracer, roots, live, jobs, stages)
    values["trace.overhead_ratio"] = traced_s / statistics.mean(untraced_s)
    units = dict(PER_LAYER)
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": units[k]} for k in units},
    }
    detail = {
        "workload": wl.name,
        "traced_ops": len(roots),
        "untraced_op_s": untraced_s,
        "traced_op_s": traced_s,
    }
    return result, detail


def _per_layer(tracer, roots, live, jobs, stages) -> dict:
    n_ops = max(len(roots), 1)
    spans = tracer.spans

    def under(span):
        while span is not None:
            if span.layer == "bench":
                return span
            span = span.parent
        return None

    # attribute jobs to spans; keep jobs that belong to a traced op
    windows = [s.interval for s, _ in roots]
    owned: list[tuple[object, object]] = []
    unattributed = 0
    for j in jobs.values():
        owner = tracer.owner(j.group)
        root = under(owner) if owner is not None else None
        if root is not None:
            owned.append((j, owner))
        elif any(lo <= j.t0 <= hi for lo, hi in windows):
            unattributed += 1
            owned.append((j, None))

    def stage_sum(job, key):
        return sum(stages.get(sid, {}).get(key, 0) for sid in job.stages)

    v: dict[str, float] = {}
    all_jobs = [j for j, _ in owned]
    v["spark.jobs"] = len(all_jobs) / n_ops
    v["spark.stages"] = sum(
        sum(1 for sid in j.stages if stages.get(sid, {}).get("tasks")) for j in all_jobs
    ) / n_ops
    for key in ("task_s", "gc_s", "deserialize_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        v[f"spark.{key}"] = sum(stage_sum(j, key) for j in all_jobs) / n_ops
    v["spark.unattributed_jobs"] = unattributed
    v["spark.errors"] = sum(j.failed for j in all_jobs)
    job_iv = [(j.t0, j.t1) for j in all_jobs]
    wall = sum(hi - lo for lo, hi in windows)
    v["spark.driver_gap_s"] = sum(M.driver_gap(w, job_iv) for w in windows) / n_ops
    v["spark.executor_busy_ratio"] = v["spark.task_s"] * n_ops / (wall * R.CORES) if wall else 0.0

    def layer_jobs(prefix):
        mine = [j for j, o in owned if o is not None and o.layer.startswith(prefix)]
        return len(mine) / n_ops, sum(stage_sum(j, "task_s") for j in mine) / n_ops

    def in_search(span):
        """Whether ``span`` is (under) the top-k search; semantic dedup
        also calls the similarity layer's index build."""
        while span is not None:
            if span.layer == "extensions.similarity" and span.name in _SEARCH:
                return True
            span = span.parent
        return False

    selfs = layer_self_times(spans)

    def self_s(layer):
        return sum(t for lay, t in selfs.items() if lay == layer) / n_ops

    def named(layer, pred):
        return [s for s in spans if s.layer == layer and pred(s.name)]

    phases = [s.attrs["phases"] for s in spans if "phases" in s.attrs]
    for ph in ("analysis", "optimization", "planning"):
        v[f"spark.catalyst_{ph}_ms"] = (
            statistics.mean(p.get(ph, 0) for p in phases) if phases else 0.0
        )
    for part in ("construct", "execute"):
        ss = named("queries", lambda n, p=part: n == p)
        v[f"queries.{part}_ms"] = (
            statistics.mean((s.t1 - s.t0) * 1000 for s in ss) if ss else 0.0
        )

    v["core.checkpoints.taken"] = len(named("core.checkpoints", lambda n: n == "checkpoint")) / n_ops
    v["core.checkpoints.live_after_op"] = statistics.mean(live) if live else 0.0

    for layer in ("sources.ingestion", "sources.artifacts", "pipeline.tasks", "ml.wrappers",
                  "ml.cv", "ml.hpo", "ml.feature_selection", "ml.ensembling",
                  "extensions.text", "extensions.filtering", "extensions.dedup",
                  "extensions.curation"):
        v[f"{layer}.self_s"] = self_s(layer)
    v["sources.artifacts.bytes_written"] = sum(
        s.attrs.get("bytes", 0) for s in spans if s.layer == "sources.artifacts"
    ) / n_ops
    v["sources.shards.bytes_written"] = sum(
        s.attrs.get("bytes", 0) for s in spans if s.layer == "sources.shards"
    ) / n_ops

    # pipeline: concurrency of task runs, and ready-but-waiting time
    conc, idle = [], 0.0
    for root, _ in roots:
        runs = [s for s in spans if "task" in s.attrs and under(s) is root]
        if not runs:
            continue
        conc.append(M.mean_concurrency([s.interval for s in runs]))
        end = {s.attrs["task"]: s.t1 for s in runs}
        for s in runs:
            ready = max([end[d] for d in s.attrs["deps"] if d in end] + [root.t0])
            idle += max(0.0, s.t0 - ready)
    v["pipeline.tasks.parallelism"] = statistics.mean(conc) if conc else 0.0
    v["pipeline.tasks.idle_s"] = idle / n_ops

    v["ml.wrappers.fits"] = len(named("ml.wrappers", lambda n: n.endswith(".fit"))) / n_ops
    for layer in ("ml.wrappers", "ml.cv", "ml.feature_selection", "ml.ensembling"):
        n_jobs, task_s = layer_jobs(layer)
        v[f"{layer}.jobs"] = n_jobs
        if layer in ("ml.wrappers", "ml.cv"):
            v[f"{layer}.task_s"] = task_s
    v["ml.hpo.evaluations"] = sum(s.attrs.get("evaluations", 0) for s in spans) / n_ops

    search = [s for s in spans if s.name in _SEARCH and in_search(s) and not in_search(s.parent)]
    build = [s for s in spans if s.name in _INDEX_BUILD and in_search(s)
             and not (s.parent and s.parent.name in _INDEX_BUILD)]
    v["extensions.similarity.build_s"] = sum(s.t1 - s.t0 for s in build) / n_ops
    v["extensions.similarity.search_s"] = (
        sum(s.t1 - s.t0 for s in search) / n_ops - v["extensions.similarity.build_s"]
    )
    v["extensions.similarity.jobs"] = sum(1 for _, o in owned if in_search(o)) / n_ops

    results = [op.result for _, op in roots if op.result]
    if results and "ann_recall" in results[0]:
        def mean(key):
            return statistics.mean(r[key] for r in results)

        v["extensions.similarity.recall_at_k"] = mean("ann_recall")
        v["extensions.filtering.pass_rate"] = mean("quality_pass_rate")
        v["extensions.curation.pass_rate"] = mean("curation_pass_rate")
        v["extensions.dedup.candidate_pairs"] = mean("candidate_pairs")
        v["extensions.dedup.verified_pairs"] = mean("verified_pairs")
        v["extensions.dedup.pair_yield"] = (
            v["extensions.dedup.verified_pairs"] / v["extensions.dedup.candidate_pairs"]
            if v["extensions.dedup.candidate_pairs"] else 0.0
        )
        prog = [p for r in results for p in r["progress"] if p.get("numInputRows")]

        def dur(key):
            return statistics.mean(p["durationMs"].get(key, 0) for p in prog) if prog else 0.0

        v["streaming.trigger_ms"] = dur("triggerExecution")
        v["streaming.add_batch_ms"] = dur("addBatch")
        v["streaming.wal_commit_ms"] = dur("walCommit")
        v["streaming.query_planning_ms"] = dur("queryPlanning")
        v["streaming.state_rows"] = mean("state_rows")
        v["streaming.backlog_files"] = mean("backlog_files")
        v["streaming.generator_late_ms"] = mean("generator_late_ms")

    for layer in ERROR_LAYERS:
        v[f"{layer}.errors"] = sum(
            1 for s in spans if s.error and s.layer.split(".")[0] == layer
        )
    v["trace.spans"] = len(spans) / n_ops
    return v
