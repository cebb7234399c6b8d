"""Outside-in layer tracing for the benchmark's traced run.

The tracer wraps the public functions of the ``mopso_engine`` modules at
the names the engine looks them up under (``mopso_engine.engine`` imports
``evaluate_solutions`` and friends into its own namespace, so those are
patched there). Each call becomes a span: name, start, end and parent.
Spans stay in memory and are written out when the run ends.

Spark work is attributed to spans through job groups: entering a span
that may launch jobs sets a fresh job group, leaving it restores the
parent's. After the run, the session's loopback REST API reports each
job's group, task count and stages, and each stage's shuffle bytes.

``with_neighbors`` and ``assign_with_labels`` return lazy DataFrames, so
their wrappers persist and count the result inside the span; otherwise
the kNN build would be charged to the first fitness pass. The engine
persists (a no-op) and later unpersists the same DataFrame.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
import urllib.parse
import urllib.request

#: Layers whose Spark jobs, tasks and shuffle bytes are reported.
JOB_LAYERS = ("objectives", "metrics", "assign", "rescore")

#: Every per-layer metric: name -> (unit, better, what it should move).
PER_LAYER = {
    "init.stats_s": ("s", "lower", "wall_s on scale_local (scan of the points); none on report"),
    "init.sample_s": ("s", "lower", "wall_s on scale_local; none on report"),
    "init.swarm_s": ("s", "lower", "wall_s on scale_local; none on report"),
    "objectives.knn_s": ("s", "lower", "wall_s on scale_local (its largest layer); none on report"),
    "objectives.knn_cache_mb": ("MB", "lower", "peak_rss_mb on scale_local"),
    "objectives.knn_tasks": ("count", "lower", "wall_s on scale_local"),
    "objectives.knn_shuffle_mb": ("MB", "lower", "wall_s and peak_rss_mb on scale_local"),
    "objectives.fitness_pass_s": ("s", "lower", "wall_s (through iter_s) on scale_local (per-row cost plus the fixed per-job cost)"),
    "objectives.fitness_passes": ("count", "lower", "wall_s (through iter_s) on scale_local; 0 on report"),
    "objectives.fitness_tasks": ("count", "lower", "wall_s (through iter_s) on scale_local"),
    "objectives.fitness_rows_per_s": ("1/s", "higher", "wall_s (through iter_s) on scale_local"),
    "engine.jobs_per_iter": ("count", "lower", "wall_s (through iter_s) on scale_local"),
    "engine.driver_self_s": ("s", "lower", "wall_s (through iter_s) on scale_local"),
    "engine.fitness_share": ("ratio", "higher", "wall_s (through iter_s) on scale_local (fitness spans over the fit wall)"),
    "pso.update_s": ("s", "lower", "wall_s (through iter_s) on scale_local; predicted flat"),
    "pareto.archive_update_s": ("s", "lower", "wall_s (through iter_s) on scale_local; predicted flat"),
    "pareto.gbest_s": ("s", "lower", "wall_s (through iter_s) on scale_local; predicted flat"),
    "pareto.pbest_s": ("s", "lower", "wall_s (through iter_s) on scale_local; predicted flat"),
    "pareto.archive_size": ("count", "higher", "front_hv on scale_local"),
    "metrics.silhouette_all_s": ("s", "lower", "wall_s on report; none on the fits"),
    "metrics.purity_all_s": ("s", "lower", "wall_s on report; none on the fits"),
    "metrics.silhouette_exact_s": ("s", "lower", "wall_s on report; none on the fits"),
    "metrics.dbi_s": ("s", "lower", "wall_s on report; none on the fits"),
    "metrics.inertia_s": ("s", "lower", "wall_s on report; none on the fits"),
    "assign.assign_s": ("s", "lower", "wall_s on report; none on the fits"),
    "rescore.archive_s": ("s", "lower", "wall_s on report; none on the fits"),
    "rescore.max_rel_err": ("ratio", "lower", "correctness: kernel vs relational Dev/Conn, every workload"),
    "trace.wall_s": ("s", "lower", "traced operation wall; minus untraced wall_s = tracing overhead"),
}
for _layer in JOB_LAYERS:
    PER_LAYER[f"{_layer}.jobs"] = ("count", "lower", f"wall_s on the workloads that run {_layer}")
    PER_LAYER[f"{_layer}.tasks"] = ("count", "lower", f"wall_s on the workloads that run {_layer}")
    PER_LAYER[f"{_layer}.shuffle_mb"] = ("MB", "lower", f"wall_s on the workloads that run {_layer}")

#: span name -> per-layer metric that sums its durations within one operation
_SUMMED = {
    "init.stats": "init.stats_s",
    "init.sample": "init.sample_s",
    "init.swarm": "init.swarm_s",
    "objectives.knn": "objectives.knn_s",
    "pso.update": "pso.update_s",
    "pareto.archive_update": "pareto.archive_update_s",
    "pareto.gbest": "pareto.gbest_s",
    "pareto.pbest": "pareto.pbest_s",
    "metrics.silhouette_all": "metrics.silhouette_all_s",
    "metrics.purity_all": "metrics.purity_all_s",
    "metrics.silhouette_exact": "metrics.silhouette_exact_s",
    "metrics.dbi": "metrics.dbi_s",
    "metrics.inertia": "metrics.inertia_s",
    "assign.assign": "assign.assign_s",
    "rescore.archive": "rescore.archive_s",
}

_MB = 1024.0 * 1024.0


class NullTracer:
    """Tracing off: spans cost one ``nullcontext``."""

    def span(self, name: str, *, spark_jobs: bool = True):  # noqa: ARG002
        return contextlib.nullcontext({})


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, *, spark_jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
        }
        self.spans.append(rec)
        if spark_jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        elif parent:
            rec["group"] = parent["group"]
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_jobs:
                if parent and parent["group"]:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _storage_used(self) -> int:
        """Bytes held by the block managers' memory stores, read
        synchronously from the block manager master."""
        it = self.sc._jsc.sc().getExecutorMemoryStatus().valuesIterator()
        used = 0
        while it.hasNext():
            t = it.next()
            used += t._1() - t._2()
        return used

    # -- patching ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, *, spark_jobs=True, materialize=False, note=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, spark_jobs=spark_jobs) as rec:
                out = orig(*args, **kwargs)
                if materialize:
                    before = tracer._storage_used()
                    out = out.persist()
                    out.count()
                    rec["cache_bytes"] = tracer._storage_used() - before
                if note is not None:
                    note(rec, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from mopso_engine import engine, init, pareto

        def note_solutions(rec, args, _out):
            rec["solutions"] = len(args[1])

        def note_rows(rec, _args, out):
            rec["rows"] = out[0]

        def note_fit(rec, _args, out):
            rec["n_iters"] = out.phase_sec["n_iters_run"]
            rec["archive_size"] = len(out.archive_positions)

        self.wrap(engine.MopsoEngine, "fit", "engine.fit", note=note_fit)
        self.wrap(engine.MopsoEngine, "evaluate", "engine.evaluate")
        self.wrap(engine, "evaluate_solutions", "objectives.fitness_pass", note=note_solutions)
        self.wrap(engine, "with_neighbors", "objectives.knn", materialize=True)
        self.wrap(engine, "update_swarm", "pso.update", spark_jobs=False)
        self.wrap(engine, "pbest_update", "pareto.pbest", spark_jobs=False)
        self.wrap(engine, "assign_with_labels", "assign.assign", materialize=True)
        self.wrap(init, "corpus_stats", "init.stats", note=note_rows)
        self.wrap(init, "sample_features", "init.sample")
        self.wrap(init, "init_swarm", "init.swarm", spark_jobs=False)
        self.wrap(pareto.Archive, "update", "pareto.archive_update", spark_jobs=False)
        self.wrap(pareto.Archive, "global_best", "pareto.gbest", spark_jobs=False)
        self.wrap(engine.metrics_mod, "purity_accuracy", "metrics.purity")
        self.wrap(engine.metrics_mod, "inertia", "metrics.inertia")
        self.wrap(engine.metrics_mod, "davies_bouldin", "metrics.dbi")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark job attribution ----------------------------------------------
    def _rest(self, path: str):
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def job_stats(self) -> dict[str, dict]:
        """group -> {jobs, tasks, shuffle_bytes} for the traced groups.
        The status store is fed by an asynchronous listener, so poll
        until every traced job reads as finished and the list is stable."""
        groups = {s["group"] for s in self.spans if s["group"]}
        prev = None
        for _ in range(50):
            jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in groups]
            snap = sorted((j["jobId"], j["status"]) for j in jobs)
            if snap == prev and all(j["status"] != "RUNNING" for j in jobs):
                break
            prev = snap
            time.sleep(0.2)
        shuffle = {}
        for st in self._rest("stages"):
            if st.get("status") == "COMPLETE":
                shuffle[st["stageId"]] = shuffle.get(st["stageId"], 0) + st.get("shuffleWriteBytes", 0)
        out: dict[str, dict] = {}
        for j in jobs:
            g = out.setdefault(j["jobGroup"], {"jobs": 0, "tasks": 0, "shuffle_bytes": 0})
            g["jobs"] += 1
            g["tasks"] += j.get("numCompletedTasks", 0)
            g["shuffle_bytes"] += sum(shuffle.get(s, 0) for s in j.get("stageIds", ()))
        return out

    # -- per-operation layer metrics ----------------------------------------
    def op_metrics(self, op_span: dict, jobs: dict[str, dict]) -> dict[str, float]:
        """Per-layer metrics of one operation (the subtree under ``op_span``)."""
        by_id = {s["id"]: s for s in self.spans}

        def under(s):
            while s["parent"] is not None:
                if s["parent"] == op_span["id"]:
                    return True
                s = by_id[s["parent"]]
            return False

        sub = [s for s in self.spans if under(s)]
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        own_jobs = lambda s: jobs.get(s["group"], {}) if s["group"] == f"perfbench-{s['id']}" else {}  # noqa: E731
        m = {name: 0.0 for name in PER_LAYER}
        for s in sub:
            if s["name"] in _SUMMED:
                m[_SUMMED[s["name"]]] += dur(s)
            layer = s["name"].split(".")[0]
            if layer in JOB_LAYERS:
                j = own_jobs(s)
                m[f"{layer}.jobs"] += j.get("jobs", 0)
                m[f"{layer}.tasks"] += j.get("tasks", 0)
                m[f"{layer}.shuffle_mb"] += j.get("shuffle_bytes", 0) / _MB

        for s in sub:
            if s["name"] == "objectives.knn":
                j = own_jobs(s)
                m["objectives.knn_cache_mb"] += s.get("cache_bytes", 0) / _MB
                m["objectives.knn_tasks"] += j.get("tasks", 0)
                m["objectives.knn_shuffle_mb"] += j.get("shuffle_bytes", 0) / _MB

        passes = [s for s in sub if s["name"] == "objectives.fitness_pass"]
        m["objectives.fitness_passes"] = len(passes)
        if passes:
            rows = next((s["rows"] for s in sub if "rows" in s), 0)
            m["objectives.fitness_pass_s"] = statistics.median(dur(s) for s in passes)
            m["objectives.fitness_tasks"] = sum(own_jobs(s).get("tasks", 0) for s in passes)
            m["objectives.fitness_rows_per_s"] = statistics.median(
                rows * s["solutions"] / dur(s) for s in passes
            )

        fits = [s for s in sub if s["name"] == "engine.fit"]
        if fits:
            fit = fits[0]
            n_iters = max(1, fit["n_iters"])
            children = [s for s in sub if s["parent"] == fit["id"]]
            fit_passes = [s for s in passes if s["parent"] == fit["id"]]
            m["engine.driver_self_s"] = (dur(fit) - sum(dur(c) for c in children)) / n_iters
            # the first pass scores the initial swarm; the rest are iterations
            m["engine.jobs_per_iter"] = sum(own_jobs(s).get("jobs", 0) for s in fit_passes[1:]) / n_iters
            m["engine.fitness_share"] = sum(dur(s) for s in fit_passes) / dur(fit)
            m["pareto.archive_size"] = fit["archive_size"]
        m["trace.wall_s"] = dur(op_span)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
