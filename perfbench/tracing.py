"""Layer spans and Spark task metrics for the traced run.

A :class:`Tracer` wraps the engine's layer functions where
``plans.pipeline`` and ``streaming.incremental`` look them up, plus the
``StageCatalog`` methods and ``compact_state``.  The program's files are
not edited.  Each wrapper records a span (name, layer, start, end,
parent, run id) and sets the Spark job group to its layer on entry, so
the status store can attribute every job to one layer.

Layers are lazy: a layer function returns a plan, and a later
``local_ckpt`` (or the benchmark's final count) runs the jobs.  The
tracer therefore remembers the last lazy layer called, and the next
materialization runs in that layer's job group.  Any other job runs in
the group of the innermost open span.  Counting rows for the domain
metrics happens after each traced call, in a group of its own and
outside every span.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

import face_duplicate_detection_spark.operators.connected_components as cc_mod
import face_duplicate_detection_spark.plans.pipeline as pipeline_mod
import face_duplicate_detection_spark.streaming.incremental as incremental_mod
from face_duplicate_detection_spark.catalog import StageCatalog

# layers whose jobs are read from the status store
TASK_LAYERS = (
    "exact_dedup",
    "signatures",
    "lsh",
    "verify",
    "connected_components",
    "pipeline",
    "incremental",
    "catalog",
)
TASK_METRICS = (
    ("wall_s", "s"),
    ("busy_s", "s"),
    ("cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("tasks", "count"),
    ("task_skew", "ratio"),
)
DOMAIN_METRICS = (
    ("normalize.wall_s", "s"),
    ("signatures.docs_in", "count"),
    ("lsh.bucket_rows", "count"),
    ("lsh.mega_buckets", "count"),
    ("lsh.candidates", "count"),
    ("lsh.forced", "count"),
    ("verify.pairs_in", "count"),
    ("verify.pairs_tested", "count"),
    ("verify.pairs_out", "count"),
    ("verify.pass_rate", "ratio"),
    ("exact_dedup.reps_out", "count"),
    ("exact_dedup.exact_edges", "count"),
    ("connected_components.edges_in", "count"),
    ("connected_components.path", "count"),
    ("connected_components.jobs", "count"),
    ("connected_components.components", "count"),
    ("connected_components.largest", "count"),
    ("pipeline.self_s", "s"),
    ("catalog.append_s", "s"),
    ("catalog.write_s", "s"),
    ("catalog.bytes_written_mb", "MB"),
    ("catalog.state_mb", "MB"),
    ("catalog.state_bytes_per_text_byte", "ratio"),
    ("session.ckpt_stored_mb", "MB"),
    ("jvm.gc_s", "s"),
    ("incremental.compact_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"),
)
BATCH_METRICS = (
    ("batch_wall_s", "s"),
    ("bucket_input_rows", "count"),
    ("candidates", "count"),
    ("star_edges", "count"),
)
# counts a traced unit reports as the maximum over its calls; every
# other count is summed over the calls (e.g. over incremental batches)
_MAX_COUNTS = ("connected_components.largest", "connected_components.path")


def per_layer_names(n_batches: int) -> list[tuple[str, str]]:
    """Every per-layer metric the traced run emits, with its unit;
    ``n_batches`` is the incremental workload's batch count."""
    names = [(f"{layer}.{m}", u) for layer in TASK_LAYERS for m, u in TASK_METRICS]
    names += list(DOMAIN_METRICS)
    names += [
        (f"incremental.{m}.{i}", u)
        for m, u in BATCH_METRICS
        for i in range(n_batches)
    ]
    return names


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Tracer:
    """Spans and job-group attribution for one traced unit of work."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.batch: int | None = None  # incremental batch index, set by the caller
        self._stack: list[int] = []
        self._pending: str | None = None
        self._thunks: list[tuple] = []   # (batch, key, df, derive)
        self._stored: dict[int, object] = {}
        self._keep: list = []
        self._catalog_paths: list[str] = []
        self._driver_uf = False
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.counts: dict[tuple[int, str], float] = {}
        self.jobs = {layer: 0 for layer in TASK_LAYERS}
        self.task = {
            layer: {"busy_ms": 0, "cpu_ns": 0, "read": 0, "write": 0,
                    "spill": 0, "tasks": 0, "task_ms": []}
            for layer in TASK_LAYERS
        }
        self.ckpt_peak_bytes = 0
        self.catalog_bytes = 0
        self._gc0 = self._gc_ms()

    # ------------------------------------------------------------ spans
    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"{layer}@{self.run_id}", layer)

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "layer": layer, "run": self.run_id,
            "batch": self.batch,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(idx)
        self._group(layer)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self.spans[self._stack[-1]]["layer"] if self._stack else "idle")

    def _layer_now(self) -> str:
        return self.spans[self._stack[-1]]["layer"] if self._stack else "idle"

    def materialize(self, df) -> int:
        """Run the final action of a unit in the last lazy layer's group."""
        layer = self._pending or self._layer_now()
        self._pending = None
        with self.span("materialize", layer):
            return df.count()

    # --------------------------------------------------------- patching
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, layer: str, lazy: bool, hook=None) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not lazy:
                # a reading or writing call consumes whatever lazy plan
                # was pending; its own jobs run in its own group
                self._pending = None
            with self.span(attr, layer):
                out = orig(*args, **kwargs)
            if lazy:
                self._pending = layer
            if hook is not None:
                hook(args, kwargs, out)
            return out

        self._patch(owner, attr, wrapper)

    def _wrap_ckpt(self, module) -> None:
        orig = module.local_ckpt

        def local_ckpt(df, *args, **kwargs):
            layer = self._pending or self._layer_now()
            self._pending = None
            with self.span("local_ckpt", layer):
                out = orig(df, *args, **kwargs)
            self._stored[id(df)] = out
            self._keep.append(df)
            self._sample_storage()
            return out

        self._patch(module, "local_ckpt", local_ckpt)

    def install(self) -> None:
        for mod in (pipeline_mod, incremental_mod):
            self._wrap_ckpt(mod)
            self._wrap(mod, "compute_signatures", "signatures", True, self._on_signatures)
            self._wrap(mod, "explode_buckets", "lsh", True)
            self._wrap(mod, "candidate_pairs", "lsh", True, self._on_candidates)
            self._wrap(mod, "verify_pairs", "verify", True, self._on_verify)
            self._wrap(mod, "connected_components", "connected_components", True, self._on_cc)
        for attr in ("normalize_documents", "normalize_pages", "matchable_docs"):
            self._wrap(pipeline_mod, attr, "normalize", True)
        self._wrap(pipeline_mod, "exact_base", "exact_dedup", True, self._on_exact)
        self._wrap(pipeline_mod, "assign_clusters", "connected_components", True)
        self._wrap(incremental_mod, "compact_state", "incremental", False)
        for attr in ("append", "write"):
            self._wrap(StageCatalog, attr, "catalog", False, self._on_catalog_write)
        self._wrap(StageCatalog, "read", "catalog", False)
        orig_uf = cc_mod._union_find_labels

        def union_find(pairs):
            self._driver_uf = True
            return orig_uf(pairs)

        self._patch(cc_mod, "_union_find_labels", union_find)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self._group("idle")

    # ------------------------------------------------------ count hooks
    def _count(self, key: str, df, derive=None) -> None:
        self._thunks.append((self.batch, key, df, derive))

    def _on_signatures(self, args, kwargs, out) -> None:
        self._count("signatures.docs_in", args[0])

    def _on_exact(self, args, kwargs, out) -> None:
        self._count("exact_dedup.reps_out", out, lambda d: d.filter(F.col("_rn") == 1))
        self._count("exact_dedup.exact_edges", out,
                    lambda d: d.filter(F.col("doc_id") != F.col("rep")))

    def _on_candidates(self, args, kwargs, out) -> None:
        buckets, cfg = args[0], args[1]
        self._count("lsh.bucket_rows", buckets)
        self._count("lsh.mega_buckets", buckets, lambda d: (
            d.groupBy("band", "band_hash").count()
            .filter(F.col("count") > cfg.mega_bucket_cap)))
        self._count("lsh.candidates", out)
        self._count("lsh.forced", out, lambda d: d.filter(F.col("forced")))

    def _on_verify(self, args, kwargs, out) -> None:
        pairs, cfg = args[0], args[2]
        self._count("verify.pairs_in", pairs)
        keep = F.col("n_bands") >= cfg.min_band_collisions
        self._count("verify.pairs_tested", pairs, lambda d: d.filter(keep | F.col("forced")))
        self._count("verify.pairs_out", out)

    def _on_cc(self, args, kwargs, out) -> None:
        self._count("connected_components.edges_in", args[0])
        path = 0 if self._driver_uf else 1
        self._count("connected_components.path", None, lambda _: path)
        self._count("connected_components.components", out,
                    lambda d: d.select("cluster_id").distinct())
        self._count("connected_components.largest", out, lambda d: (
            d.groupBy("cluster_id").count().agg(F.max("count")).first()[0] or 0))
        self._driver_uf = False

    def _on_catalog_write(self, args, kwargs, out) -> None:
        catalog, name = args[0], args[1]
        self._catalog_paths.append(catalog.read_manifest(name)["path"])

    # ------------------------------------------------------- collection
    def _sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        stored = sum(i.memSize() + i.diskSize() for i in infos)
        self.ckpt_peak_bytes = max(self.ckpt_peak_bytes, stored)

    def _gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))

    def collect(self) -> None:
        """After a traced call returns: count rows for the domain
        metrics (own job group, no span open), then read the finished
        jobs of every layer group from the status store."""
        self._group("count")
        for batch, key, df, derive in self._thunks:
            if df is not None:
                df = self._stored.get(id(df), df)
            value = derive(df) if derive is not None else df
            if not isinstance(value, (int, float)):
                value = value.count()
            k = (batch, key)
            if key in _MAX_COUNTS:
                self.counts[k] = max(self.counts.get(k, 0), value)
            else:
                self.counts[k] = self.counts.get(k, 0) + value
        self._thunks.clear()
        self._stored.clear()
        self._keep.clear()
        for path in self._catalog_paths:
            self.catalog_bytes += dir_bytes(path)
        self._catalog_paths.clear()
        self._harvest()
        self._group("idle")

    def _harvest(self) -> None:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for layer in TASK_LAYERS:
            acc = self.task[layer]
            for job in st.getJobIdsForGroup(f"{layer}@{self.run_id}"):
                if job in self._seen_jobs:
                    continue
                self._seen_jobs.add(job)
                self.jobs[layer] += 1
                info = st.getJobInfo(job)
                for stage in (info.stageIds if info is not None else []):
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Py4JJavaError:
                        continue       # evicted from the store
                    acc["busy_ms"] += sd.executorRunTime()
                    acc["cpu_ns"] += sd.executorCpuTime()
                    acc["read"] += sd.shuffleReadBytes()
                    acc["write"] += sd.shuffleWriteBytes()
                    acc["spill"] += sd.diskBytesSpilled()
                    acc["tasks"] += sd.numCompleteTasks()
                    tasks = store.taskList(stage, sd.attemptId(), 2**31 - 1)
                    for i in range(tasks.size()):
                        m = tasks.apply(i).taskMetrics()
                        if m.isDefined():
                            acc["task_ms"].append(m.get().executorRunTime())

    # ---------------------------------------------------------- summary
    def layer_walls(self) -> dict[str, float]:
        """Per layer, the summed duration of its outermost spans (a span
        nested in another span of the same layer is not counted twice)."""
        walls: dict[str, float] = {}
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["layer"] != s["layer"]:
                p = self.spans[p]["parent"]
            if p is None:
                walls[s["layer"]] = walls.get(s["layer"], 0.0) + s["end"] - s["start"]
        return walls

    def self_time(self, layer: str) -> float:
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["layer"] != layer:
                continue
            children = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            total += s["end"] - s["start"] - children
        return total

    def span_time(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, key: str, batch: int | None = None) -> float:
        if batch is not None:
            return self.counts.get((batch, key), 0)
        vals = [v for (b, k), v in self.counts.items() if k == key]
        if key in _MAX_COUNTS:
            return max(vals, default=0)
        return sum(vals)

    def metrics(self, n_batches: int) -> dict[str, float]:
        """Per-layer metrics of this unit; the caller adds the ones only
        it can see (state size, batch walls, trace overhead)."""
        out: dict[str, float] = {}
        walls = self.layer_walls()
        for layer in TASK_LAYERS:
            acc = self.task[layer]
            med = statistics.median(acc["task_ms"]) if acc["task_ms"] else 0
            out.update({
                f"{layer}.wall_s": walls.get(layer, 0.0),
                f"{layer}.busy_s": acc["busy_ms"] / 1e3,
                f"{layer}.cpu_s": acc["cpu_ns"] / 1e9,
                f"{layer}.shuffle_read_mb": acc["read"] / 1e6,
                f"{layer}.shuffle_write_mb": acc["write"] / 1e6,
                f"{layer}.spill_mb": acc["spill"] / 1e6,
                f"{layer}.tasks": acc["tasks"],
                f"{layer}.task_skew": (
                    max(acc["task_ms"]) / max(med, 1) if acc["task_ms"] else 0.0),
            })
        for key in ("signatures.docs_in", "lsh.bucket_rows", "lsh.mega_buckets",
                    "lsh.candidates", "lsh.forced", "verify.pairs_in",
                    "verify.pairs_tested", "verify.pairs_out",
                    "exact_dedup.reps_out", "exact_dedup.exact_edges",
                    "connected_components.edges_in", "connected_components.path",
                    "connected_components.components",
                    "connected_components.largest"):
            out[key] = self.count(key)
        out["verify.pass_rate"] = out["verify.pairs_out"] / max(out["verify.pairs_tested"], 1)
        out["connected_components.jobs"] = self.jobs["connected_components"]
        out["normalize.wall_s"] = walls.get("normalize", 0.0)
        out["pipeline.self_s"] = self.self_time("pipeline")
        out["catalog.append_s"] = self.span_time("append")
        out["catalog.write_s"] = self.span_time("write")
        out["catalog.bytes_written_mb"] = self.catalog_bytes / 1e6
        out["session.ckpt_stored_mb"] = self.ckpt_peak_bytes / 1e6
        out["jvm.gc_s"] = (self._gc_ms() - self._gc0) / 1e3
        out["incremental.compact_s"] = self.span_time("compact_state")
        for i in range(n_batches):
            out[f"incremental.bucket_input_rows.{i}"] = self.count("lsh.bucket_rows", i)
            out[f"incremental.candidates.{i}"] = self.count("verify.pairs_in", i)
            out[f"incremental.star_edges.{i}"] = (
                self.count("connected_components.edges_in", i)
                - self.count("verify.pairs_out", i))
        return out

    def dump(self) -> list[dict]:
        return list(self.spans)
