"""End-to-end and per-layer benchmark of the dedup engine.

One workload per invocation, closed loop (one job at a time) on
``local[nproc]`` from this single driver process::

    python3 perfbench/run.py --workload planted_oneshot --seed 1 --seconds 15 --trace 0

``--trace 0`` times the workload untraced and prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced units and prints
the per-layer metrics (perfbench/tracing.py).  ``--smoke`` runs every
workload at a few thousand docs, untraced and traced, in one process.

Inputs are generated from ``--seed`` (perfbench/corpus.py) and written
as parquet; the engine reads only that parquet.  Every unit's output is
checked; a failed check counts as a failed operation and makes the exit
code 1.  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the
run writes stays under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("planted_oneshot", "boilerplate_skew", "incremental_ingest")
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("docs_per_s", "1/s"),
    ("batch_p50_s", "s"),
    ("batch_max_s", "s"),
    ("peak_rss_mb", "MB"),
    ("recall", "ratio"),
    ("ok_frac", "ratio"),
)


def contention_probe(seconds: float) -> float:
    """Single-process numpy hash-kernel throughput (iterations/s): a
    fixed workload whose speed depends only on what the host gives this
    process right now, recorded before and after each run set (a copy
    of bench.py's probe, which stays frozen)."""
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.integers(1, 2**62, size=100_000, dtype=np.uint64)
    a = np.uint64(0x9E3779B97F4A7C15)
    for _ in range(50):  # warm the kernel (first uint64 ops are slow)
        y = x * a + np.uint64(12345)
        y.min()
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(20):
            y = x * a + np.uint64(12345)
            y.min()
        n += 20
    return n / (time.perf_counter() - t0)


# ------------------------------------------------------------- session
def start_session(cores: int, scratch: str, session_spec: dict):
    """Spark on local[cores]; spill, shuffle and temp files under scratch.

    Python workers inherit PYTHONPATH from the JVM, so the checkout root
    goes there as well as on this process's sys.path."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    from face_duplicate_detection_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=session_spec["shuffle_partitions_per_core"] * cores,
        extra_conf={
            "spark.driver.memory": session_spec["driver_memory"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (closing its stdin
    makes the gateway exit)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def start_watchdog(limit_s: float) -> None:
    """Kill the JVM and exit non-zero if the run overstays its limit."""

    def fire():
        from pyspark import SparkContext

        sys.stderr.write(f"perfbench: run exceeded {limit_s:.0f} s, aborting\n")
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(4)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


class JvmRss:
    """Peak resident memory (VmHWM) of the Spark JVM."""

    def __init__(self, spark):
        self.pid = spark._jvm.ProcessHandle.current().pid()

    def reset(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")


# ----------------------------------------------------------- workloads
class Unit:
    """Outcome of one timed unit of work."""

    def __init__(self, wall: float, batch_walls: list[float], problems: list[str],
                 recall: float, extra: dict | None = None):
        self.wall = wall
        self.batch_walls = batch_walls
        self.problems = problems
        self.recall = recall
        self.extra = extra or {}


def recall_of(pairs, labels: dict) -> float:
    hit = sum(1 for a, b in pairs if labels.get(a) is not None and labels.get(a) == labels.get(b))
    return hit / max(len(pairs), 1)


class OneShot:
    """run_pipeline with the workload's DedupConfig over the generated
    parquet; the unit ends when ``res.clusters`` is counted."""

    def __init__(self, name: str, spark, params: dict, seed: int, scratch: str, spec: dict):
        from face_duplicate_detection_spark.config import DedupConfig

        self.name, self.spark, self.params, self.seed = name, spark, params, seed
        self.cfg = DedupConfig().with_(**params.get("config", {}))
        self.path = os.path.join(scratch, f"{name}.parquet")
        self.sample_n = spec["session"]["jaccard_sample"]
        self.texts: dict[int, str] = {}
        self.pairs: list = []

    def generate(self) -> None:
        import corpus

        p, k, th = self.params, self.cfg.shingle_k, self.cfg.jaccard_threshold
        if self.name == "boilerplate_skew":
            self.texts = corpus.skew_texts(p["groups"], p["group_docs"], p["fillers"], self.seed)
            self.pairs = corpus.skew_pairs(p["groups"], p["group_docs"])
        else:
            self.texts = corpus.planted_texts(p["docs"], self.seed)
            self.pairs = corpus.planted_pairs(self.texts, k, th)
        corpus.write_parquet(self.texts, self.path)

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def prepare(self) -> None:
        """After the inputs exist: point the engine's driver union-find
        cap at this workload's value, if it names one."""
        cap = self.params.get("cc_driver_cap")
        if cap is not None:
            import face_duplicate_detection_spark.operators.connected_components as cc

            if not hasattr(cc, "CC_DRIVER_CAP"):
                raise RuntimeError("engine has no CC_DRIVER_CAP; the skew workload "
                                   "can no longer select the distributed CC path")
            self.saved_cap = cc.CC_DRIVER_CAP
            cc.CC_DRIVER_CAP = cap

    def finish(self) -> None:
        if hasattr(self, "saved_cap"):
            import face_duplicate_detection_spark.operators.connected_components as cc

            cc.CC_DRIVER_CAP = self.saved_cap

    def warm_up(self) -> None:
        self.unit()

    def unit(self, tracer=None) -> Unit:
        import face_duplicate_detection_spark.plans.pipeline as pipeline

        docs = self.spark.read.parquet(self.path)
        t0 = time.perf_counter()
        if tracer is None:
            res = pipeline.run_pipeline(docs, self.cfg)
            n = res.clusters.count()
        else:
            with tracer.span("run_pipeline", "pipeline"):
                res = pipeline.run_pipeline(docs, self.cfg)
                n = tracer.materialize(res.clusters)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.collect()
        problems, recall = self.check(res, n)
        return Unit(wall, [wall], problems, recall)

    def check(self, res, n: int) -> tuple[list[str], float]:
        import corpus
        import face_duplicate_detection_spark.operators.connected_components as cc

        problems = []
        if n != self.n_docs:
            problems.append(f"clusters has {n} rows for {self.n_docs} docs")
        cl = res.clusters.select("doc_id", "cluster_id").toPandas()
        labels = dict(zip(cl["doc_id"].tolist(), cl["cluster_id"].tolist()))
        recall = recall_of(self.pairs, labels)
        if recall < self.params["recall_floor"]:
            problems.append(f"recall {recall:.4f} below floor {self.params['recall_floor']}")
        dup = res.dup_pairs.select("a", "b", "jaccard").toPandas()
        rows = list(zip(dup["a"].tolist(), dup["b"].tolist(), dup["jaccard"].tolist()))
        rng = random.Random(self.seed)
        for a, b, j in rng.sample(rows, min(self.sample_n, len(rows))):
            exact = corpus.exact_jaccard(self.texts[a], self.texts[b], self.cfg.shingle_k)
            if exact != j or exact < self.cfg.jaccard_threshold:
                problems.append(f"pair ({a}, {b}): engine jaccard {j!r}, exact {exact!r}")
        edges = {(min(a, b), max(a, b)) for a, b, _ in rows if a != b}
        path = 1 if len(edges) > cc.CC_DRIVER_CAP else 0
        if path != self.params["expect_cc_path"]:
            problems.append(f"{len(edges)} CC edges against cap {cc.CC_DRIVER_CAP}: "
                            f"CC path {path}, workload expects {self.params['expect_cc_path']}")
        return problems, recall


class Incremental:
    """The planted corpus, normalized and matchable-filtered, ingested as
    ``doc_id % K`` micro-batches through ``incremental_batch`` into a
    fresh StageCatalog; the unit ends when the K-th batch is applied.
    The one-shot clusters over the same matchable set are the reference."""

    def __init__(self, name: str, spark, params: dict, seed: int, scratch: str, spec: dict):
        from face_duplicate_detection_spark.config import DedupConfig

        self.name, self.spark, self.params, self.seed = name, spark, params, seed
        self.cfg = DedupConfig().with_(**params.get("config", {}))
        self.scratch = scratch
        self.path = os.path.join(scratch, f"{name}.parquet")
        self.k = params["batches"]
        self.units = 0

    def generate(self) -> None:
        import corpus

        self.texts = corpus.planted_texts(self.params["docs"], self.seed)
        self.all_pairs = corpus.planted_pairs(
            self.texts, self.cfg.shingle_k, self.cfg.jaccard_threshold)
        corpus.write_parquet(self.texts, self.path)

    def prepare(self) -> None:
        from face_duplicate_detection_spark.functions.normalize import (
            matchable_docs,
            normalize_documents,
        )
        from face_duplicate_detection_spark.plans.pipeline import run_pipeline
        from face_duplicate_detection_spark.session import local_ckpt

        raw = self.spark.read.parquet(self.path)
        docs = local_ckpt(matchable_docs(normalize_documents(raw, self.cfg)).select("doc_id", "text"))
        self.docs = docs
        self.batches = [docs.filter(docs.doc_id % self.k == i) for i in range(self.k)]
        res = run_pipeline(docs, self.cfg, input_kind="documents")
        ref = res.clusters.filter("status = 'ok'").select("doc_id", "cluster_id").toPandas()
        self.reference = dict(zip(ref["doc_id"].tolist(), ref["cluster_id"].tolist()))
        self.pairs = [(a, b) for a, b in self.all_pairs
                      if a in self.reference and b in self.reference]
        self.text_bytes = sum(len(self.texts[d].encode()) for d in self.reference)

    @property
    def n_docs(self) -> int:
        return len(self.reference)

    def finish(self) -> None:
        pass

    def warm_up(self) -> None:
        """One batch that compacts its state, so the incremental-only
        shapes (state appends, compaction) have run before timing; the
        one-shot reference in prepare() already ran the shared operators."""
        from face_duplicate_detection_spark.catalog import StageCatalog
        from face_duplicate_detection_spark.streaming.incremental import incremental_batch

        root = os.path.join(self.scratch, "catalog-warm")
        cat = StageCatalog(root)
        cfg = self.cfg.with_(compact_every=1)
        for i in range(1):
            incremental_batch(self.batches[i], cfg, cat, self.spark, batch_key=f"w{i}")
        shutil.rmtree(root, ignore_errors=True)

    def unit(self, tracer=None) -> Unit:
        from face_duplicate_detection_spark.catalog import StageCatalog
        from face_duplicate_detection_spark.streaming import incremental

        self.units += 1
        root = os.path.join(self.scratch, f"catalog-{self.units}")
        cat = StageCatalog(root)
        walls = []
        for i, batch in enumerate(self.batches):
            t0 = time.perf_counter()
            if tracer is None:
                incremental.incremental_batch(batch, self.cfg, cat, self.spark, batch_key=f"b{i}")
            else:
                tracer.batch = i
                with tracer.span("incremental_batch", "incremental"):
                    incremental.incremental_batch(batch, self.cfg, cat, self.spark,
                                                  batch_key=f"b{i}")
            walls.append(time.perf_counter() - t0)
            if tracer is not None:
                tracer.collect()
        final = incremental.resolved_clusters(self.spark, cat).toPandas()
        labels = dict(zip(final["doc_id"].tolist(), final["cluster_id"].tolist()))
        state_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
        shutil.rmtree(root, ignore_errors=True)
        problems = []
        n_diff = sum(1 for d, c in self.reference.items() if labels.get(d) != c)
        n_diff += sum(1 for d in labels if d not in self.reference)
        if n_diff:
            problems.append(f"incremental clusters differ from one-shot on {n_diff} docs")
        recall = recall_of(self.pairs, labels)
        if recall < self.params["recall_floor"]:
            problems.append(f"recall {recall:.4f} below floor {self.params['recall_floor']}")
        return Unit(sum(walls), walls, problems, recall, {"state_bytes": state_bytes})


# ------------------------------------------------------------- driving
def make_workload(name, spark, params, seed, scratch, spec):
    cls = Incremental if name == "incremental_ingest" else OneShot
    return cls(name, spark, params, seed, scratch, spec)


def n_batches(spec: dict) -> int:
    return spec["workloads"]["incremental_ingest"]["batches"]


def set_up(wl, repeats: int) -> dict:
    """Generate the inputs ``repeats`` times (the median counts toward
    setup_s), then the workload's own preparation and warm-up."""
    gens = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        wl.generate()
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    wl.warm_up()
    gc.collect()
    return {"generate_s": statistics.median(gens), "prepare_warm_s": time.perf_counter() - t0}


def untraced_metrics(wl, units: list[Unit], setup_s: float, peak_mb: float) -> dict:
    walls = [u.wall for u in units]
    batches = [b for u in units for b in u.batch_walls]
    wall = statistics.median(walls)
    attempted = len(batches) if isinstance(wl, Incremental) else len(units)
    failed = sum(1 for u in units if u.problems)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "batch_p50_s": statistics.median(batches),
        "batch_max_s": max(batches),
        "peak_rss_mb": peak_mb,
        "recall": min(u.recall for u in units),
        "ok_frac": (attempted - failed) / attempted,
    }


def traced_metrics(wl, pairs: list[tuple[Unit, Unit, object]],
                   n_batches: int) -> tuple[dict, list[str]]:
    """Median per-layer metrics over the traced units, plus the branch
    checks that keep each workload on its intended path."""
    import tracing

    per_unit = []
    for plain, traced, tracer in pairs:
        m = tracer.metrics(n_batches)
        for i, w in enumerate(traced.batch_walls if isinstance(wl, Incremental) else []):
            m[f"incremental.batch_wall_s.{i}"] = w
        state = traced.extra.get("state_bytes", 0)
        m["catalog.state_mb"] = state / 1e6
        m["catalog.state_bytes_per_text_byte"] = (
            state / wl.text_bytes if isinstance(wl, Incremental) else 0.0)
        m["trace.wall_s"] = traced.wall
        m["trace.untraced_wall_s"] = plain.wall
        m["trace.overhead_s"] = traced.wall - plain.wall
        per_unit.append(m)
    names = [n for n, _ in tracing.per_layer_names(n_batches)]
    out = {n: statistics.median(m.get(n, 0.0) for m in per_unit) for n in names}
    problems = []
    last = per_unit[-1]
    if isinstance(wl, OneShot):
        layers = sum(last[f"{layer}.wall_s"] for layer in tracing.TASK_LAYERS
                     if layer != "pipeline") + last["normalize.wall_s"]
        gap = last["pipeline.wall_s"] - layers - last["pipeline.self_s"]
        if abs(gap) > 0.01 * last["pipeline.wall_s"]:
            problems.append(f"layer spans leave {gap:.3f} s of the traced wall unaccounted")
        expect = wl.params["expect_cc_path"]
        if last["connected_components.path"] != expect:
            problems.append(f"traced CC path {last['connected_components.path']}, "
                            f"workload expects {expect}")
        if wl.name == "boilerplate_skew" and not (last["lsh.mega_buckets"] and last["lsh.forced"]):
            problems.append("skew workload produced no mega buckets or forced pairs")
    elif not last["incremental.compact_s"] > 0:
        problems.append("incremental ingest never compacted its state")
    return out, problems


def run_unit(wl, tracer=None) -> Unit:
    """One unit; an exception is a failed operation, reported with its
    traceback, not the end of the run."""
    t0 = time.perf_counter()
    try:
        return wl.unit(tracer)
    except Exception as e:
        traceback.print_exc()
        wall = time.perf_counter() - t0
        return Unit(wall, [wall], [f"raised {type(e).__name__}: {e}"], 0.0)


def measure(wl, seconds: float, trace_on: bool, rss: JvmRss):
    """Closed loop for ``seconds``: at least one unit (one untraced and
    one traced unit with tracing on); returns (units, traced pairs)."""
    import tracing

    units, pairs = [], []
    rss.reset()
    t0 = time.perf_counter()
    while True:
        plain = run_unit(wl)
        units.append(plain)
        gc.collect()
        if trace_on:
            tracer = tracing.Tracer(wl.spark, f"{wl.name}-t{len(pairs)}")
            tracer.install()
            try:
                traced = run_unit(wl, tracer)
            finally:
                tracer.uninstall()
            units.append(traced)
            pairs.append((plain, traced, tracer))
            gc.collect()
        if time.perf_counter() - t0 >= seconds:
            break
    return units, pairs


def run_workload(spark, name, spec, seed, seconds, trace_on, smoke, scratch, session_s):
    params = spec["workloads"][name]
    wl = make_workload(name, spark, params, seed, scratch, spec)
    repeats = 1 if smoke else spec["session"]["setup_repeats"]
    t0 = time.perf_counter()
    setup = set_up(wl, repeats)
    setup_s = session_s + setup["generate_s"] + setup["prepare_warm_s"]
    probe_s = spec["session"]["probe_seconds"]
    probe_pre = contention_probe(probe_s)
    rss = JvmRss(spark)
    try:
        units, pairs = measure(wl, seconds, trace_on, rss)
    finally:
        wl.finish()
    peak = rss.peak_mb()
    probe_post = contention_probe(probe_s)
    e2e = untraced_metrics(wl, [u for u in units if not any(u is p[1] for p in pairs)],
                           setup_s, peak)
    problems = [p for u in units for p in u.problems]
    layer, layer_problems = ({}, [])
    if trace_on:
        layer, layer_problems = traced_metrics(wl, pairs, n_batches(spec))
        problems += layer_problems
    batches = [b for u in units for b in u.batch_walls]
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace_on),
        "smoke": smoke, "n_docs": wl.n_docs, "setup": setup, "session_s": session_s,
        "probe_ips_pre": probe_pre, "probe_ips_post": probe_post,
        "unit_walls": [u.wall for u in units], "batch_walls": batches,
        "end_to_end": e2e, "per_layer": layer, "problems": problems,
        "spans": [t.dump() for _, _, t in pairs],
        "elapsed_s": time.perf_counter() - t0,
    }
    attempted = len(batches) if isinstance(wl, Incremental) else len(units)
    failed = sum(1 for u in units if u.problems) + (1 if layer_problems else 0)
    return record, attempted, failed


def summarize(record: dict) -> None:
    w = record["workload"]
    walls = sorted(record["unit_walls"])
    sys.stderr.write(
        f"[{w}] seed={record['seed']} docs={record['n_docs']} units={len(walls)} "
        f"probe {record['probe_ips_pre']:.0f}->{record['probe_ips_post']:.0f} it/s\n")
    for name, unit in END_TO_END:
        sys.stderr.write(f"  {name:12s} {record['end_to_end'][name]:.4f} {unit}\n")
    sys.stderr.write(f"  unit walls (n={len(walls)}): median {statistics.median(walls):.3f} s, "
                     f"max {walls[-1]:.3f} s\n")
    for key in ("signatures", "lsh", "verify", "exact_dedup", "connected_components",
                "incremental", "catalog"):
        if record["per_layer"]:
            sys.stderr.write(f"  {key}.wall_s {record['per_layer'][key + '.wall_s']:.3f}\n")
    for p in record["problems"]:
        sys.stderr.write(f"  FAILED: {p}\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at a few thousand docs, untraced and traced")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    sys.path.insert(0, ROOT)
    try:
        import face_duplicate_detection_spark  # noqa: F401
    except ImportError as e:
        sys.stderr.write(f"perfbench: engine package not importable from {ROOT}: {e}\n")
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)

    start_watchdog(900 if args.smoke else 175)
    os.makedirs(RUN_DIR, exist_ok=True)
    scratch = os.path.join(RUN_DIR, f"run-{os.getpid()}")
    cores = os.cpu_count() or 1
    spark = start_session(cores, scratch, spec["session"])
    session_s = time.perf_counter() - T_START
    records, attempted, failed = [], 0, 0
    try:
        names = WORKLOADS if args.smoke else (args.workload,)
        for name in names:
            rec, att, fail = run_workload(
                spark, name, spec, args.seed, 0 if args.smoke else args.seconds,
                args.smoke or bool(args.trace), args.smoke, scratch, session_s)
            records.append(rec)
            attempted += att
            failed += fail
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    with open(os.path.join(RUN_DIR, "records.jsonl"), "a") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    for rec in records:
        summarize(rec)

    def pick(rec):
        if args.smoke:
            return {**rec["end_to_end"], **rec["per_layer"]}
        return rec["per_layer"] if args.trace else rec["end_to_end"]

    units = dict(END_TO_END)
    if args.smoke or args.trace:
        import tracing

        units.update(tracing.per_layer_names(n_batches(spec)))
    metrics = {}
    for rec in records:
        prefix = f"{rec['workload']}/" if args.smoke else ""
        for name, value in pick(rec).items():
            metrics[prefix + name] = {"value": value, "unit": units[name]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
