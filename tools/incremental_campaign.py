"""Incremental-ingest campaign (VERDICT r4 next-round #4).

The O(new)-per-batch claim for the incremental path is pinned
structurally (tests/test_incremental*.py flatness + recovery suites)
but was never TIMED at scale.  This campaign ingests a scaling corpus
as K equal micro-batches through ``incremental_batch`` (carried state,
compaction, ledger — the production ingest loop; reference analogue:
the carried-state batch loop at
``/root/reference/duplicate_face.py:164-198``), recording per-batch
wall, then runs the one-shot pipeline on the same corpus in the same
process for the total-cost comparison.

Pass criteria (VERDICT): per-batch wall flat (±noise) in batch index —
i.e. batch cost scales with the BATCH, not the accumulated corpus —
and incremental total within ~1.5× of the one-shot pipeline.  A final
cluster-equality check (incremental final state ≡ one-shot clusters)
makes the timing claim about the *correct* computation.

Usage:
    SPARK_GRAFT_BOUNDED=1 python tools/incremental_campaign.py \
        [n_docs] [n_batches] [cores]

Appends one JSON record to BENCH/incremental_campaign.jsonl.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 8
CORES = int(sys.argv[3]) if len(sys.argv) > 3 else 8

# fresh subprocess: the first SparkSession in a process pins the JVM
# heap, and a cold JVM makes the one-shot-vs-incremental comparison
# honest (same warm-up policy as bench._e2e_dedup_seconds)
_CODE = """
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from face_duplicate_detection_spark.catalog import StageCatalog
from face_duplicate_detection_spark.config import DedupConfig
from face_duplicate_detection_spark.plans.pipeline import run_pipeline
from face_duplicate_detection_spark.session import get_spark
from face_duplicate_detection_spark.streaming.incremental import (
    incremental_batch, resolved_clusters)

K = {k}
spark = get_spark(app_name="inc-campaign", master="local[{cores}]",
                  shuffle_partitions={shuffle},
                  extra_conf={{"spark.driver.memory": {mem!r},
                  "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m"}})
spark.sparkContext.setLogLevel("ERROR")
cfg = DedupConfig().with_(store_shingles={store!r})
raw = spark.read.parquet({corpus!r}).select("doc_id", "text")
# production ingest contract: the incremental path receives
# NORMALIZED, MATCHABLE docs (the streaming handler normalizes before
# signing) while run_pipeline normalizes internally and excludes
# non-matchable docs from matching.  Feeding incremental the raw
# corpus instead made 66,484 rows diverge at 2M docs — every diff was
# a non-matchable doc (~100k in this corpus) that incremental had
# signed and clustered but one-shot held out as a status singleton.
# Both paths below therefore run over the same matchable set, and the
# cluster comparison is over that set.
from face_duplicate_detection_spark.functions.normalize import (
    matchable_docs, normalize_documents)
from face_duplicate_detection_spark.session import local_ckpt
docs = local_ckpt(
    matchable_docs(normalize_documents(raw, cfg)).select("doc_id", "text")
)
n_docs = docs.count()

# warm-up (excluded): spin Python workers / JIT the shuffle paths
warm = docs.filter(docs.doc_id % 10 == 3).limit(64 * {shuffle})
run_pipeline(warm, cfg, input_kind="documents").clusters.count()
spark.catalog.clearCache()

# state catalog on tmpfs, matching spark.local.dir (session.py): this
# sandbox's /tmp is disk-backed and serializes concurrent readers, so
# a /tmp catalog would charge the incremental path disk I/O the
# one-shot's in-memory localCheckpoint stages never pay — the
# production analogue for BOTH is per-executor NVMe
root = tempfile.mkdtemp(
    prefix="inc_campaign_",
    dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
)
cat = StageCatalog(root)
batch_walls, batch_sizes = [], []
for k in range(K):
    b = docs.filter(docs.doc_id % K == k)
    t0 = time.time()
    incremental_batch(b, cfg, cat, spark, batch_key=f"b{{k}}")
    batch_walls.append(round(time.time() - t0, 1))
    batch_sizes.append(b.count())
    print(f"batch {{k}}: {{batch_walls[-1]}}s", file=sys.stderr)
inc_total = sum(batch_walls)
final = resolved_clusters(spark, cat)

t0 = time.time()
res = run_pipeline(docs, cfg, input_kind="documents")
res.clusters.count()
oneshot = round(time.time() - t0, 1)

# equality: same cluster label partition (labels are min-doc_id roots
# in both paths, so direct equality, not just partition-equivalence)
inc = final.select("doc_id", "cluster_id")
one = res.clusters.filter("status = 'ok'").select("doc_id", "cluster_id")
n_diff = inc.exceptAll(one).count() + one.exceptAll(inc).count()
shutil.rmtree(root, ignore_errors=True)
print(json.dumps({{"n_docs": n_docs, "batch_walls": batch_walls,
                   "batch_sizes": batch_sizes,
                   "inc_total": round(inc_total, 1),
                   "oneshot": oneshot, "n_diff": n_diff}}))
spark.stop()
"""


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = os.path.join("/tmp/fdds_bench", f"scaling_corpus_{N_DOCS}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        import bench

        corpus = bench._synthesize_scaling_corpus(N_DOCS, "/tmp/fdds_bench")
    store = os.environ.get("SPARK_GRAFT_BOUNDED", "0") != "1"
    mem = os.environ.get("SPARK_GRAFT_BENCH_MEM", "16g")
    code = _CODE.format(
        repo=repo, k=N_BATCHES, cores=CORES, shuffle=4 * CORES,
        mem=mem, store=store, corpus=corpus,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-6000:])
        raise SystemExit("incremental campaign failed")
    # last line that parses as a JSON object — robust to stray stdout
    # emitted during interpreter/session shutdown (ADVICE r5)
    payload = None
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            payload = json.loads(line)
            break
    if payload is None:
        raise SystemExit("campaign child printed no JSON payload")
    rec = {
        "n_batches": N_BATCHES,
        "cores": CORES,
        "mem": mem,
        "store_shingles": store,
        "bounded": not store,
        **payload,
        "ratio_vs_oneshot": round(payload["inc_total"] / payload["oneshot"], 2),
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/incremental_campaign.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
