"""Connected components by partition-local union-find contraction.

Replaces the reference's greedy leader clustering — first matching
representative wins, ``break`` at
``/root/reference/duplicate_face.py:75`` /
``face_recognition_custom.py:111`` — with true connected components
over the verified pair graph.  CC produces a *superset* of the greedy
clusters (SURVEY.md §2.12): every (leader, member) edge the reference
would emit passed the same similarity predicate and is therefore in
our edge set, so dup-pair recall vs the reference is bounded only by
the LSH S-curve, not by clustering.

Algorithm: union-find (min-root invariant, so a node's root IS its
label), on the driver for small edge sets and otherwise contracted
inside partitions, after "BTS: Load-Balanced Distributed Union-Find"
(ICDE 2024, PAPERS.md):

- ≤ :data:`CC_DRIVER_CAP` distinct edges: one collect, one exact
  union-find on the driver.
- above it, contraction rounds on the executors.  Each round keys
  every oriented edge (hi > lo) under BOTH endpoints, hash-partitions
  into ``n_edges // CC_EDGES_PER_TASK + 1`` tasks, and runs the same
  union-find inside each task (:func:`_contract_partition`).  A task
  emits one ``(node, local_min)`` star per non-root node it saw; the
  stars connect exactly what the task's edges connected, so the
  round's output has the input's components.  The loop stops when
  - the round ran in ONE task: that union-find saw every edge, so its
    stars are the exact labels; or
  - no task changed its input.  All of a node's edges share its task,
    so every node then has either one edge, to a smaller root, or
    only edges to larger leaves: a star forest rooted at component
    minima.
  The per-task ``changed`` flag and the round's edge count are
  observed on the round's own checkpoint job — no extra action.
  Running out of ``max_iterations`` raises instead of returning wrong
  labels.

Union-find is diameter-independent: the LSH chain-pairing of oversized
buckets builds path-like graphs, on which one-hop min-label
propagation fragmented a 121-node path into 70 clusters under a
50-round cap (ADVICE r1).  Inside a task a whole path collapses at
once; across tasks, each round joins every node's neighbourhood.

Degree bound: keying by endpoint puts all of a node's edges in one
task, so a hub of degree d feeds ≥ d edges to a single union-find
whatever the task count.  The large/small-star rounds this replaced
concentrated a hub the same way (their ``groupBy(u)``).

Canonical member = min(doc_id) in the component (SURVEY.md §2.6 W1 —
deterministic stand-in for the reference's first-seen-in-insertion-
order canonical; identical when doc_id respects ingestion order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from face_duplicate_detection_spark.session import local_ckpt

# Driver fast-path bound (round 6): edge sets at or below this size are
# union-found on the driver in one collect.  Dup GRAPHS are tiny
# relative to the corpus (the 5000-doc sf0.1 bench corpus yields 249
# edges; even the 8M-doc campaign yields ~10^6), and every contraction
# round is a shuffle plus a localCheckpoint job — scheduler overhead a
# single collect does not pay.  200k edges × 16 B = ~3 MB collected —
# same order as the bounded centroid collect in similarity.py; beyond
# the cap the rounds run on executors, so the plan stays scale-safe
# (the cap is a constant, not a function of corpus size).
CC_DRIVER_CAP = 200_000

# Edges per task of a contraction round: a round over n edges runs in
# n // CC_EDGES_PER_TASK + 1 tasks, so one task holds ~2 × this many
# (hi, lo) pairs in its union-find, plus any hub's whole degree.
CC_EDGES_PER_TASK = 50_000

# Both constants are read at call time, so a caller may rebind them.

_STAR_SCHEMA = "hi long, lo long, changed boolean"


def _union_find_labels(pairs) -> dict[int, int]:
    """Union-find with min-root invariant: after all unions the root of
    every set is its minimum element, so find(x) IS the cluster_id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for hi, lo in pairs:
        ra, rb = find(hi), find(lo)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra            # larger root attaches under min
    return {x: find(x) for x in parent}


def _contract_partition(batches):
    """``mapInPandas`` body of one contraction round: union-find over
    the (hi, lo) edges this task received, emitted as (node, local_min)
    stars, each row flagged with whether the stars differ from the
    task's input edge set.  Module-level, so Spark ships it by
    reference and the task runs this module's own union-find."""
    import pandas as pd

    edges: set[tuple[int, int]] = set()
    for b in batches:
        edges.update(zip(b["hi"].tolist(), b["lo"].tolist()))
    if not edges:
        return
    star = {(n, r) for n, r in _union_find_labels(edges).items() if n != r}
    hi, lo = zip(*star)
    yield pd.DataFrame({
        "hi": pd.array(hi, dtype="int64"),
        "lo": pd.array(lo, dtype="int64"),
        "changed": star != edges,
    })


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    driver_cap: int | None = None,
) -> DataFrame:
    """edges(a, b) → labels(doc_id, cluster_id = min doc_id in component).

    Only nodes that appear in an edge are returned (isolated docs are
    their own cluster; callers add them back with a left join —
    cheaper than materializing a label row per document here).

    ``driver_cap`` (default :data:`CC_DRIVER_CAP`) selects the bounded
    driver union-find fast path for small deduped edge sets; pass 0 to
    force the contraction rounds regardless of size.
    """
    from pyspark.sql import Observation

    raw = edges.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    )
    # lazy: consumed once by the final join — no checkpoint job needed
    nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .distinct()
    )
    # checkpoint the distinct output directly: distinct's own exchange
    # already partitioned by (hi, lo), and the rounds re-shuffle by
    # endpoint anyway.  The edge count rides on the same job.
    size = Observation()
    e = local_ckpt(e.observe(size, F.count(F.lit(1)).alias("n")))
    n_edges = size.get["n"]
    cap = CC_DRIVER_CAP if driver_cap is None else driver_cap
    if n_edges <= cap:
        # bounded driver fast path (see CC_DRIVER_CAP): one collect of
        # ≤ cap (hi, lo) longs, exact union-find, and the star table
        # goes back as a broadcast left join — the same final join
        # shape as the contraction rounds, so self-loop-only nodes
        # (present in `nodes`, absent from `e`) still label themselves
        # identically.
        import pandas as pd

        lab = _union_find_labels((r["hi"], r["lo"]) for r in e.collect())
        star = [(n, r) for n, r in lab.items() if n != r]
        star_df = e.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "node": pd.array([n for n, _ in star], dtype="int64"),
                    "root": pd.array([r for _, r in star], dtype="int64"),
                }
            ),
            schema="node long, root long",
        )
        return nodes.join(F.broadcast(star_df), "node", "left").select(
            F.col("node").alias("doc_id"),
            F.coalesce("root", "node").alias("cluster_id"),
        )
    tasks = n_edges // CC_EDGES_PER_TASK + 1
    for _ in range(max_iterations):
        # both endpoints key every edge, so each node's task sees all
        # of its edges (the no-change stop relies on this)
        keyed = e.select(F.col("hi").alias("k"), "hi", "lo").unionByName(
            e.select(F.col("lo").alias("k"), "hi", "lo")
        )
        changed, size = Observation(), Observation()
        stars = (
            keyed.repartition(tasks, "k")
            .select("hi", "lo")
            .mapInPandas(_contract_partition, _STAR_SCHEMA)
            .observe(changed, F.max("changed").alias("changed"))
            .select("hi", "lo")
        )
        if tasks > 1:
            # a star may come from both of its endpoint tasks; dropping
            # the copy sizes the next round by distinct edges
            stars = stars.distinct()
        e = local_ckpt(stars.observe(size, F.count(F.lit(1)).alias("n")))
        if tasks == 1 or not changed.get["changed"]:
            break
        tasks = size.get["n"] // CC_EDGES_PER_TASK + 1
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "contraction rounds (pathological graph?); raise "
            "max_iterations"
        )

    # e is now a star set (member, root).  Roots and self-loop-only
    # nodes label themselves.
    return nodes.join(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("root")),
        "node",
        "left",
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce("root", "node").alias("cluster_id"),
    )


def assign_clusters(
    docs: DataFrame, edge_labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """All docs ⟕ component labels → clusters table.

    Isolated docs become singleton clusters (cluster_id = own doc_id);
    ``is_canonical`` marks the min-doc_id representative — the
    analogue of the reference's ``known_face_paths`` entries
    (``duplicate_face.py:58-61,77-81``).
    """
    out = docs.join(edge_labels, id_col, "left")
    return out.select(
        *[c for c in docs.columns],
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    ).withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
