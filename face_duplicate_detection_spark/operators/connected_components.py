"""Iterative DataFrame connected components (large-star / small-star).

Replaces the reference's greedy leader clustering — first matching
representative wins, ``break`` at
``/root/reference/duplicate_face.py:75`` /
``face_recognition_custom.py:111`` — with true connected components
over the verified pair graph.  CC produces a *superset* of the greedy
clusters (SURVEY.md §2.12): every (leader, member) edge the reference
would emit passed the same similarity predicate and is therefore in
our edge set, so dup-pair recall vs the reference is bounded only by
the LSH S-curve, not by clustering.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond" — public algorithm),
operating directly on the edge set:

- ``large-star``: every node attaches its *larger* neighbors to the
  minimum of its neighborhood (incl. itself).
- ``small-star``: every node attaches its smaller-or-equal neighbors
  (and itself) to that minimum.

Alternating the two converges to star graphs (every member directly
linked to its component minimum) in O(log² n) rounds — crucially
*independent of component diameter*.  Plain min-label propagation
moves one hop per round; the LSH chain-pairing of oversized buckets
builds path-like graphs whose diameter easily exceeds any fixed cap,
and ADVICE r1 demonstrated a 121-node path silently fragmenting into
70 clusters under a 50-round one-hop loop.  (A min-label loop with
per-iteration pointer jumping was tried first; the label-table
self-join it needs triggers a geometric per-iteration slowdown in
Spark 4.1 even with truncated lineage, so the edge-rewriting
formulation — groupBy + join only, no self-join of the iterated
table — is both the published algorithm and the one that measures
flat per-round cost.)

Every round is groupBy(node) → min + equi-join → distinct over the
current edge set; lineage is truncated per round with
``localCheckpoint`` (SURVEY.md §4.4 — Catalyst cannot do this for
us).  Convergence is detected by a (count, hash-sum) multiset
fingerprint observed on the same job that materializes the round —
no extra action.  Non-convergence raises instead of returning wrong
labels.

Canonical member = min(doc_id) in the component (SURVEY.md §2.6 W1 —
deterministic stand-in for the reference's first-seen-in-insertion-
order canonical; identical when doc_id respects ingestion order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from face_duplicate_detection_spark.session import local_ckpt

# Driver fast-path bound (round 6): edge sets at or below this size are
# union-found on the driver instead of iterating distributed star
# rounds.  Rationale (optimization guide §1.2 — fix the algorithm
# before the configuration): dup GRAPHS are tiny relative to the
# corpus (the 5000-doc sf0.1 bench corpus yields 249 edges; even the
# 8M-doc campaign yields ~10^6), and each star round is 4-5 tiny
# shuffles plus a localCheckpoint job — pure scheduler overhead below
# ~10^5 edges (measured: the CC stage was 1.4-2.0 s of the 6 s sf0.1
# pipeline).  200k edges × 16 B = ~3 MB collected — same order as the
# bounded centroid collect in similarity.py; beyond the cap the
# distributed large/small-star loop runs unchanged, so the plan stays
# scale-safe (the cap is a constant, not a function of corpus size).
# Read at call time, so a caller may rebind the module attribute.
CC_DRIVER_CAP = 200_000


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


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over oriented edges (hi > lo).

    Returns the new oriented edge set (not yet deduped/checkpointed).
    """
    # ---- large-star: neighbors both ways, larger neighbors → min ----
    sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # no distinct here: duplicate (hi, lo) rows don't change small-star
    # minima and the final distinct dedups — saves a full shuffle/round
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
    )

    # ---- small-star on the large-star output (hi > lo oriented) ----
    smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
    joined = large.join(smins, "hi")
    lo_edges = (
        joined.filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
    )
    hi_edges = joined.select("hi", F.col("m").alias("lo"))
    return (
        lo_edges.unionByName(hi_edges)
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


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
    force the distributed star loop regardless of size.
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
    # already partitioned by (hi, lo), and the star rounds re-shuffle
    # by a different key anyway — the former repartition("hi") was one
    # extra full exchange per CC invocation for nothing (round 6)
    e = local_ckpt(e)
    spark = e.sparkSession
    n_edges = e.count()
    cap = CC_DRIVER_CAP if driver_cap is None else driver_cap
    if n_edges <= cap:
        # bounded driver fast path (see CC_DRIVER_CAP): one collect of
        # ≤ cap (hi, lo) longs, exact union-find, and the star table
        # goes back as a broadcast left join — the same final join
        # shape as the distributed loop, so self-loop-only nodes
        # (present in `nodes`, absent from `e`) still label themselves
        # identically.
        import pandas as pd

        lab = _union_find_labels((r["hi"], r["lo"]) for r in e.collect())
        star = [(n, r) for n, r in lab.items() if n != r]
        star_df = spark.createDataFrame(
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
    # size the per-round edge set to the actual edge count — dup graphs
    # are usually tiny relative to the corpus, and 32-task jobs over a
    # few thousand edges are pure scheduler overhead.  The sizing is an
    # explicit repartition(parts, hi) on each round's OUTPUT (plus AQE
    # coalescing the intra-round groupBy/join shuffles) — NOT a mutation
    # of the session-global spark.sql.shuffle.partitions, which would
    # silently resize any concurrent query on a shared session for the
    # duration of the loop (ADVICE r3 / VERDICT r3 "what's wrong" #2;
    # an A/B measured the explicit form faster on small graphs — the
    # common case — and within 8% on a pathological 200k-edge chain).
    # Round inputs are narrowed with coalesce (no shuffle, no second
    # checkpoint job — round 6; the rounds repartition their OUTPUTS
    # to `parts` anyway).
    parts = max(1, min(
        spark.sparkContext.defaultParallelism,
        n_edges // 50_000 + 1,
    ))
    if parts < e.rdd.getNumPartitions():
        e = e.coalesce(parts)

    prev_sig: tuple | None = None
    converged = False
    for _ in range(max_iterations):
        obs = Observation()
        e = local_ckpt(
            _star_round(e)
            .repartition(parts, "hi")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                # xor-fold of per-edge hashes: order-insensitive SET
                # fingerprint (edges are distinct), no ANSI overflow
                F.bit_xor(F.xxhash64("hi", "lo")).alias("hsum"),
            )
        )
        got = obs.get
        sig = (got["n"], got["hsum"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
        # resize the NEXT round to the observed edge count: star rounds
        # shrink the edge set geometrically, and keeping the round-1
        # partition count schedules ever-emptier tasks — a fixed
        # per-round cost that made the CC stage anti-scale (9.3 s @2
        # cores → 12.2 s @8 on the 800k corpus before this; the
        # observation is free, no extra job)
        parts = max(1, min(
            spark.sparkContext.defaultParallelism,
            int(got["n"]) // 50_000 + 1,
        ))

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "large/small-star rounds (pathological graph?); raise "
            "max_iterations"
        )

    # at fixpoint e is a star set: (member, root).  Roots / isolated
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
