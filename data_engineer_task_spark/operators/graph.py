"""Connected components — the pairs→groups step of near-dup clustering.

A verified near-dup pair list is a graph; the dedup SURVIVOR set is one
representative per connected component (A~B, B~C ⇒ {A,B,C} even when
A,C never paired). Min-label propagation: every node starts labeled
with itself, then repeatedly takes the min of its own and its
neighbors' labels. Each sweep is one join + one groupBy (shuffles on
node id); convergence needs O(component diameter) sweeps, and near-dup
components are shallow by construction (a dup cluster's members all
link through near-identical text), so the loop exits in a handful of
rounds — the driver only ever sees a changed-row COUNT per round,
never the labels.

This is the simple propagation variant; the large-star/small-star
alternating algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond") cuts round count to O(log n) for deep graphs
and drops in here unchanged if a corpus ever produces long chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iters: int = 15,
    driver_threshold: int = 500_000,
    strategy: str = "auto",
) -> DataFrame:
    """Label every node reachable through ``edges`` with the MIN node id
    of its component (exact fixpoint — deterministic). Returns (node,
    cluster). Nodes = every id appearing on either side; isolated docs
    are the caller's no-op set and are not materialized here.

    Adaptive: the edge list is METADATA-scale (near-dup pairs ≪ corpus
    rows), so when it fits the driver comfortably (≤ ``driver_threshold``
    edges, a few tens of MB) the exact union-find runs locally after one
    collect — a 100 TB corpus with a normal dup rate never needs more
    than that. The distributed propagation loop is the fallback for
    pathological graphs, not the common path; both produce the identical
    min-label fixpoint.

    ``strategy="two_phase"`` skips the adaptive ladder and runs the
    Kiveris large-star/small-star variant directly — the escalation
    path the ``auto`` ladder reaches only on deeper-than-``max_iters``
    graphs, exposed so a declared entry can drive it through the
    oracle gate on real data (all three strategies produce identical
    labels)."""
    if strategy not in ("auto", "two_phase"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # Persist the edge list before sizing it: the pair-generation plan
    # upstream (LSH verify) is the expensive part, and the size probe,
    # the union-find collect / propagation loop would each re-run it.
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    if strategy == "two_phase":
        try:
            return _two_phase_cc(und)
        finally:
            und.unpersist()
    if und.count() <= driver_threshold:
        try:
            return _driver_union_find(und)
        finally:
            und.unpersist()
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .persist()
    )
    labels.count()
    converged = False
    for _ in range(max_iters):
        nb_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("cluster").alias("nb_cluster"))
        )
        # localCheckpoint each sweep: persist() alone does NOT truncate
        # the LOGICAL plan — labels is referenced twice per sweep, so
        # analysis cost doubles every iteration and Catalyst, not the
        # data, becomes the bottleneck after ~10 sweeps. Eager local
        # checkpoint materializes AND cuts lineage to the stored
        # blocks (the standard iterative-algorithm idiom, cf. ALS /
        # GraphFrames); loss-of-executor recompute is forfeited, which
        # is fine for a metadata-scale label frame.
        new_labels = (
            labels.join(nb_min, labels["node"] == nb_min["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce("nb_cluster", F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # returning unconverged labels would silently split one real
        # component into several clusters — downstream dedup would keep
        # extra "survivors". A component deeper than max_iters means
        # min-label propagation (O(diameter) rounds) is the wrong
        # algorithm for this graph; escalate to the O(log n)-round
        # two-phase variant instead of failing.
        labels.unpersist()
        try:
            return _two_phase_cc(und)
        finally:
            und.unpersist()
    und.unpersist()
    return labels


def _two_phase_cc(und: DataFrame, *, max_rounds: int = 30) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the deep-graph fallback: round count is O(log n) in
    component size instead of O(diameter), so a pathological chain
    graph converges in ~log₂(n) alternations where min-label
    propagation needs n sweeps.

    Each round is two groupBy-join passes over the (metadata-scale)
    edge list, kept canonical as (hi > lo) pairs:
     - large-star: for every node u, link each LARGER neighbor to
       m(u) = min(Γ(u) ∪ {u})
     - small-star: for every center hi, link hi and each of its
       smaller neighbors to the smallest of them
    Both preserve connectivity and strictly shrink label distance;
    the fixpoint is a star forest rooted at each component's min id.
    Convergence is detected by a (count, xor-of-hash) checksum of
    the canonical edge set — cheaper than a two-sided exceptAll and
    collision-safe far beyond any real edge-list size. Returns
    (node, cluster) labels identical to the other variants'
    min-label fixpoint."""
    # Eager localCheckpoint, NOT persist: each round references E 16×
    # (sym 2×, ls 4× via sym⋈groupBy(sym), ss 4× via ls⋈groupBy(ls)),
    # and persist() leaves the logical plan intact — analysis cost
    # would grow 16^round and Catalyst hangs by round 2 (measured).
    # Checkpointing cuts lineage so every round plans against a leaf.
    E = (
        und.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(df: DataFrame) -> tuple:
        # bit_xor, not sum: xxhash64 spans the full int64 range and a
        # SUM overflows under ANSI mode; XOR is order-insensitive and
        # overflow-free.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("hi", "lo")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(E)
    converged = False
    for _ in range(max_rounds):
        # large-star over the symmetrized neighborhoods
        sym = E.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
            E.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        ls = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .persist()
        )
        # small-star over the canonical (hi → smaller neighbors) stars
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = ls.join(smins, "hi")
        ss = (
            joined.select(F.col("hi").alias("a"), F.col("m").alias("b"))
            .unionByName(
                joined.where(F.col("lo") != F.col("m")).select(
                    F.col("lo").alias("a"), F.col("m").alias("b")
                )
            )
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)  # materialize + cut lineage
        )
        cur = checksum(ss)
        ls.unpersist()
        E.unpersist()  # checkpointed blocks are no longer needed
        E = ss
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        E.unpersist()
        raise RuntimeError(
            f"two-phase connected components did not converge in "
            f"{max_rounds} rounds — max_rounds bounds log2(component "
            "size), so this indicates a bug or checksum instability, "
            "not a deep graph"
        )
    # Fixpoint is a star forest: every non-root appears as hi with its
    # root as lo; roots appear only on the lo side. One symmetric
    # min-pass reads the labels off (and gives roots themselves).
    sym = E.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
        E.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    )
    labels = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("cluster")
    ).select(F.col("a").alias("node"), "cluster")
    # The u != v canonicalization dropped SELF-LOOP-ONLY nodes from the
    # star forest, but the contract ("nodes = every id appearing on
    # either side") labels them (node, node) in the union-find and
    # propagation paths — union the stragglers back in (ADVICE r3).
    all_nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = labels.unionByName(
        all_nodes.join(labels, "node", "left_anti").select(
            "node", F.col("node").alias("cluster")
        )
    )
    # Materialize before releasing the edge cache backing the lineage.
    labels = labels.persist()
    labels.count()
    E.unpersist()
    return labels


def _driver_union_find(und: DataFrame) -> DataFrame:
    """Exact union-find over a collected edge list; roots are kept as
    the component minimum so labels match the distributed fixpoint
    bit-for-bit. Output schema mirrors the input id type."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in und.collect():
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo  # min id stays root

    id_type = und.schema["u"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("cluster", id_type, False),
        ]
    )
    return local_frame(und.sparkSession, [(n, find(n)) for n in parent], schema)
