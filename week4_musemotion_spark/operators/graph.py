"""Connected components — turning near-dup PAIRS into dup CLUSTERS.

Pair output (doc_a ~ doc_b) undercounts duplication: if A~B and B~C,
all three are one duplicate cluster even when A~C itself fell below
threshold.  Canonical dedup keeps min-id per component, which needs
connected components over the similarity graph — the one genuinely
iterative algorithm in the dedup pipeline.

Implementation: min-label propagation with pointer jumping.  Each
node starts labeled with its own id; every round each node takes the
min label over itself and its neighbors, then SHORTCUTS through its
label's own label (comp ← comp(comp), path doubling).  Propagation
alone converges in O(component diameter) rounds — fine for compact
dup clusters, but a chain-shaped component of length L needs L
rounds.  The shortcut halves remaining path lengths each round, so
convergence is O(log L) for any shape — the property that matters
when a 100 TB near-dup graph contains adversarial chains.  Each
round is one join + aggregate + one self-join — fully distributed,
with the driver only checking the scalar convergence count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of its component.

    Raises if not converged within ``max_iterations`` (diameter
    bound exceeded — for adversarial chain-shaped graphs use the
    star-contraction variant instead).  ``stats``, when given, is
    filled with {"rounds": n} for convergence instrumentation.
    """
    # undirected: symmetrize once
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.persist()
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn("comp", F.col("node"))

    def one_round(lbl: DataFrame) -> DataFrame:
        """One propagate + pointer-jump round, lazily checkpointed.

        Pointer jumping: comp ← comp(comp).  Labels only ever
        decrease toward the component min, so shortcutting is always
        sound; it collapses long chains exponentially faster than
        propagation alone (chain of length L: O(log L)-ish rounds
        instead of O(L)).  The LAZY localCheckpoint truncates lineage
        (the round references its own intermediate twice via the
        pointer-jump self-join, so carrying logical plans across
        rounds would grow the tree 2^rounds) without its own blocking
        job — the batched convergence aggregate below materializes it.
        Superseded rounds' checkpoint storage is released by the
        ContextCleaner once the rebind drops the last reference."""
        neighbor_min = (
            sym.join(lbl, sym.v == lbl.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        propagated = lbl.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        hop = propagated.select(
            F.col("node").alias("_hn"), F.col("comp").alias("_hc")
        )
        out = propagated.join(
            hop, propagated.comp == hop._hn, "left"
        ).select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("_hc"), F.col("comp"))
            ).alias("comp"),
        )
        return out.localCheckpoint(eager=False)

    def comp_sum(lbl: DataFrame, tag: int) -> DataFrame:
        # convergence via the monotone invariant: every comp only ever
        # decreases, so sum(comp) is unchanged exactly at the fixed
        # point.  decimal(38,0) so planet-scale id sums cannot
        # overflow long.
        return lbl.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).select(F.lit(tag).alias("r"), "s")

    prev_sum = None
    rounds = 0
    try:
        while rounds < max_iterations:
            # TWO rounds per driver barrier: both rounds' checkpoints
            # and both convergence sums ride ONE blocking job (the
            # second round's lineage reads the first's cached
            # checkpoint), halving the per-iteration cluster
            # round-trips vs the one-job-per-round form.  Detection is
            # never late — round a's sum is compared against the
            # previous batch, so a fixed point reached at an odd round
            # costs at most the one wasted round b, which ``stats``
            # does not count.
            la = one_round(labels)
            rounds += 1
            if stats is not None:
                stats["rounds"] = rounds
            if rounds >= max_iterations:
                s_a = comp_sum(la, 1).collect()[0].s
                if s_a == prev_sum:
                    return la
                break
            lb = one_round(la)
            rounds += 1
            if stats is not None:
                stats["rounds"] = rounds
            sums = {
                r.r: r.s
                for r in comp_sum(la, 1).unionByName(comp_sum(lb, 2)).collect()
            }
            if sums[1] == prev_sum:
                if stats is not None:
                    stats["rounds"] = rounds - 1
                return la
            if sums[2] == sums[1]:
                return lb
            prev_sum = sums[2]
            labels = lb
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")
    finally:
        sym.unpersist()


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m = min(Γ(u) ∪
    {u}) — one groupBy + one join over the symmetrized edge list."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (edges oriented max→min)
    to m = min(Γ(u) ∪ {u}), keeping (u, m) itself."""
    ori = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()
    mins = ori.groupBy("u").agg(F.min("v").alias("m"))
    joined = ori.join(mins, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        joined.select("u", F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — same output contract as
    :func:`connected_components`.

    Each round rewires edges toward per-neighborhood minima until the
    graph is one star per component.  Measured against the pointer-
    jumped propagation variant on chain (128/1024 nodes), hub-with-
    chains, and many-small-cluster fixtures: identical round counts
    (both O(log diameter); e.g. chain-1024 → 11 rounds) and a flat
    n−1 edge volume per round — so propagation remains the default
    query path and this variant exists for shapes where per-round
    joins against a separate label table are the bottleneck (star
    keeps all state in the edge list itself; no labels⋈labels
    pointer-jump join).  Convergence: the canonical edge set is a
    fixed point; detected when (count, hash-sum) is unchanged.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )

    def sig_of(ed: DataFrame, tag: int) -> DataFrame:
        return ed.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).select(F.lit(tag).alias("r"), "n", "h")

    # isolated self-pair inputs contribute no edges; callers pass pair
    # lists, so every node has ≥1 real edge.  Like the propagation
    # variant: TWO contraction rounds per driver barrier — each round
    # is lazily checkpointed (the round's plan references e several
    # times) and one blocking job materializes both rounds plus both
    # convergence signatures; detection of a fixed point reached at an
    # odd round costs at most the one wasted even round, which ``stats``
    # does not count.
    prev = None
    rounds = 0
    converged = False
    while rounds < max_iterations and not converged:
        ea = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        if stats is not None:
            stats["rounds"] = rounds
        if rounds >= max_iterations:
            sig = {r.r: r for r in sig_of(ea, 1).collect()}
            if stats is not None:
                stats.setdefault("edges", []).append(sig[1].n)
            converged = (sig[1].n, sig[1].h) == prev
            e = ea
            break
        eb = _small_star(_large_star(ea)).localCheckpoint(eager=False)
        rounds += 1
        if stats is not None:
            stats["rounds"] = rounds
        sig = {r.r: r for r in sig_of(ea, 1).unionByName(sig_of(eb, 2)).collect()}
        cur_a = (sig[1].n, sig[1].h)
        cur_b = (sig[2].n, sig[2].h)
        if cur_a == prev:
            e = ea
            converged = True
            if stats is not None:
                stats["rounds"] = rounds - 1
                stats.setdefault("edges", []).append(sig[1].n)
            break
        if stats is not None:
            stats.setdefault("edges", []).extend([sig[1].n, sig[2].n])
        if cur_b == cur_a:
            e = eb
            converged = True
        else:
            prev = cur_b
            e = eb
    if not converged:
        raise RuntimeError(f"connected_components_star did not converge in {max_iterations} iterations")
    # fixed point = one star per component, centered on the min id
    star = e.select(F.greatest("u", "v").alias("node"), F.least("u", "v").alias("comp")).distinct()
    centers = star.select(F.col("comp").alias("node"), "comp").distinct()
    return star.unionByName(centers)


def dedup_clusters(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: every clustered doc
    with its canonical keeper (the component's min id)."""
    comp = connected_components(pairs, src, dst)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("keep_id"),
    )


def triangles(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Triangle enumeration over an oriented edge list (src < dst):
    (a,b)⋈(b,c)⋈(a,c) emits each triangle exactly once as a < b < c.

    The orientation is what makes the classic double-join linearish:
    each edge participates only from its lower endpoint, so no
    triangle is found three times and the join fan-out is bounded by
    per-node out-degree.  (At extreme skew the optimal variant orients
    by DEGREE order instead of id order, bounding out-degree by √m —
    same plan shape, different orientation key.)  Dup clusters that
    are true cliques show up here; chains (A~B~C without A~C) do not
    — the clique-ness signal of a near-dup cluster.
    """
    # the edge list is consumed THREE times (e, bc, ac) — pin it so an
    # expensive upstream pair-generation pipeline (e.g. jaccard_pairs'
    # shingle join + verify) executes once, not once per join branch
    # (plan audit showed 25 scans / 50 exchanges for the near-dup
    # triangle query without this)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    bc = e.select(F.col("a").alias("_b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("_a2"), F.col("b").alias("_c2"))
    return (
        e.join(bc, e.b == bc._b)
        .join(ac, (F.col("a") == F.col("_a2")) & (F.col("c") == F.col("_c2")))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("c").alias("doc_c"))
    )
