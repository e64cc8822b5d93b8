"""Connected components — iterative min-label propagation on DataFrames.

The last step of any near-duplicate pipeline: LSH/verification emits
PAIRS, but dedup policy needs CLUSTERS ("keep one doc per duplicate
group"), i.e. connected components of the pair graph.

Algorithm: every node starts labeled with itself; each round, a node
takes the min label among itself and its neighbors; stop when no label
changes. Converges in O(graph diameter) rounds — duplicate clusters are
near-cliques (diameter ≤ ~3), so 3-4 rounds in practice. Each round is
one join + one aggregation, both on the node key.

At 100 TB: this simple propagation is fine for dedup graphs (many tiny
components). For adversarial graphs (long chains, giant components)
:func:`connected_components_star` implements the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) — same groupBy+join-per-round shape,
provably O(log^2 n) rounds, so a path graph that takes min-label
propagation O(n) rounds collapses in a handful. Lineage is truncated
every round via pin() so plans don't grow unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from http_log_anonymizer_spark.operators.materialize import pin


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """(node, cluster) for every node appearing in ``edges``; cluster ==
    min node id of the component. Raises if not converged in max_iter
    (duplicate-cluster graphs converge in a handful of rounds)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.distinct().persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .persist()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("cluster").alias("nb_min"))
        )
        new_labels = pin(  # truncate lineage each round
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(F.col("cluster"), F.coalesce(F.col("nb_min"), F.col("cluster"))).alias(
                    "cluster"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            sym.unpersist()
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: for every node u with full neighborhood
    N(u), connect each LARGER neighbor to m = min(N(u) ∪ {u}). Strictly
    decreases large-to-large edges; keyed by u, so the reduce is a
    groupBy(u).min + join — no neighborhood ever collects into one row
    except as the grouped min, which is a scalar."""
    nbrs = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        nbrs.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward its larger
    endpoint (key u = max), and connect u and each of its smaller
    neighbors to m = min of those neighbors."""
    d = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    m = d.groupBy("a").agg(F.min("b").alias("m"))
    down = d.join(m, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    up = m.select(F.col("a"), F.col("m").alias("b"))
    return down.unionAll(up).filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(node, cluster) via alternating large-star/small-star rounds
    (Kiveris et al., SoCC'14) — the adversarial-graph-safe variant of
    :func:`connected_components`.

    Both operations preserve connectivity and converge jointly to a
    forest of stars rooted at each component's minimum id in
    O(log^2 n) rounds regardless of diameter; min-label propagation
    needs O(diameter) rounds and so degrades on chain-shaped
    components (consistency chains, quote cascades). Per round: two
    groupBy-min aggregations and two equi-joins on the node key —
    shuffle volume proportional to the CURRENT edge set, which
    shrinks monotonically toward one edge per non-root node.

    Convergence detection: the edge set is a fixpoint of
    large∘small. Comparing sets exactly would cost a join, so rounds
    stop when the (count, sum of bounded edge hashes) signature
    repeats — a collision would need two distinct edge sets agreeing
    on both, p < 2^-40 per round; max_iter still backstops.
    """
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    nodes.count()  # build before e is replaced round-over-round

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("c"),
            # bounded per-edge hash: count * 2^31 < 2^63 far past any
            # realistic edge count, so the ANSI-mode sum cannot overflow
            F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1 << 31))).alias("s"),
        ).first()
        return int(row["c"]), int(row["s"] or 0)

    prev = None
    for _ in range(max_iter):
        e = pin(_small_star(_large_star(e)))
        sig = _sig(e)
        if sig == prev:
            break
        prev = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # Fixpoint edges are (child, root) stars; roots have no outgoing
    # edge and label themselves.
    labels = nodes.join(
        e.select(F.col("a").alias("node"), F.col("b").alias("root")), "node", "left"
    ).select("node", F.coalesce("root", "node").alias("cluster"))
    nodes.unpersist()
    return labels
