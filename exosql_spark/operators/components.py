"""Connected components over candidate-pair edges — upgrades pairwise
near-dup output (min-representative convention) to true duplicate
CLUSTERS (transitive closure: A~B, B~C ⇒ {A,B,C} even when A≁C).

Algorithm: iterative min-label propagation (the standard large-graph
approach when a Pregel framework isn't available):

  label(v) ← min(label(v), min over neighbors label(u))

repeated until fixpoint. Each iteration is two hash joins on the edge
list; lineage is cut with localCheckpoint every iteration so the plan
doesn't grow (iterative DataFrame algorithms otherwise compile
exponentially). Converges in O(diameter) iterations — dedup graphs
are unions of near-cliques, so diameter is tiny (2-4).

At 100 TB the edge list (near-dup candidate pairs) is vastly smaller
than the corpus; this runs on pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int | None = None,
) -> DataFrame:
    """Return (id, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair listed once, either
    order). Nodes with no edges are not returned (callers union
    singletons if needed).

    Iterates to the fixpoint by default (labels decrease monotonically,
    so termination is guaranteed in ≤ diameter rounds; the loop
    early-exits the round nothing changes). ``max_iterations`` caps the
    rounds for callers that prefer bounded work over full transitivity
    — note a cap below the graph diameter returns partially-propagated
    labels (this silently happened with the old default of 20 on
    chains longer than 20 hops; found by the large-star/small-star
    equivalence test). For diameter-heavy graphs prefer
    :func:`connected_components_star`, whose round count is
    O(log² n) regardless of diameter."""
    from pyspark.sql import Observation

    from exosql_spark.operators.iterative import loop_conf, loop_partitions

    # symmetrize once: propagate both directions; the row counts ride
    # the two init checkpoints via observe (r19, zero extra jobs) to
    # size the iteration scope's partitions
    obs_e = Observation("cc_edges")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .observe(obs_e, F.count(F.lit(1)).alias("n2e"))
        .localCheckpoint()
    )
    # Convergence check riding each generation's checkpoint job via
    # observe (the kcore pattern: no convergence job of its own): each
    # round carries the previous label through the same aggregation and
    # counts the ids whose label moved, so any orderable id type works.
    id_type = e.schema["u"].dataType
    obs0 = Observation("cc_init")
    labels = (
        e.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .observe(obs0, F.count(F.lit(1)).alias("nv"))
        .localCheckpoint()
    )
    nv = int(obs0.get["nv"] or 0)
    n2e = int(obs_e.get["n2e"] or 0)
    spark = edges.sparkSession
    p_loop, _ = loop_partitions(spark, max(nv, n2e))
    rounds = 0
    with loop_conf(spark, p_loop):
        while max_iterations is None or rounds < max_iterations:
            rounds += 1
            # candidate labels arriving over edges
            incoming = (
                e.join(
                    labels.withColumnRenamed("id", "v2"), e.v == F.col("v2")
                )
                .select(F.col("u").alias("id"), "component")
            )
            obs = Observation(f"cc_{rounds}")
            labels = (
                labels.withColumn("_prev", F.col("component"))
                .union(incoming.withColumn("_prev", F.lit(None).cast(id_type)))
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.min("_prev").alias("_prev"),
                )
                .observe(
                    obs,
                    F.count_if(F.col("component") != F.col("_prev")).alias("changed"),
                )
                .drop("_prev")
                .localCheckpoint()
            )
            if obs.get["changed"] == 0:
                break
    return labels


def _symmetrize(e: DataFrame) -> DataFrame:
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (attach strictly-larger neighbors to the
    neighborhood min) or small-star (attach ≤ neighbors and self)
    round over a symmetrized edge frame."""
    mins = e.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least(F.col("_mv"), F.col("u")).alias("m")
    )
    joined = e.join(mins, "u")
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = joined.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(mins.select("u", F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — same contract as :func:`connected_components`
    ((id, component = min reachable id), edgeless nodes omitted), but
    convergence takes O(log² n) rounds INDEPENDENT of graph diameter:
    each round's pointer-halving collapses chains geometrically, where
    min-label propagation moves the label ONE hop per join. On dedup
    graphs (near-clique unions, diameter 2–4) the default label
    propagation wins on constant factors; this is the 100 TB escape
    hatch for adversarial long-chain graphs (diameter ~n chains make
    O(diameter) joins unusable). Equivalence on chains, cliques and
    random graphs is asserted in tests/test_operators.py.

    Per round: two groupBy-min aggregations + two joins on the edge
    list, lineage cut with localCheckpoint; termination = edge-set
    fixpoint (the graph has collapsed into depth-1 stars)."""
    from pyspark.sql import Observation

    from exosql_spark.operators.iterative import loop_conf, loop_partitions

    obs_n = Observation("ccs_nodes")
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .observe(obs_n, F.count(F.lit(1)).alias("nv"))
        .localCheckpoint()
    )
    obs_e = Observation("ccs_edges")
    e = (
        _symmetrize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
        .observe(obs_e, F.count(F.lit(1)).alias("ne"))
        .localCheckpoint()
    )
    nv = int(obs_n.get["nv"] or 0)
    ne = int(obs_e.get["ne"] or 0)
    spark = edges.sparkSession
    # r19 iteration scope (see operators.iterative); the star rounds'
    # set-equality convergence check stays — edge-set equality is not
    # a per-row aggregate the way label propagation's changed count is
    p_loop, _ = loop_partitions(spark, max(nv, ne))
    converged = False
    with loop_conf(spark, p_loop):
        for _ in range(max_iterations):
            out = _star_round(
                _symmetrize(_star_round(_symmetrize(e), True)), False
            )
            out = out.localCheckpoint()
            changed = (
                out.exceptAll(e).limit(1).count()
                + e.exceptAll(out).limit(1).count()
            )
            e = out
            if changed == 0:
                converged = True
                break
    if not converged:
        # Without the fixpoint, e is NOT a depth-1 star forest and the
        # final join would emit conflicting duplicate (id, component)
        # rows — fail loudly instead of returning corrupt clusters
        # (the same silent-truncation class the old label-propagation
        # cap had; see connected_components' docstring).
        raise RuntimeError(
            f"connected_components_star: no fixpoint within "
            f"{max_iterations} rounds — raise max_iterations "
            f"(each round is O(log) pointer-halving, so this bound is "
            f"generous for any real graph)"
        )
    # fixpoint edges are depth-1 stars (u, center): every non-center
    # node points at its component min; centers map to themselves.
    return nodes.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per duplicate CLUSTER; rows
    that appear in no pair are kept as-is. ``pairs`` columns: id_a,
    id_b (e.g. minhash_dedup_pairs output)."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
