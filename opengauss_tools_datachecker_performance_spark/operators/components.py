"""Connected components over near-duplicate pair graphs + survivor
selection — the step that turns pair lists (minhash / ngram / simhash
/ embedding near-dup operators) into an actual dedup DECISION: which
documents form one duplicate cluster, and which single document
survives per cluster.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", ACM SoCC 2014), the published shuffle-native formulation:

* large-star(u): connect every neighbor larger than u to
  m = min(N(u) ∪ {u})
* small-star(u): orient edges toward the smaller endpoint, connect
  every smaller neighbor (and u) to the minimum

Each round is two groupBy-min aggregations plus joins — no
collect_list neighbor arrays, no driver-side graph, so a hot node
(mega-cluster hub) is handled by the shuffle's own partial
aggregation: large-star is itself the skew-splitting step (a
high-degree node's edges re-attach to the component minimum and its
neighborhood deflates geometrically). Converges in O(log n) rounds;
near-dup clusters (small diameter) converge in 2-3.

Scale notes (10^12 docs):
* every round ends in an eager local checkpoint
  (``session.checkpointed``, released with the caller's cache scope)
  — iterative DataFrame loops otherwise accumulate lineage until
  analysis cost dominates; on a real cluster prefer
  ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for
  fault-tolerant truncation (localCheckpoint trades replay safety
  for speed, which is the right sandbox default).
* convergence is detected with an O(1)-row checksum
  (count + bit_xor of xxhash64(a,b)) — never a driver collect of
  the edge set.
* component ids are the lexicographic MIN member id (string
  comparison — identical in Spark UTF8-binary and DuckDB VARCHAR
  ordering for the ASCII ids used here), so results are
  deterministic and oracle-checkable.

The reference has no near-dup layer (its diff keys are exact); this
module belongs to the LLM-training-pipeline extensions
(SURVEY.md §2 "beyond-reference ops") alongside operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opengauss_tools_datachecker_performance_spark.session import checkpointed


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over canonical (a, b) string edges."""
    sym = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("mn", "a").alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over canonical (a, b) string edges."""
    oriented = (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # every b < a, so the group minimum is already < a
    j = oriented.join(oriented.groupBy("a").agg(F.min("b").alias("m")), "a")
    to_min = j.select(F.col("b").alias("a"), F.col("m").alias("b")).where(
        F.col("a") != F.col("b")
    )
    self_edge = j.select("a", F.col("m").alias("b")).distinct()
    return to_min.union(self_edge).distinct()


def _signature(edges: DataFrame):
    """O(1)-row order-insensitive checksum of an edge set."""
    return edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("x"),
    ).first()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """→ (id:string, component:string) for every node that appears in
    ``edges``; ``component`` is the lexicographic-min member id.
    Isolated documents never enter the pair graph, so they are not
    emitted (a dedup pipeline treats absent ids as singleton
    survivors)."""
    e = checkpointed(
        edges.select(
            F.col(src).cast("string").alias("a"),
            F.col(dst).cast("string").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = checkpointed(
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
    )
    sig = _signature(e)
    for _ in range(max_iter):
        e = checkpointed(_small_star(_large_star(e)))
        nxt = _signature(e)
        if nxt == sig:
            break
        sig = nxt
    # converged: e is a star set (child → component-min root). The
    # groupBy-min is a safety net for a max_iter bailout where a node
    # could still hold two parents.
    stars = e.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("component"))
    return (
        nodes.join(stars, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def dedup_survivors(
    labels: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pick one survivor per duplicate cluster: the longest text,
    ties broken by smallest id (both deterministic and
    SQL-mirrorable). → (component, survivor_id, n_members,
    survivor_len). ``labels`` is connected_components output; ``docs``
    supplies the ranking features.

    Deliberately NOT a row_number window: a boilerplate cluster can
    hold millions of members, and a window must SORT that one
    component's whole group in a single task. min(struct(-len, id))
    is the same (longest, then smallest-id) choice as a partial-
    aggregated, map-side-combining, skew-tolerant groupBy — the
    removal_plan discipline (operators/substring_dedup.py)."""
    j = labels.join(
        docs.select(
            F.col(id_col).cast("string").alias("id"),
            # NULL text counts as length 0: struct-MIN orders a NULL
            # field BEFORE any value, so an unguarded length would
            # elect a null-text doc survivor over real text
            F.coalesce(F.length(text_col), F.lit(0)).cast("long").alias(
                "text_len"
            ),
        ),
        "id",
    )
    best = F.min(
        F.struct(
            (-F.col("text_len")).alias("neg_len"), F.col("id").alias("id")
        )
    ).alias("_best")
    return (
        j.groupBy("component")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "component",
            F.col("_best.id").alias("survivor_id"),
            F.col("n_members").cast("long").alias("n_members"),
            (-F.col("_best.neg_len")).cast("long").alias("survivor_len"),
        )
    )


def cluster_size_histogram(labels: DataFrame) -> DataFrame:
    """Cluster-size distribution of a components labeling →
    (cluster_size, n_clusters): how many near-dup clusters have 2
    members, 3 members, ... — the shape dedup reports lead with.
    Two partial aggregates (size per component, then count per size);
    no per-cluster member arrays anywhere."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
