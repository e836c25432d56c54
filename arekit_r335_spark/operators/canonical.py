"""J7b — cross-corpus entity canonicalization: connected components over
synonym-group keys (iterative DataFrame joins with checkpointing), per the
north rule and SURVEY.md §4 items 1-2.

Reference semantics being generalized: ``SynonymsCollection`` merges values
into groups via shared sids (``common/synonyms/base.py:109-126`` — a value
registered into a later group re-points its sid) and open-world registration
creates singleton groups (``grouping.py:8-15``). At corpus scale, alias
evidence (same sid in two groups, explicit alias pairs) forms a graph whose
connected components are the canonical nodes of the knowledge graph.

Algorithm: iterative min-label propagation —
    comp(v) <- min(comp(v), min over neighbors u of comp(u))
until fixpoint. Each iteration is one shuffle join + aggregation, and its
eager ``localCheckpoint()`` truncates the growing lineage (required for
iterative DataFrame loops). The fixpoint test rides on that checkpoint: an
``Observation`` counts the nodes whose label dropped, so the loop stops at
the first iteration that changes nothing, with no extra job. A celebrity
node with millions of alias edges does not pin one reducer: ``min`` is
partially aggregated on the map side, so each node reaches its reducer at
most once per map task (AQE skew-join handles the join side). Iterations
are bounded by the component diameter plus one, which for entity-alias
graphs is tiny; ``max_iter`` guards pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(src, dst) [string node ids, undirected interpretation] ->
    (node, component) with component = min node id of the component."""
    sym = (edges.selectExpr("src AS a", "dst AS b")
           .unionByName(edges.selectExpr("dst AS a", "src AS b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .localCheckpoint())

    comp = (sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint())

    for _ in range(max_iter):
        # neighbor's current component flows across each edge
        nbr = (sym.join(comp.withColumnRenamed("node", "b")
                        .withColumnRenamed("component", "nbr_comp"), "b")
               .select(F.col("a").alias("node"), F.col("nbr_comp")))
        candidate = nbr.groupBy("node").agg(F.min("nbr_comp").alias("nbr_min"))

        changed = Observation()
        comp = (comp.join(candidate, "node", "left")
                .observe(changed, F.count(F.when(
                    F.col("nbr_min") < F.col("component"), 1))
                    .alias("n"))
                .select("node",
                        F.least(F.col("component"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("component")))
                        .alias("component"))
                .localCheckpoint())
        if changed.get["n"] == 0:
            break
    return comp


def group_alias_edges(mentions: DataFrame, aliases: DataFrame | None,
                      seed_df: DataFrame) -> DataFrame:
    """Edge list over group keys:

    * every group key is a node (self-edges filtered later);
    * explicit alias pairs (value_a, value_b) connect the groups the two
      values resolve to (seed lookup, else the open-world ``u:`` key).
    """
    from .grouping import with_group_key

    if aliases is None:
        return mentions.sparkSession.createDataFrame(
            [], "src string, dst string")
    a = aliases.withColumn("value", F.lower("value_a"))
    a = with_group_key(a, seed_df, "value", "src")
    a = a.withColumn("value", F.lower("value_b"))
    a = with_group_key(a, seed_df, "value", "dst")
    return a.select("src", "dst")


def canonical_nodes(mentions: DataFrame, components: DataFrame) -> DataFrame:
    """Canonical node table (S12): one row per component with its member
    groups/values. Groups never touched by an edge stay their own component."""
    m = mentions.join(components.withColumnRenamed("node", "group_key"),
                      "group_key", "left")
    m = m.withColumn("canon_id",
                     F.coalesce(F.col("component"), F.col("group_key")))
    return (m.groupBy("canon_id")
            .agg(F.array_sort(F.collect_set("group_key")).alias("group_keys"),
                 F.array_sort(F.collect_set("value")).alias("values"),
                 F.count("*").cast("long").alias("n_mentions")))


def canonicalize_triples(triples: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite triple group keys to canonical component ids (edges table of
    the graph sink)."""
    s = components.withColumnRenamed("node", "s_group") \
                  .withColumnRenamed("component", "s_canon")
    t = components.withColumnRenamed("node", "t_group") \
                  .withColumnRenamed("component", "t_canon")
    out = (triples
           .join(F.broadcast(s), "s_group", "left")
           .join(F.broadcast(t), "t_group", "left"))
    return (out
            .withColumn("s_canon", F.coalesce("s_canon", "s_group"))
            .withColumn("t_canon", F.coalesce("t_canon", "t_group")))
