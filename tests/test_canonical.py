"""Connected-components canonicalization tests (J7b / north-rule CC pass)."""

from pyspark.sql import functions as F

from arekit_r335_spark.operators.canonical import (canonical_nodes,
                                                   connected_components)


def cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    return {r.node: r.component
            for r in connected_components(edges).collect()}


def test_cc_basic_merge(spark):
    comp = cc(spark, [("b", "a"), ("c", "b"), ("x", "y")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_long_chain(spark):
    # chain of 12 nodes: needs multiple propagation rounds
    nodes = [f"n{i:02d}" for i in range(12)]
    comp = cc(spark, list(zip(nodes[:-1], nodes[1:])))
    assert set(comp.values()) == {"n00"}


def test_cc_star_and_cycle(spark):
    pairs = [("hub", f"s{i}") for i in range(20)] + \
            [("c1", "c2"), ("c2", "c3"), ("c3", "c1")]
    comp = cc(spark, pairs)
    assert all(comp[f"s{i}"] == "c1" or comp[f"s{i}"] == "hub"
               for i in range(20))
    assert len({comp[f"s{i}"] for i in range(20)} | {comp["hub"]}) == 1
    assert comp["c1"] == comp["c2"] == comp["c3"] == "c1"


def test_cc_partition_invariance(spark):
    pairs = [(f"a{i}", f"a{i+1}") for i in range(30)]
    e1 = spark.createDataFrame(pairs, "src string, dst string").repartition(1)
    e2 = spark.createDataFrame(pairs, "src string, dst string").repartition(7)
    c1 = {r.node: r.component for r in connected_components(e1).collect()}
    c2 = {r.node: r.component for r in connected_components(e2).collect()}
    assert c1 == c2


def test_canonical_nodes_rollup(spark):
    mentions = spark.createDataFrame(
        [("c1", "usa", "g0"), ("c1", "america", "g0"),
         ("c2", "dm", "u:dm"), ("c2", "deepmind", "u:deepmind")],
        "conv_id string, value string, group_key string")
    comps = spark.createDataFrame(
        [("u:dm", "u:deepmind"), ("u:deepmind", "u:deepmind")],
        "node string, component string")
    nodes = {r.canon_id: (list(r.group_keys), r.n_mentions)
             for r in canonical_nodes(mentions, comps).collect()}
    assert nodes["g0"] == (["g0"], 2)
    assert nodes["u:deepmind"] == (["u:deepmind", "u:dm"], 2) or \
        nodes["u:deepmind"][1] == 2


def test_cc_stops_at_first_round_without_change(spark, monkeypatch):
    """The fixpoint test rides on each round's checkpoint: a diameter-1
    graph converges in round 1 and stops after round 2 changes nothing,
    with no overshoot rounds."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    ckpt = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        calls.append(self.columns)
        return ckpt(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    assert cc(spark, [("x", "y")]) == {"x": "x", "y": "x"}
    # one checkpoint each for the symmetric edge list and the initial
    # labels, then one per propagation round
    assert calls[0] == ["a", "b"]
    rounds = len(calls) - 2
    assert rounds == 2
