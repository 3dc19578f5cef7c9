"""Unit tests for CCT operators on small synthetic frames.

Covers the subtle reference semantics that the XML golden tests can't
isolate: the ratio-of-parent walk-up rule (skip ancestors with smaller
values, hpctoolkit_dataframe.py:368-371) and per-profile isolation of
the joins (engine extension — reference is single-profile only).
"""

import pytest
from pyspark.sql import functions as F

from hpctoolkit_dataframe_spark.operators import cct


@pytest.fixture(scope="module")
def tree(spark):
    # value is NON-monotone: node 3 (value 50) > its parent 2 (value 10),
    # so the walk-up must skip node 2 and land on node 1 (value 100).
    rows = [
        # (profile, id, callpath, value)
        ("p1", -1, [], 100.0),
        ("p1", 1, [1], 100.0),
        ("p1", 2, [1, 2], 10.0),
        ("p1", 3, [1, 2, 3], 50.0),
        ("p1", 4, [1, 2, 3, 4], 5.0),
        # p2 has the same ids but different values — must not leak into p1
        ("p2", -1, [], 1000.0),
        ("p2", 1, [1], 1.0),
        ("p2", 2, [1, 2], 1.0),
        ("p2", 3, [1, 2, 3], 1.0),
        ("p2", 4, [1, 2, 3, 4], 1.0),
    ]
    return spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")


def _by_id(rows, profile="p1"):
    return {r["id"]: r for r in rows if r["profile_id"] == profile}


def test_ratio_of_total_per_profile(tree):
    out = cct.with_ratio_of_total(tree, "value", "r",
                                  partition_cols=["profile_id"]).collect()
    p1 = _by_id(out)
    assert p1[-1]["r"] == 1.0
    assert p1[3]["r"] == 0.5
    p2 = _by_id(out, "p2")
    assert p2[3]["r"] == pytest.approx(0.001)


def test_ratio_of_parent_walk_up(tree):
    out = cct.with_ratio_of_parent(tree, "value", "r",
                                   partition_cols=["profile_id"]).collect()
    p1 = _by_id(out)
    assert p1[-1]["r"] == 1.0          # root resolves to itself (:369-374)
    assert p1[1]["r"] == 1.0           # 100/100
    assert p1[2]["r"] == pytest.approx(0.1)    # 10/100
    # walk-up: parent (10) < own (50) -> skip to node 1 (100)
    assert p1[3]["r"] == pytest.approx(0.5)
    assert p1[4]["r"] == pytest.approx(0.1)    # 5/50 via parent 3
    # p2 values unaffected by p1's identical ids
    p2 = _by_id(out, "p2")
    assert p2[2]["r"] == pytest.approx(1.0)    # 1/1 (parent qualifies)


def test_ratio_of_parent_no_qualifying_ancestor(spark):
    # child larger than every ancestor -> the walk terminates at the root
    # and uses it regardless (reference loop structure :368-382)
    rows = [("p", -1, [], 10.0), ("p", 1, [1], 5.0), ("p", 2, [1, 2], 99.0)]
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    out = _by_id(cct.with_ratio_of_parent(
        df, "value", "r", partition_cols=["profile_id"]).collect(), "p")
    assert out[2]["r"] == pytest.approx(9.9)


def test_hot_edges_rank(tree):
    ranked = cct.hot_edges(tree, "value", partition_cols=["profile_id"])
    top = {(r["profile_id"], r["id"]): r["__rank"]
           for r in ranked.collect()}
    assert top[("p1", 2)] == 1   # only child of 1
    assert top[("p1", 3)] == 1
    # p2 children of same parents rank independently
    assert top[("p2", 2)] == 1


def test_at_paths_prefix_suffix(tree):
    assert cct.at_paths(tree, prefix=(1, 2)).count() == 6  # 3 per profile
    ids = sorted(r["id"] for r in
                 cct.at_paths(tree, suffix=(2, 3)).collect())
    assert ids == [3, 3]
    assert cct.at_paths(tree).count() == 10


def test_ratio_of_parent_null_ancestor_stops_walk(spark):
    """Reference `base < value` loop: an existing ancestor whose value is
    NaN stops the walk (NaN < x is False) and yields NaN — NOT a
    continued walk to a shallower non-null ancestor (ADVICE r1)."""
    rows = [
        ("p1", -1, [], 10.0),
        ("p1", 1, [1], None),        # no metric at this ancestor
        ("p1", 2, [1, 2], 5.0),
        ("p1", 3, [1, 2, 3], 4.0),
    ]
    df = spark.createDataFrame(
        rows, "profile_id string, id long, callpath array<long>, value double")
    for threshold in (0, 1000):  # distributed path and collect path
        out = {r["id"]: r["r"] for r in cct.with_ratio_of_parent(
            df, "value", "r", partition_cols=["profile_id"],
            collect_threshold=threshold).collect()}
        assert out[-1] == 1.0
        assert out[1] is None                      # own value null
        assert out[2] is None, threshold           # parent null -> stop
        assert out[3] == pytest.approx(0.8), threshold  # 4/5, never sees 1


def test_fragment_contiguity_semantics(spark):
    """contains_fragment matches CONTIGUOUS subsequences only: both
    elements present but separated must NOT match; order matters;
    short paths never match; at_paths itself still refuses fragments
    (the reference's pinned behavior)."""
    import pytest
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark.functions.callpath import \
        contains_fragment
    from hpctoolkit_dataframe_spark.operators import cct as ops

    df = spark.createDataFrame(
        [(1, [3, 17, 99]), (2, [3, 5, 17]), (3, [17, 3]),
         (4, [3]), (5, [99, 3, 17])],
        "id long, callpath array<long>")
    got = sorted(r.id for r in df.filter(
        contains_fragment((3, 17))).collect())
    assert got == [1, 5]  # 2: separated, 3: wrong order, 4: too short
    assert df.filter(contains_fragment(())).count() == 5  # empty passes
    multi = ops.at_path_fragments(df, (3, 17), (99,))
    assert sorted(r.id for r in multi.collect()) == [1, 5]
    with pytest.raises(NotImplementedError):
        ops.at_paths(df, (3, 17))


def _ratios(df, **kw):
    """{(profile, id): ratio} of the walk-up on ``value``."""
    return {(r["profile_id"], r["id"]): r["r"]
            for r in cct.with_ratio_of_parent(
                df, "value", "r", partition_cols=["profile_id"],
                **kw).collect()}


def test_distributed_walkup_equals_in_memory_walk(spark, tree):
    """The distributed (depth, callpath tail) walk-up must reproduce the
    independent in-memory walk bit-for-bit — on the non-monotone sf0.001
    CCT (real tree, avg-leaf metric), on the synthetic per-profile tree
    with its skip-smaller-ancestor branch, and on a tree whose root id
    is 0: the root is found at depth 0 whatever its id."""
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = build_cct(spark, "/root/testdata/sf0.001").withColumn(
        "avg_leaf", F.col("value").cast("double") / F.col("leaves"))
    dist = cct.with_ratio_of_parent(
        df, "avg_leaf", "r", carry_cols=("depth",), persist_input=False)
    walk = cct.with_ratio_of_parent(
        df, "avg_leaf", "r", collect_threshold=10**6)
    a = {r["id"]: (r["depth"], r["r"]) for r in dist.collect()}
    b = {r["id"]: (r["depth"], r["r"]) for r in walk.collect()}
    assert a == b and len(a) > 100
    # per-profile isolation + carry=None join-back shape
    assert _ratios(tree) == _ratios(tree, collect_threshold=10**6)
    root0 = spark.createDataFrame([
        ("p1", 0, [], 100.0),
        ("p1", 1, [1], 80.0),
        ("p1", 2, [1, 2], 10.0),
        ("p1", 3, [1, 2, 3], 50.0),
        ("p2", 0, [], 10.0),
        ("p2", 1, [1], 20.0),
    ], "profile_id string, id long, callpath array<long>, value double")
    got = _ratios(root0)
    assert got == _ratios(root0, collect_threshold=10**6)
    assert got[("p1", 0)] == 1.0 and got[("p1", 1)] == pytest.approx(0.8)
    assert got[("p1", 3)] == pytest.approx(0.625)  # 50/80, skips node 2
    assert got[("p2", 1)] == pytest.approx(2.0)    # no stopper: the root


def test_parent_join_equals_walkup_on_monotone_value(spark):
    """On a metric monotone up the tree (the rollup SUM ``value``) the
    walk stops at the immediate parent, so the plain parent join
    (walk_up=False) must return exactly the walk-up result — the claim
    cct_ratio_of_parent's oracle hash also proves at two SFs."""
    from hpctoolkit_dataframe_spark.queries.cct_tpch import build_cct

    df = build_cct(spark, "/root/testdata/sf0.001")
    parent = cct.with_ratio_of_parent(
        df, "value", "r", carry_cols=("depth",), persist_input=False,
        walk_up=False)
    walk = cct.with_ratio_of_parent(
        df, "value", "r", carry_cols=("depth",), persist_input=False)
    a = {r["id"]: (r["depth"], r["r"]) for r in parent.collect()}
    b = {r["id"]: (r["depth"], r["r"]) for r in walk.collect()}
    assert a == b and len(a) > 100


def test_deepest_aggregate_maxby_semantics(spark):
    """r13: the walk-up's deepest-stopper aggregate moved from
    max(struct(d, v)) (SortAggregate — not hash-aggregable) to
    max_by(v, d) (codegen HashAggregate).  Pin the equivalence on the
    exact edge the old comment feared: a NULL value at the DEEPEST
    ordering must come back NULL, not a shallower non-null."""
    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None),
         (2, 0, 5.0), (2, 2, 7.0),
         (3, 1, None), (3, 0, None)],
        "g int, d int, v double")
    struct_max = {r["g"]: r["v"] for r in df.groupBy("g").agg(
        F.max(F.struct(F.col("d").alias("d"), F.col("v").alias("v")))["v"]
        .alias("v")).collect()}
    maxby = {r["g"]: r["v"] for r in df.groupBy("g").agg(
        F.max_by("v", "d").alias("v")).collect()}
    assert struct_max == maxby == {1: None, 2: 7.0, 3: None}
    # and the planned exec really is hash-based (the point of the change)
    plan = df.groupBy("g").agg(F.max_by("v", "d"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan
