"""Golden-value parity with the reference (FIXTURES.md §3 captures)."""

import pyspark.sql.functions as F
import pytest

from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame
from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments

from .conftest import EXPERIMENT1, EXPERIMENT2


@pytest.fixture(scope="module")
def exp1(spark):
    h = HPCtoolkitDataFrame(path=EXPERIMENT1, spark=spark)
    h._df = h._df.cache()
    h._df.count()
    yield h
    h._df.unpersist()


def test_shape_and_types(exp1):
    assert exp1.count() == 3454
    # 24 metric + 9 location + 2 ratio = 33 reference columns (+ profile_id)
    assert len(exp1.columns) == 34
    counts = dict(exp1.df.groupBy("type").count().collect())
    assert counts == {"statement": 1450, "loop": 1409,
                      "procedure frame": 594, "root": 1}
    assert exp1.df.select(F.max(F.size("callpath"))).first()[0] == 25


def test_percentage_election(exp1):
    assert exp1.metadata.meaningful_columns["percentage"] == \
        "CPUTIME (usec):Mean (I)"


def test_root_fix(exp1):
    root = exp1.df.filter(F.size("callpath") == 0).select(
        F.col("`CPUTIME (usec):Sum (I)`").alias("i"),
        F.col("`CPUTIME (usec):Sum (E)`").alias("e")).first()
    assert root["i"] == root["e"] == 72135600.0


def test_hot_path_golden_chain(exp1):
    hp = exp1.hot_path()
    rows = hp.select("id", "callpath").collect()
    ids = [r["id"] for r in sorted(rows, key=lambda r: len(r["callpath"]))]
    assert ids == [-1, 2, 4, 6, 797, 798, 813, 1456, 1477, 1479, 1512,
                   1547, 1548, 1549, 1563, 1679, 1690, 1916]
    deepest = hp.df.filter(F.col("id") == 1916).select(
        F.round(F.col("`CPUTIME (usec):Mean (I) ratio of total`"), 6)).first()[0]
    assert deepest == 0.228872


def test_filters_golden(exp1):
    assert exp1.at_depth(2).count() == 1
    assert exp1.at_paths(prefix=(2, 4)).count() == 3452
    assert [r["id"] for r in
            exp1.at_paths(suffix=(813,)).select("id").collect()] == [813]


def test_fragments_not_implemented(exp1):
    with pytest.raises(NotImplementedError):
        exp1.at_paths((1, 2))


def test_metadata_propagates_through_transformations(exp1):
    sliced = exp1.at_depth(3).compact
    assert sliced.metadata is exp1.metadata
    assert sliced.metadata.meaningful_columns["hot_path"] == \
        "CPUTIME (usec):Mean (I) ratio of total"
    filtered = exp1.filter(F.col("type") == "loop")
    assert isinstance(filtered, HPCtoolkitDataFrame)
    assert filtered.metadata is exp1.metadata


def test_column_order_matches_reference(exp1):
    # reference layout (hpctoolkit_dataframe.py:190-198, 354, 385):
    # metrics sorted by id, both ratio columns right after the elected
    # percentage column, then the location columns
    meta = exp1.metadata
    metrics = [name for _, name in sorted(meta.metrics_by_id.items())]
    pct = meta.meaningful_columns["percentage"]
    i = metrics.index(pct) + 1
    expected = (metrics[:i]
                + [pct + " ratio of total", pct + " ratio of parent"]
                + metrics[i:]
                + ["callpath", "module path", "module", "file path", "file",
                   "line", "procedure", "id", "type"])
    assert exp1.columns[:len(expected)] == expected
    assert exp1.columns[len(expected):] == ["profile_id"]  # engine extension


def test_max_depth_zero_root_only(spark):
    df, _ = load_experiments(spark, EXPERIMENT1, max_depth=0,
                             add_percentage_columns=False)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == -1 and rows[0]["type"] == "root"


def test_max_depth_pushdown(spark):
    df, _ = load_experiments(spark, EXPERIMENT1, max_depth=4,
                             add_percentage_columns=False)
    hist = dict(df.groupBy(F.size("callpath").alias("d")).count().collect())
    assert hist == {0: 1, 1: 1, 2: 1, 3: 1, 4: 3}


def test_callsite_included(spark):
    df, _ = load_experiments(spark, EXPERIMENT1, max_depth=5,
                             skip_callsite=False,
                             add_percentage_columns=False)
    counts = dict(df.groupBy("type").count().collect())
    assert counts == {"procedure frame": 3, "callsite": 2, "root": 1}


def test_experiment2_fallback_election(spark):
    h = HPCtoolkitDataFrame(path=EXPERIMENT2, spark=spark)
    h._df = h._df.cache()
    assert h.count() == 2854
    assert h.metadata.meaningful_columns["percentage"] == "PAPI_MEM_WCY:Mean (I)"
    hp = h.hot_path()
    rows = hp.select("id", "callpath").collect()
    ids = [r["id"] for r in sorted(rows, key=lambda r: len(r["callpath"]))]
    assert ids == [-1, 2, 4, 497, 573, 1588, 2029, 2555, 2557, 2880, 2933,
                   2935, 2987, 3209, 3211, 3236]
    h._df.unpersist()


def test_complex_metric_imag_golden(spark):
    # SURVEY §7 hard part: cmath.sqrt in StdDev finalize formulas makes
    # 1784/3454 experiment1 rows complex-valued (FIXTURES.md §3); the
    # engine materializes companion "<name> (imag)" columns on request
    df, meta = load_experiments(spark, EXPERIMENT1, with_imag=True,
                                add_percentage_columns=False)
    imag_cols = [c for c in df.columns if c.endswith(" (imag)")]
    assert imag_cols  # StdDev/CfVar metrics have sqrt formulas
    col = "CPUTIME (usec):StdDev (I) (imag)"
    assert col in df.columns
    assert df.filter(F.col(f"`{col}`") > 0).count() == 1784
    # real part is 0 where imag is nonzero (pure-imaginary sqrt)
    mixed = df.filter(
        (F.col(f"`{col}`") > 0)
        & (F.col("`CPUTIME (usec):StdDev (I)`") != 0.0)).count()
    assert mixed == 0


def test_unknown_element_raises(spark, tmp_path):
    # reference contract: unrecognized measurement tags raise
    # NotImplementedError (hpctoolkit_dataframe.py:260-264)
    bad = tmp_path / "bad.xml"
    bad.write_text("""<?xml version="1.0"?>
<HPCToolkitExperiment version="2.1">
<SecCallPathProfile i="0" n="bad">
<SecHeader>
  <MetricTable><Metric i="2" n="T:Mean (I)" v="raw" t="inclusive"/></MetricTable>
  <LoadModuleTable/><FileTable/>
  <ProcedureTable><Procedure i="1" n="main"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>
  <M n="2" v="5"/>
  <Mystery i="7"><M n="2" v="1"/></Mystery>
</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>""")
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (
        parse_experiment_rows,
    )

    with pytest.raises(NotImplementedError):
        parse_experiment_rows(bad.read_bytes(), str(bad))
    # small-input fast path parses driver-side -> raises eagerly at load
    with pytest.raises(NotImplementedError):
        load_experiments(spark, str(bad), add_percentage_columns=False)
    # and through the distributed path (forced by exceeding the fast
    # path's file limit) the task error surfaces at execution
    import shutil

    for i in range(9):
        shutil.copy(bad, tmp_path / f"bad{i}.xml")
    df, _ = load_experiments(spark, str(tmp_path / "bad*.xml"),
                             add_percentage_columns=False)
    with pytest.raises(Exception):
        df.collect()


def test_on_error_skip_fleet_mode(spark, tmp_path):
    # a corrupt file alongside a good one: 'skip' keeps the good rows
    import shutil

    good = tmp_path / "exp_good.xml"
    shutil.copy(EXPERIMENT1, good)
    (tmp_path / "exp_corrupt.xml").write_text("<not-valid-xml")
    df, _ = load_experiments(spark, str(tmp_path / "exp_*.xml"),
                             add_percentage_columns=False, on_error="skip")
    assert df.count() == 3454
    assert df.select("profile_id").distinct().count() == 1


def test_multi_file_load(spark):
    # engine extension: many experiments in one frame via profile_id
    df, _ = load_experiments(spark, EXPERIMENT1.replace("experiment1", "experiment[1]"),
                             add_percentage_columns=False)
    assert df.select("profile_id").distinct().count() == 1


def test_cct_xml_ingest_gate_fixture(spark):
    """The driver-gate ingest query must keep matching the captured
    reference fixture (tools/make_ingest_fixture.py) row-count-wise;
    cell-exactness is enforced by oracle_check / the driver itself."""
    import os

    from hpctoolkit_dataframe_spark.queries import REGISTRY
    from hpctoolkit_dataframe_spark.queries.xml_ingest import FIXTURE

    assert os.path.exists(FIXTURE)
    df = REGISTRY["cct_xml_ingest"].fn(spark, "unused")
    rows = df.groupBy("experiment").count().collect()
    counts = {r["experiment"]: r["count"] for r in rows}
    assert counts == {"experiment1": 3454, "experiment2": 2854}


def mini_metric_xml(metric_id):
    """Minimal experiment whose MetricTable has the single id given —
    shared with test_datasource's heterogeneous-rejection twin."""
    return f"""<?xml version="1.0"?>
<HPCToolkitExperiment version="2.1">
<SecCallPathProfile i="0" n="m">
<SecHeader>
  <MetricTable><Metric i="{metric_id}" n="T:Mean (I)" v="raw" t="inclusive"/></MetricTable>
  <LoadModuleTable/><FileTable/>
  <ProcedureTable><Procedure i="1" n="main"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>
  <M n="{metric_id}" v="5"/>
</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>"""


def test_heterogeneous_metric_table_rejected(spark, tmp_path):
    """A glob file whose MetricTable differs from the driver schema must
    error (on_error='fail') or be skipped whole (on_error='skip') — not
    silently NULL-pad / drop metric columns (ADVICE r1)."""
    (tmp_path / "h_a.xml").write_text(mini_metric_xml(2))
    (tmp_path / "h_b.xml").write_text(mini_metric_xml(9))
    glob = str(tmp_path / "h_*.xml")
    with pytest.raises(ValueError, match="MetricTable ids"):
        load_experiments(spark, glob, add_percentage_columns=False)
    df, _ = load_experiments(spark, glob, add_percentage_columns=False,
                             on_error="skip")
    assert df.select("profile_id").distinct().count() == 1


def test_fast_and_distributed_paths_agree(spark, tmp_path):
    """The driver-side fast path (≤8 small files) and the executor
    mapInPandas path must produce identical rows for the same file."""
    import shutil

    for i in range(9):  # 9 files forces the distributed path
        shutil.copy(EXPERIMENT1, tmp_path / f"same_{i}.xml")

    fast, _ = load_experiments(spark, str(tmp_path / "same_0.xml"),
                               add_percentage_columns=False)
    dist, _ = load_experiments(spark, str(tmp_path / "same_*.xml"),
                               add_percentage_columns=False)
    dist0 = dist.filter(
        F.col("profile_id") == str(tmp_path / "same_0.xml"))

    cols = [c for c in fast.columns if c != "profile_id"]
    # sort by id (unique, non-null) — raw tuples contain NULL metrics
    idx = cols.index("id")
    a = sorted((tuple(r) for r in fast.select(*cols).collect()),
               key=lambda t: t[idx])
    b = sorted((tuple(r) for r in dist0.select(*cols).collect()),
               key=lambda t: t[idx])
    assert len(a) == 3454
    assert a == b


def test_fast_path_null_fidelity_without_arrow(spark):
    """VERDICT r5 #1 regression: under a session WITHOUT
    ``spark.sql.execution.arrow.pyspark.enabled`` (the driver's default
    session), the fast path's createDataFrame used to keep pandas NaN as
    float NaN in metric columns (downstream cents became 0 instead of
    NULL) and stringify object-column NaN to 'nan'.  Absent metrics must
    be SQL NULL under ANY session config (reference semantics:
    hpctoolkit_dataframe.py:206-216 fills absent metrics with NaN, which
    maps to NULL in the relational model)."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df, _ = load_experiments(spark, EXPERIMENT1,
                                 add_percentage_columns=False)
        sum_e = "CPUTIME (usec):Sum (E)"
        nulls = df.filter(F.col(f"`{sum_e}`").isNull()).count()
        nans = df.filter(F.isnan(f"`{sum_e}`")).count()
        assert nans == 0, "float NaN leaked through the fast path"
        assert nulls > 0, "expected absent metrics to surface as NULL"
        assert df.filter(F.col("procedure") == "nan").count() == 0
        # experiment2's elected family has real NaN-heavy (E) columns too
        df2, _ = load_experiments(spark, EXPERIMENT2,
                                  add_percentage_columns=False)
        metric_cols = [c for c in df2.columns if c.endswith("(E)")
                       and ":imag:" not in c]
        for c in metric_cols:
            assert df2.filter(F.isnan(f"`{c}`")).count() == 0, c
    finally:
        spark.conf.set(key, prev)


def test_flat_profile_and_callers_view(exp1):
    """The view trio's accounting identities: one structural layer's
    exclusive totals reconstruct the root's inclusive value (each of
    statement/frame covers all samples once; rel tolerance covers the
    source data's own few-microsecond inconsistency), and the callers
    view is a refinement of the flat view (same per-callee totals)."""
    base = "CPUTIME (usec):Sum (E)"
    flat = exp1.flat_profile().collect()
    root_i = exp1.at_depth(0).df.select(
        "`CPUTIME (usec):Sum (I)`").first()[0]
    stmt_total = exp1.df.filter(F.col("type") == "statement").agg(
        F.sum(f"`{base}`")).first()[0]
    assert stmt_total == pytest.approx(root_i, rel=1e-5)
    assert sum(r["n_nodes"] for r in flat) == 3454

    callers = exp1.callers_view().collect()
    assert sum(r["n_sites"] for r in callers) == 3454
    by_callee: dict = {}
    for r in callers:
        k = r["callee"]
        by_callee[k] = by_callee.get(k, 0.0) + (r[base] or 0.0)
    for r in flat:
        assert by_callee.get(r["procedure"], 0.0) == \
            pytest.approx(r[base] or 0.0, rel=1e-9, abs=1e-6)


def test_union_heterogeneous_mixed_fleet(spark):
    """VERDICT r4 #4: the two checked-in fixtures mix MetricTable
    schemas (CPUTIME vs PAPI) — one call loads both, null-padded and
    aligned, each profile keeping its OWN percentage election
    (reference R2 semantics per file)."""
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import (
        LOCATION_COLUMNS, union_heterogeneous)

    df, metas = union_heterogeneous(spark, [EXPERIMENT1, EXPERIMENT2])
    df = df.localCheckpoint(eager=True)
    assert df.count() == 3454 + 2854
    assert len(metas) == 2
    pcts = {m.db_path: m.meaningful_columns["percentage"] for m in metas}
    assert pcts == {EXPERIMENT1: "CPUTIME (usec):Mean (I)",
                    EXPERIMENT2: "PAPI_MEM_WCY:Mean (I)"}
    # layout: group columns first, shared location tail
    assert df.columns[-len(LOCATION_COLUMNS) - 1:] == \
        LOCATION_COLUMNS + ["profile_id"]
    # each profile's root carries 1.0 in ITS ratio-of-total column and
    # NULL in the other group's (null-padding, not zero-filling)
    for m in metas:
        own = m.meaningful_columns["percentage"] + " ratio of total"
        other = next(p for d, p in pcts.items() if d != m.db_path) \
            + " ratio of total"
        root = df.filter((F.col("profile_id") == m.db_path)
                         & (F.col("id") == -1)).first()
        assert root is not None
        assert root[own] == pytest.approx(1.0)
        assert root[other] is None
        # and its metric columns from the other schema are NULL too
        other_base = next(mm for mm in metas if mm.db_path != m.db_path)
        some_other_metric = sorted(other_base.metrics_by_id.values())[0]
        assert root[some_other_metric] is None
    # strict mode unchanged: the same mixed list still errors loudly
    with pytest.raises(ValueError, match="MetricTable ids"):
        load_experiments(spark, [EXPERIMENT1, EXPERIMENT2],
                         add_percentage_columns=False)


# ---------------------------------------------------------------------------
# reference-free loads of a hand-written profile
# ---------------------------------------------------------------------------

MINI_PCT = "CPUTIME (usec):Mean (I)"

# PF/L/S nesting under the root, one callsite (C, spliced: PF 5 hangs off
# PF 1), ``Mean (I) = $2 / $7`` and metrics left out: S 7, L 11 and S 8
# (no $7) have no Mean; S 10 outweighs its parent L 9, so its walk-up
# continues to PF 5; the NULL L 11 stops the walk of S 12.
MINI_CCT_XML = """<?xml version="1.0"?>
<HPCToolkitExperiment version="2.2">
<SecCallPathProfile i="0" n="mini">
<SecHeader>
  <MetricTable>
    <Metric i="2" n="CPUTIME (usec):Sum (I)" v="raw" t="inclusive"/>
    <Metric i="3" n="CPUTIME (usec):Sum (E)" v="raw" t="exclusive"/>
    <Metric i="4" n="CPUTIME (usec):Mean (I)" v="derived-incr" t="inclusive">
      <MetricFormula t="combine" frm="sum($4, $4)"/>
      <MetricFormula t="finalize" frm="$2 / $7"/>
    </Metric>
    <Metric i="7" n="CPUTIME (usec):num-src (I)" v="raw" t="inclusive"/>
  </MetricTable>
  <LoadModuleTable><LoadModule i="0" n="/bin/app"/></LoadModuleTable>
  <FileTable><File i="0" n="./src/main.c"/><File i="1" n="work.c"/></FileTable>
  <ProcedureTable><Procedure i="0" n="main"/><Procedure i="1" n="work"/></ProcedureTable>
</SecHeader>
<SecCallPathProfileData>
<M n="2" v="100"/><M n="7" v="4"/>
<PF i="1" s="0" l="1" lm="0" f="0" n="0"><M n="2" v="100"/><M n="3" v="10"/><M n="7" v="4"/>
  <L i="2" l="5"><M n="2" v="60"/><M n="7" v="4"/>
    <S i="3" l="6"><M n="2" v="60"/><M n="3" v="60"/><M n="7" v="4"/></S>
  </L>
  <C i="4" l="8"><M n="2" v="30"/><M n="7" v="4"/>
    <PF i="5" s="1" l="20" lm="0" f="1" n="1"><M n="2" v="30"/><M n="3" v="5"/><M n="7" v="4"/>
      <S i="6" l="21"><M n="2" v="25"/><M n="3" v="25"/><M n="7" v="4"/></S>
      <S i="7" l="22"/>
      <L i="9" l="23"><M n="2" v="4"/><M n="7" v="4"/>
        <S i="10" l="24"><M n="2" v="6"/><M n="3" v="6"/><M n="7" v="4"/></S>
      </L>
      <L i="11" l="25">
        <S i="12" l="26"><M n="2" v="8"/><M n="3" v="8"/><M n="7" v="4"/></S>
      </L>
    </PF>
  </C>
  <S i="8" l="9"><M n="2" v="10"/><M n="3" v="10"/></S>
</PF>
</SecCallPathProfileData>
</SecCallPathProfile>
</HPCToolkitExperiment>
"""

# id -> (Mean (I), ratio of total, ratio of parent), worked out by hand
# from the tree above (root Mean = 100 / 4 = 25)
MINI_EXPECTED = {
    -1: (25.0, 1.0, 1.0),
    1: (25.0, 1.0, 1.0),
    2: (15.0, 15 / 25, 15 / 25),
    3: (15.0, 15 / 25, 1.0),
    5: (7.5, 7.5 / 25, 7.5 / 25),
    6: (6.25, 6.25 / 25, 6.25 / 7.5),
    7: (None, None, None),
    9: (1.0, 1 / 25, 1 / 7.5),
    10: (1.5, 1.5 / 25, 1.5 / 7.5),  # L 9 (1.0) < 1.5: walks on to PF 5
    11: (None, None, None),
    12: (2.0, 2 / 25, None),          # L 11 exists without a value: stop
    8: (None, None, None),
}


@pytest.fixture(scope="module")
def mini_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mini_cct")
    for i in range(9):  # 9 copies: a glob over them takes the executor path
        (d / f"mini_{i}.xml").write_text(MINI_CCT_XML)
    return d


def _rows_by_id(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_mini_fast_and_distributed_paths_agree(spark, mini_dir):
    fast, _ = load_experiments(spark, str(mini_dir / "mini_0.xml"))
    dist, _ = load_experiments(spark, str(mini_dir / "mini_*.xml"))
    assert dist.columns == fast.columns
    assert dist.select("profile_id").distinct().count() == 9
    one = dist.filter(F.col("profile_id") == str(mini_dir / "mini_0.xml"))
    assert _rows_by_id(one) == _rows_by_id(fast)
    assert len(_rows_by_id(fast)) == len(MINI_EXPECTED)


def test_mini_ratio_columns_match_hand_computation(spark, mini_dir):
    df, meta = load_experiments(spark, str(mini_dir / "mini_0.xml"))
    assert meta.meaningful_columns["percentage"] == MINI_PCT
    got = _rows_by_id(df)
    assert set(got) == set(MINI_EXPECTED)
    for i, want in MINI_EXPECTED.items():
        row = got[i]
        have = (row[MINI_PCT], row[MINI_PCT + " ratio of total"],
                row[MINI_PCT + " ratio of parent"])
        assert have == pytest.approx(want), i
    # callsite spliced: PF 5 hangs off PF 1; locations inherited
    assert got[5]["callpath"] == [1, 5] and got[6]["callpath"] == [1, 5, 6]
    assert (got[6]["procedure"], got[6]["file"]) == ("work", "work.c")
    assert got[3]["file path"] == "src/main.c"
    # root (E) <- (I) repair
    assert got[-1]["CPUTIME (usec):Sum (E)"] == 100.0


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_mini_absent_metrics_are_null_never_nan(spark, mini_dir, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for target in ("mini_0.xml", "mini_*.xml"):
            df, _ = load_experiments(spark, str(mini_dir / target))
            doubles = [f.name for f in df.schema.fields
                       if f.dataType.typeName() == "double"]
            nan = df.select(*[F.sum(F.isnan(f"`{c}`").cast("int")).alias(c)
                              for c in doubles]).first().asDict()
            assert set(nan.values()) == {0}, (target, nan)
            # S 7 carries no metric at all: every metric column is NULL
            row = df.filter(F.col("id") == 7).first().asDict()
            assert all(row[c] is None for c in doubles), (target, row)
            assert df.filter(F.col("procedure") == "nan").count() == 0
    finally:
        spark.conf.set(key, prev)


def test_mini_loaded_frame_is_materialized(spark, mini_dir):
    """A later op scans the loaded rows: one job, no replay of the
    ingest, formulas or ratio tables."""
    h = HPCtoolkitDataFrame(path=str(mini_dir / "mini_0.xml"), spark=spark)
    sc = spark.sparkContext
    group = "mini-materialized-probe"
    sc.setJobGroup(group, "at_depth(1).compact after load")
    try:
        rows = h.at_depth(1).compact.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r[MINI_PCT] for r in rows] == [25.0]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_mini_add_ratio_column_parent_equals_loaded_column(spark, mini_dir):
    h = HPCtoolkitDataFrame(path=str(mini_dir / "mini_0.xml"), spark=spark)
    out = h.add_ratio_column(MINI_PCT, "x", "parent").df
    assert out.count() == len(MINI_EXPECTED)
    assert out.filter(~F.col("x").eqNullSafe(
        F.col(f"`{MINI_PCT} ratio of parent`"))).count() == 0


def test_each_file_parsed_once(spark, mini_dir, monkeypatch):
    """The fast path takes its header from the tree it parsed; header
    reads for the executor path stop at the end of SecHeader."""
    from hpctoolkit_dataframe_spark.sources import hpctoolkit_xml as hx

    calls = []
    real = hx.ET.fromstring
    monkeypatch.setattr(hx.ET, "fromstring",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    df, _ = load_experiments(spark, str(mini_dir / "mini_0.xml"),
                             add_percentage_columns=False)
    assert len(calls) == 1
    # a body cut off mid-tree: the header still reads, the parse fails
    cut = MINI_CCT_XML[:MINI_CCT_XML.index("<L i=\"9\"")]
    bad = mini_dir.parent / "cut.xml"
    bad.write_text(cut)
    assert sorted(hx.read_header(str(bad))["metrics_by_id"]) == [2, 3, 4, 7]
    with pytest.raises(Exception):
        hx.parse_experiment_rows(bad.read_bytes(), str(bad))
