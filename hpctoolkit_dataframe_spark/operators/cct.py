"""CCT (calling-context-tree) operators, Spark-first.

Every operator here re-expresses a capability of the reference
(hpctoolkit_dataframe/hpctoolkit_dataframe.py) as declarative DataFrame
transformations so Catalyst can prune/push/reorder, instead of the
reference's row-at-a-time ``apply``/``iterrows`` loops.

Expected input shape (the flattened CCT — the reference flattens the
tree exactly this way at ingest, hpctoolkit_dataframe.py:233-289):

- ``id: bigint``          unique node id (root = -1 by convention)
- ``callpath: array<bigint>``  root-to-node ids, root = []
- zero or more metric columns
- optional partition columns (e.g. ``profile_id``) so many experiments
  coexist in one DataFrame — everything here is per-profile when
  ``partition_cols`` is given, which is what makes the operators scale:
  at 100 TB the data is millions of independent ~10^4-row trees, and all
  joins/windows key on (profile, path) so no global shuffle hotspot.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import callpath as cp

ROOT_ID = -1  # reference _ROOT_INDEX, hpctoolkit_dataframe.py:48

# Row count up to which the walk-up ratio and the hot path collect their
# slim projection and walk the tree in Python: one bounded job instead
# of a distributed plan of several.  One XML profile is ~10^4 nodes.
IN_MEMORY_ROWS = 100_000

# Build-side row cap for FORCING a shuffled-hash join in the parent/
# ancestor self-joins.  SHJ was measured faster than sort-merge at
# bench scale (the exploded probe side pays an O(n log n) sort under
# SMJ), but its build-side hash map CANNOT spill, so the cap must
# scale with the heap actually available — a fixed row count is only
# valid at the heap it was calibrated on.  Two measured OOMs pin the
# density: the r7 30x run died at 18.6M build rows on an 8 GiB heap
# (6.2M was fine), and the r7 low-memory probe died at the SAME 6.2M
# rows on a 3 GiB heap.  800k rows per heap-GiB sits just above the
# known-good 6.2M/8GiB point and a factor ~3 below both known-bad
# points.  Above the cap the hint is dropped and Catalyst/AQE pick
# the strategy (sort-merge — degrades gracefully via spill).  Checked
# against a count of the ALREADY MATERIALIZED input (memoized build or
# the eager localCheckpoint this function itself takes), so the probe
# costs one cheap cached-scan job.
SHJ_ROWS_PER_HEAP_GIB = 800_000


def _parse_mem_gib(mem: str) -> float:
    """Parse a Spark memory string to GiB, matching JavaUtils
    byteStringAsMb: optional single-letter unit with optional trailing
    'b' ('8g', '8gb', '512mb'), and a BARE number means MiB (Spark's
    convention for spark.*.memory), not bytes."""
    mem = mem.strip().lower()
    units = {"k": 1 / (1024 * 1024), "m": 1 / 1024, "g": 1, "t": 1024,
             "p": 1024 * 1024}
    if mem.endswith("b") and len(mem) > 1 and mem[-2] in units:
        mem = mem[:-1]
    elif mem.endswith("b") and mem[:-1].isdigit():
        # bare 'b' with no unit letter is BYTES in JavaUtils ('800b');
        # falling through to the MiB fallback overstated heap ~1000x
        # for this form (ADVICE r8)
        return float(mem[:-1]) / (1024 ** 3)
    try:
        if mem[-1] in units:
            return float(mem[:-1]) * units[mem[-1]]
        return float(mem) / 1024  # bare number = MiB (JavaUtils)
    except (ValueError, IndexError):
        return 1.0


def _shj_build_row_cap(spark) -> int:
    """Heap-proportional SHJ build-side cap.  Local mode does the work
    in the driver JVM; on a cluster the executors build the maps — and
    the map is PER TASK, so the executor heap is divided by its task
    slots (spark.executor.cores).  The 800k/GiB density was calibrated
    in local mode, where concurrent tasks share the driver heap but the
    probed joins run effectively one-at-a-time; on a cluster the
    per-slot division is the conservative reading of the same data."""
    conf = spark.sparkContext.getConf()
    master = conf.get("spark.master", "")
    if master.startswith("local"):
        gib = _parse_mem_gib(conf.get("spark.driver.memory", "1g"))
    else:
        gib = _parse_mem_gib(conf.get("spark.executor.memory", "1g"))
        try:
            slots = max(1, int(conf.get("spark.executor.cores", "1")))
        except ValueError:
            slots = 1
        gib /= slots
    return max(1, int(gib * SHJ_ROWS_PER_HEAP_GIB))


# ---------------------------------------------------------------------------
# filters (reference at_paths/at_depths/at_depth, :391-401)
# ---------------------------------------------------------------------------

def at_paths(
    df: DataFrame,
    *fragments: Sequence[int],
    prefix: Sequence[int] = (),
    suffix: Sequence[int] = (),
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rows whose callpath starts with ``prefix`` and/or ends with ``suffix``.

    Reference: hpctoolkit_dataframe.py:391-393 (predicate :79-92).
    Arbitrary ``fragments`` raise NotImplementedError exactly like the
    reference (:82-84) — part of the behavioral surface.
    """
    if fragments:
        raise NotImplementedError(
            'filtering by arbitrary fragment "{}" not supported'.format(fragments))
    return df.filter(
        cp.has_prefix(prefix, callpath_col) & cp.has_suffix(suffix, callpath_col))


def at_path_fragments(
    df: DataFrame,
    *fragments: Sequence[int],
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rows whose callpath contains EVERY fragment as a contiguous
    subsequence — the completion of the surface ``at_paths`` declares
    and (matching the reference, :82-84) refuses: the reference's
    commented-out implementation sketch (:85-92) names exactly this
    semantics, so it lives here as a separate extension rather than
    changing at_paths' pinned NotImplementedError behavior."""
    cond = F.lit(True)
    for frag in fragments:
        cond = cond & cp.contains_fragment(frag, callpath_col)
    return df.filter(cond)


def at_depths(
    df: DataFrame,
    min_depth: int | None = None,
    max_depth: int | None = None,
    callpath_col: str = "callpath",
) -> DataFrame:
    """min_depth <= len(callpath) <= max_depth (either bound optional).

    Reference: hpctoolkit_dataframe.py:395-398 (predicate :123-128).
    """
    cond = F.lit(True)
    if min_depth is not None:
        cond = cond & (F.size(callpath_col) >= min_depth)
    if max_depth is not None:
        cond = cond & (F.size(callpath_col) <= max_depth)
    return df.filter(cond)


def at_depth(df: DataFrame, depth: int, callpath_col: str = "callpath") -> DataFrame:
    """Reference: hpctoolkit_dataframe.py:400-401."""
    return at_depths(df, depth, depth, callpath_col)


# ---------------------------------------------------------------------------
# ratio columns (reference add_ratio_column, :340-385)
# ---------------------------------------------------------------------------

def _root_values(
    df: DataFrame, base_column: str, partition_cols: Sequence[str],
    callpath_col: str,
) -> DataFrame:
    return (
        df.filter(F.size(callpath_col) == 0)
        .select(*partition_cols, F.col(base_column).alias("__root_value"))
    )


def with_ratio_of_total(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
    callpath_col: str = "callpath",
) -> DataFrame:
    """value / value-at-root, per partition (profile).

    Reference: hpctoolkit_dataframe.py:356-359 — a scalar broadcast of the
    root row's value.  Spark plan: broadcast join of the (one row per
    profile) root table; no window over a global partition, so it scales
    to any number of profiles.
    """
    column_name = column_name or f"{base_column} ratio of total"
    roots = F.broadcast(_root_values(df, base_column, partition_cols, callpath_col))
    joined = (
        df.join(roots, on=list(partition_cols), how="left")
        if partition_cols else df.crossJoin(roots)
    )
    return joined.withColumn(
        column_name,
        # try_divide: a zero-valued root yields NULL, not an ANSI error
        F.try_divide(F.col(base_column).cast("double"),
                     F.col("__root_value").cast("double")),
    ).drop("__root_value")


def _maybe_shuffle_hash(nodes: DataFrame, df: DataFrame) -> DataFrame:
    """Apply the shuffle-hash hint only while the build side provably
    fits the CURRENT heap (_shj_build_row_cap); beyond it, no hint —
    Catalyst picks sort-merge, which spills instead of OOMing."""
    try:
        n = df.count()
    except Exception:
        return nodes  # un-countable input: be safe, no forced SHJ
    cap = _shj_build_row_cap(df.sparkSession)
    return nodes.hint("shuffle_hash") if n <= cap else nodes


def _tail_at(callpath: Column, depth: Column) -> Column:
    """Last id of the depth-``depth`` prefix of ``callpath``.  The root
    (depth 0) has no tail and takes the constant 0: depth is half of
    every key, so the constant cannot meet a real node."""
    return F.when(depth == 0, F.lit(0).cast("long")).otherwise(
        F.try_element_at(callpath, depth.cast("int")))


def with_ratio_of_parent(
    df: DataFrame,
    base_column: str,
    column_name: str | None = None,
    partition_cols: Sequence[str] = (),
    callpath_col: str = "callpath",
    walk_up: bool = True,
    persist_input: bool = True,
    carry_cols: Sequence[str] | None = None,
    collect_threshold: int = 0,
) -> DataFrame:
    """value / nearest-ancestor-value, with the reference's walk-up rule.

    Reference semantics (hpctoolkit_dataframe.py:360-384): starting at the
    parent, walk up the callpath until an ancestor's value >= own value;
    if no ancestor qualifies the walk terminates at the root, which is
    used regardless.  The root row itself resolves to itself (ratio 1.0).
    An existing ancestor with a NULL value stops the walk and yields NULL
    (the reference's ``NaN < x`` is False); a prefix with no row is
    skipped.  A zero base yields NULL where the reference would raise
    ZeroDivisionError.  With ``walk_up=False`` the base is always the
    immediate parent (the root's is itself).

    Two plans:

    - In memory, for the walk-up when ``collect_threshold`` > 0 and the
      slim (partition, id, callpath, value) projection has at most that
      many rows: one bounded collect, the walk in Python, and a
      broadcast join of the (partition, id, ratio) table back.  A single
      XML profile (~10^4 nodes) takes this plan.
    - Distributed, for everything else.  Every ancestor is addressed by
      (depth, callpath tail): a node's key is (size(callpath),
      callpath[-1]), its depth-i ancestor's key is (i, callpath[i])
      (1-indexed), and the root's key is (0, 0) whatever its ``id``.
      The walk-up explodes each node into its ancestor depths 0..d-1
      (the root into its own depth 0), joins them to the node table on
      (partition, depth, tail) — shuffle-hash while the build side fits
      the heap (_shj_build_row_cap), else sort-merge — keeps the
      stoppers (value >= own, NULL value, or the root) and picks the
      deepest with a ``max_by`` aggregate.  ``walk_up=False`` is the
      same join on the parent's key alone: no explode, no aggregate.
      Only BIGINT keys cross the exchange.

    Precondition of the distributed plan: a callpath tail is unique per
    (partition, depth) — two callpaths that hold the same id at position
    i share their first i ids — so (depth, tail) names exactly one
    prefix.  XML ingest asserts unique node ids
    (sources/hpctoolkit_xml.py) and ``build_cct``'s level keys encode
    their parents by construction.  An input that breaks it silently
    takes an ancestor from another branch.

    ``carry_cols``: when given, the result contains ONLY
    (partition_cols, id, *carry_cols, ratio) — the carried columns ride
    through the aggregation as grouping keys and the wide join-back of
    the full input frame is skipped entirely (one fewer shuffle of the
    wide rows; use for slim analytical outputs, including base_column in
    carry_cols if its original-typed value is wanted).
    """
    column_name = column_name or f"{base_column} ratio of parent"
    pc = list(partition_cols)

    if collect_threshold and walk_up:
        # adaptive small-input path (single profiles are ~10^4 nodes):
        # collect the slim projection, walk up in memory, broadcast the
        # (key, base) table back — one job + one broadcast join instead
        # of the explode/join/agg pipeline (same semantics, verified by
        # the property tests against both paths)
        slim = df.select(*pc, "id", F.col(callpath_col).alias("__p"),
                         F.col(base_column).cast("double").alias("__v"))
        # one bounded job instead of count()+collect(): fetch at most
        # threshold+1 rows — overflow means "too big, go distributed"
        rows = slim.limit(collect_threshold + 1).collect()
        if len(rows) > collect_threshold:
            rows = None
        if rows is not None:
            by_path: dict = {}
            for r in rows:
                by_path[(tuple(r[c] for c in pc), tuple(r["__p"]))] = r["__v"]
            # keyed by (partition, id): one ratio per join key, so the
            # join-back never multiplies rows
            ratios: dict = {}
            _MISSING = object()
            for r in rows:
                key = tuple(r[c] for c in pc)
                path = tuple(r["__p"])
                v = r["__v"]
                anc = path
                base = None
                while True:
                    anc = anc[:-1] if anc else ()
                    b = by_path.get((key, anc), _MISSING)
                    if b is _MISSING:
                        # no row for this prefix: keep walking
                        if anc == ():
                            base = None
                            break
                        continue
                    if b is None:
                        # an EXISTING ancestor without the metric stops
                        # the reference's `base < value` loop (NaN < x is
                        # False) and yields NaN — mirror with NULL
                        base = None
                        break
                    base = b
                    if v is None or b >= v or anc == ():
                        break
                ratio = (None if base in (None, 0) or v is None
                         else v / base)
                ratios[(*key, r["id"])] = ratio
            schema = T.StructType([df.schema[c] for c in pc] + [
                T.StructField("id", T.LongType()),
                T.StructField(column_name, T.DoubleType())])
            # an Arrow table, not pandas (which reads NaN as NULL) and
            # not a list (a pickled RDD: Python workers on every scan)
            keys = list(ratios)
            table = pa.table({
                **{c: [k[i] for k in keys] for i, c in enumerate(pc)},
                "id": [k[-1] for k in keys],
                column_name: list(ratios.values()),
            }, schema=to_arrow_schema(schema))
            return df.join(F.broadcast(df.sparkSession.createDataFrame(
                table, schema)), on=[*pc, "id"], how="left")

    if persist_input:
        # the input feeds several plan branches (node table, ancestor
        # explode, final join-back); cache() substitution does NOT
        # survive the self-join's relation deduplication here (observed:
        # the upstream plan ran 3x), so cut the lineage outright with an
        # eager localCheckpoint.  Repartition first: AQE coalesces
        # upstream aggregate output for exchange SIZE, which can leave
        # 1-2 partitions feeding the CPU-heavy ancestor explode.
        sc = df.sparkSession.sparkContext
        df = df.repartition(sc.defaultParallelism).localCheckpoint(eager=True)

    carry = list(carry_cols) if carry_cols is not None else None
    # only (partition, id, carry, value, ancestor key) travel through the
    # walk-up's explode+shuffle — the wide columns join back at the end
    keep = [*pc, "id", *(carry or ())]
    path = F.col(callpath_col)
    # right side gets renamed columns: self-joins on same-lineage frames
    # otherwise resolve both sides to one attribute (trivially-true join).
    # Shuffle-hash, not sort-merge: the probe side (|df| x depth rows on
    # the walk-up) pays an O(n log n) sort under SMJ, while hashing the
    # |df| slim node rows is cheap WHEN they fit (_shj_build_row_cap
    # guards the 30x + low-mem OOMs)
    nodes = _maybe_shuffle_hash(df.select(
        *[F.col(c).alias(f"__n_{c}") for c in pc],
        F.size(path).alias("__n_depth"),
        _tail_at(path, F.size(path)).alias("__n_tail"),
        F.col(base_column).cast("double").alias("__value"),
    ), df)
    on_ancestor = ([F.col(c) == F.col(f"__n_{c}") for c in pc]
                   + [F.col("__anc_depth") == F.col("__n_depth"),
                      F.col("__anc_tail") == F.col("__n_tail")])
    # greatest(d-1, 0): the parent's depth, and the root (d=0) addresses
    # itself, so root/root = 1.0 like the reference (:369-374)
    parent_depth = F.greatest(F.size(path) - 1, F.lit(0))

    if not walk_up:
        out_cols = keep if carry is not None else df.columns
        child = df.select(
            *out_cols, F.col(base_column).cast("double").alias("__cv"),
            path.alias("__cp"), parent_depth.alias("__anc_depth"),
        ).withColumn("__anc_tail",
                     _tail_at(F.col("__cp"), F.col("__anc_depth")))
        return child.join(nodes, on=on_ancestor, how="left").select(
            *[child[c] for c in out_cols],
            F.try_divide(F.col("__cv"), F.col("__value")).alias(column_name))

    exploded = df.select(
        *keep, F.col(base_column).cast("double").alias("__cv"),
        path.alias("__cp"),
        F.explode(F.sequence(F.lit(0), parent_depth)).alias("__anc_depth"),
    ).select(
        *keep, "__cv", "__anc_depth",
        _tail_at(F.col("__cp"), F.col("__anc_depth")).alias("__anc_tail"),
    )
    joined = exploded.join(nodes, on=on_ancestor, how="inner").select(
        *[exploded[c] for c in (*keep, "__cv", "__anc_depth")],
        F.col("__value").alias("__anc_value"),
    )

    # an ancestor stops the walk when NOT (base < value): base >= value,
    # base NULL (the reference's NaN: `NaN < x` is False, ratio NaN), or
    # the root.  The first stopper in walk-up order is the DEEPEST one.
    qualifying = joined.filter(
        (F.col("__anc_value") >= F.col("__cv"))
        | F.col("__anc_value").isNull()
        | (F.col("__anc_depth") == 0)
    )
    # deepest qualifying ancestor wins (nearest in the walk-up order).
    # max_by, not max(struct): a struct aggregation buffer is not
    # hash-aggregable, so max(struct) planned as SortAggregate and
    # sorted the full exploded join output twice (partial + final).
    # max_by keeps a (primitive, primitive) buffer -> whole-stage-
    # codegen HashAggregate.  Each group's qualifying rows have DISTINCT
    # __anc_depth (one row per ancestor depth), so max_by has no ties to
    # resolve nondeterministically, and Spark 4's max_by returns the
    # value AT the max ordering even when that value is NULL (the
    # NULL-at-deepest-stopper case; pinned with struct-max side by side
    # in tests/test_cct_ops.py::test_deepest_aggregate_maxby_semantics).
    deepest = F.max_by(F.col("__anc_value"), F.col("__anc_depth"))
    # try_divide: zero-valued ancestors yield NULL, not an ANSI error
    ratio = F.try_divide(F.col("__cv"), F.col("__base"))
    if carry is not None:
        # slim path: group keys carry the output columns, no join-back
        agg = (
            qualifying.groupBy(*keep, "__cv")
            .agg(deepest.alias("__base"))
        )
        return agg.select(*keep, ratio.alias(column_name))
    agg = (
        qualifying.groupBy(*pc, "id")
        .agg(deepest.alias("__base"))
    )
    out = df.join(agg, on=[*pc, "id"], how="left")
    return out.withColumn(
        column_name,
        F.try_divide(F.col(base_column).cast("double"), F.col("__base")),
    ).drop("__base")


def fix_root_measurement(
    df: DataFrame,
    column_pairs: Sequence[tuple[str, str]],
    callpath_col: str = "callpath",
) -> DataFrame:
    """Copy the root row's (I) value over its (E) value for each pair.

    Reference: hpctoolkit_dataframe.py:291-305 — the root has no exclusive
    samples, so ``X (E)`` at the root is patched from ``X (I)``.
    ``column_pairs`` is [(exclusive_col, inclusive_col), ...].

    One select, not a ``withColumn`` loop — each ``withColumn`` is a
    full plan rebuild through Py4J and 11 of them cost ~0.25 s of pure
    driver time per load.
    """
    sources = dict(column_pairs)
    is_root = F.size(callpath_col) == 0
    return df.select(*[
        F.when(is_root, F.col(f"`{sources[c]}`"))
        .otherwise(F.col(f"`{c}`")).alias(c)
        if c in sources else F.col(f"`{c}`")
        for c in df.columns
    ])


# ---------------------------------------------------------------------------
# hot path (reference hot_path, :403-428)
# ---------------------------------------------------------------------------

def hot_path(
    df: DataFrame,
    base_column: str,
    callpath: Sequence[int] = (),
    threshold: float = 0.05,
    callpath_col: str = "callpath",
    max_iters: int = 64,
    collect_threshold: int = IN_MEMORY_ROWS,
) -> DataFrame:
    """Greedy hottest-descendant chain.

    Reference semantics (hpctoolkit_dataframe.py:403-428): starting from
    ``callpath``, repeatedly append the current path, descend to the
    child with the max ``base_column`` value, and stop when there are no
    children or the hottest child's value drops below ``threshold`` (the
    below-threshold child is NOT included; the starting path always is).

    Spark plan: one slim projection (value, id, depth, parent-prefix
    test) cached once; each descent step is a tiny ``max_by`` aggregate
    over the current node's children.  The loop runs at most tree-depth
    times (<= ~25 in fixtures) and each job is a narrow filter+agg on the
    cached slim frame, so driver orchestration cost is bounded and no
    full collect ever happens.  Ties break on smallest id (the reference
    takes the first row in DFS preorder via ``idxmax``; by-id is the
    deterministic analogue).
    """
    slim = df.select(
        F.col("id").alias("__id"),
        F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__value"),
    )
    current = tuple(int(x) for x in callpath)
    chain: list[tuple[int, ...]] = []
    # probe with ONE job: limit(threshold+1) returns the whole frame iff
    # it fits (and only then do we trust the rows), so the small-tree
    # case costs a single action instead of count()+collect()
    probe = slim.limit(collect_threshold + 1).collect()
    if len(probe) <= collect_threshold:
        # small tree (one profile is ~10^4 nodes): the 3-column
        # projection is already in memory and the descent runs locally —
        # tree-depth Spark jobs collapse into one
        by_parent: dict[tuple, list] = {}
        for r in probe:
            p = tuple(r["__path"])
            by_parent.setdefault(p[:-1] if p else None, []).append(
                (r["__value"], r["__id"], p))
        for _ in range(max_iters):
            chain.append(current)
            children = [c for c in by_parent.get(current, ())
                        if len(c[2]) == len(current) + 1]
            if not children:
                break
            value, _, path = max(
                children, key=lambda c: (c[0] if c[0] is not None
                                         else float("-inf"), -c[1]))
            if value is None or value < threshold:
                break
            current = path
        preds = None
        for p in chain:
            pred = ((F.size(callpath_col) == len(p))
                    & cp.has_prefix(p, callpath_col))
            preds = pred if preds is None else (preds | pred)
        return df.filter(preds)
    del probe  # arbitrary subset — unusable; descend iteratively
    slim = slim.cache()
    try:
        for _ in range(max_iters):
            chain.append(current)
            children = slim.filter(
                (F.size("__path") == len(current) + 1)
                & cp.has_prefix(current, "__path")
            )
            top = children.orderBy(
                F.col("__value").desc(), F.col("__id").asc()
            ).limit(1).collect()
            if not top:
                break
            row = top[0]
            if row["__value"] is None or row["__value"] < threshold:
                break
            current = tuple(row["__path"])
        preds = None
        for p in chain:
            pred = (F.size(callpath_col) == len(p)) & cp.has_prefix(p, callpath_col)
            preds = pred if preds is None else (preds | pred)
        return df.filter(preds)
    finally:
        slim.unpersist()


def hot_paths(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    threshold: float = 0.05,
    callpath_col: str = "callpath",
    max_depth: int = 64,
) -> DataFrame:
    """Greedy hot-path chains for EVERY profile in one batch job set —
    the fleet-scale variant of :func:`hot_path` (same per-profile
    semantics, reference hpctoolkit_dataframe.py:403-428) with no
    per-profile driver loop.

    Plan (r12): materialize the qualifying rank-1 edges once (one
    window; a node qualifies iff it is its parent's hottest child AND
    clears the threshold — a SMALL set, bounded by how many nodes can
    hold >= threshold of the root), then decide chain membership in
    ONE pass: a node is on its profile's chain iff EVERY element of
    its callpath is a qualifying edge (induction on the greedy
    descent: depth-1 nodes descend from the root iff they qualify;
    a deeper node is reached iff its parent was reached and it
    qualifies).  The former shape descended level-by-level with an
    eager localCheckpoint + isEmpty driver round trip per depth —
    ~2 jobs x tree depth of pure scheduling over frontiers of <= one
    row per profile; this is a fixed 3-stage plan at any depth.
    Output: the chain rows (full input columns), unchanged.
    """
    pc = list(partition_cols)
    slim = df.select(
        *pc, F.col("id").alias("__id"),
        F.col(callpath_col).alias("__path"),
        F.col(base_column).cast("double").alias("__v"),
    ).withColumn("__depth", F.size("__path"))
    parent = F.when(F.size(cp.parent_path("__path")) > 0,
                    F.element_at(cp.parent_path("__path"), -1)).otherwise(-1)
    w = Window.partitionBy(*pc, parent.alias("__parent")).orderBy(
        F.col("__v").desc(), F.col("__id").asc())
    edges = (
        slim.filter((F.col("__depth") > 0)
                    & (F.col("__depth") <= max_depth))
        .withColumn("__rk", F.row_number().over(w))
        .filter((F.col("__rk") == 1) & (F.col("__v") >= threshold))
        .select(*pc, "__id", "__path", "__depth")
    )
    # small (see above) and referenced by BOTH sides of the ancestor
    # self-join below — relation dedup does not share work across
    # self-joins (CLAUDE.md), so materialize once
    edges = edges.localCheckpoint(eager=True)

    # ancestor check: explode each candidate's path (<= depth rows per
    # qualifying node) and count how many path elements qualify; the
    # node is on the chain iff all of them do.  Path ids are unique
    # (tree path) and __id is unique per profile, so the join adds no
    # multiplicity.
    anc = edges.select(*pc, "__id", "__depth",
                       F.explode("__path").alias("__anc"))
    sids = edges.select(*pc, F.col("__id").alias("__anc"))
    on_chain = (
        anc.join(sids, [*pc, "__anc"], "inner")
        .groupBy(*pc, "__id", "__depth")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == F.col("__depth"))
        .select(*pc, "__id")
    )
    roots = slim.filter(F.col("__depth") == 0).select(*pc, "__id")
    keys = roots.unionAll(on_chain).select(
        *pc, F.col("__id").alias("id"))
    return df.join(keys, on=[*pc, "id"], how="left_semi")


def hot_edges(
    df: DataFrame,
    base_column: str,
    partition_cols: Sequence[str] = (),
    parent_id_col: str | None = None,
    callpath_col: str = "callpath",
) -> DataFrame:
    """Rank-1 child per parent — the one-job building block for computing
    hot paths over MANY profiles at once (no driver loop per profile).

    Returns df's columns plus ``__rank`` = 1 for the hottest child of each
    parent (ties by id).  A driver- or SQL-side recursive walk over these
    edges yields the same chain as :func:`hot_path`.
    """
    parent = (
        F.col(parent_id_col)
        if parent_id_col
        # ANSI-safe: element_at on an empty array (the root) would throw
        else F.when(
            F.size(cp.parent_path(callpath_col)) > 0,
            F.element_at(cp.parent_path(callpath_col), -1),
        )
    )
    w = Window.partitionBy(*partition_cols, parent.alias("__parent")).orderBy(
        F.col(base_column).desc(), F.col("id").asc()
    )
    return df.withColumn("__rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# compact projection (reference :387-389)
# ---------------------------------------------------------------------------

def compact(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Select the 'meaningful' columns (reference compact, :387-389)."""
    return df.select(*columns)


# ---------------------------------------------------------------------------
# multi-profile merge (engine extension; combine formulas, SURVEY §2.4 A1)
# ---------------------------------------------------------------------------

def merge_profiles(
    df: DataFrame,
    metric_combines: dict[str, str],
    callpath_col: str = "callpath",
    location_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge many profiles into one aggregate CCT.

    ``metric_combines`` maps metric column name -> 'sum' | 'min' | 'max'
    (from the MetricTable's combine formulas, which the reference parses
    but never uses, hpctoolkit_dataframe.py:69-70 — it is strictly
    single-profile).  Nodes are identified by their callpath; location
    columns are invariant per callpath, so they ride as EXTRA GROUP
    KEYS (r13): an ``any_value``/``first`` aggregate holds a var-width
    buffer for string columns, which is not hash-aggregable and forced
    the whole merge into a SortAggregate — sorting every profile row by
    callpath twice (partial + final).  As group keys they cost nothing
    (same groups under the invariance contract) and the merge plans as
    a codegen HashAggregate; determinism improves too (no arbitrary
    pick).  One shuffle on the hash of (callpath, *location_cols);
    aggregation is partial map-side.

    Contract, not checked: if a location column varies within one
    callpath, the output holds one row per distinct (callpath,
    locations) combination — duplicate callpath rows, each merging
    only its own profiles.
    """
    aggs = []
    for metric, kind in metric_combines.items():
        fn = {"sum": F.sum, "min": F.min, "max": F.max}[kind]
        aggs.append(fn(F.col(f"`{metric}`")).alias(metric))
    aggs.append(F.count(F.lit(1)).alias("n_profiles"))
    return df.groupBy(callpath_col,
                      *[F.col(f"`{c}`") for c in location_cols]).agg(*aggs)
