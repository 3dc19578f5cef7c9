"""The measured workloads.

Each workload builds its inputs from the seed, runs a fixed script of
calls into the package's public functions from one client thread (the
next call starts when the previous one returns): one cold unit, then a
fixed number of warm units, more of them while ``seconds`` allow.  Every
result is checked against answers computed without the engine, after the
timed calls.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import xmlgen
from spans import COUNTERS, Recorder

PCT = "CPUTIME (usec):Mean (I)"
SESSION_RANKS = 9           # > 8 files: load_experiments takes the executor path
SESSION_NODES = 3500        # XML elements per profile, callsites included
SESSION_WARM_UNITS = 1
TPCH_SCALE = 0.001
TPCH_WARM_PASSES = 3
TPCH_ENTRIES = ("cct_nodes", "cct_hot_path", "cct_ratio_of_parent_walkup",
                "cct_merge_profiles", "ngram_jaccard_pairs", "minhash_lsh_pairs",
                "duplicate_spans", "q1_pricing_summary", "events_sessions")
FRAME_OPS = ("load", "hot_path", "at_depth_compact", "at_paths",
             "add_ratio_column", "flat_profile", "callers_view")


class Run:
    """One workload run: the session, its spans and the op ledger."""

    def __init__(self, spark, rec: Recorder, work_dir: str, seed: int,
                 seconds: float):
        self.spark = spark
        self.rec = rec
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.ops: list[dict] = []     # name, span index, failure reason
        self.pending: list[tuple[dict, object]] = []   # (op, check thunk)

    def op(self, name: str, fn, check=None):
        """Time one public call; ``check(result)`` runs later, untimed,
        and returns None or a mismatch description."""
        entry = {"name": name, "span": len(self.rec.spans), "failure": None}
        self.ops.append(entry)
        try:
            with self.rec.span(name):
                out = fn()
        except Exception as e:  # a failed op is counted, never dropped
            entry["failure"] = f"{type(e).__name__}: {e}"[:300]
            return None
        if check is not None:
            self.pending.append((entry, lambda: check(out)))
        return out

    def run_checks(self) -> int:
        """Run deferred checks; returns the number of mismatches."""
        bad = 0
        for entry, thunk in self.pending:
            try:
                why = thunk()
            except Exception as e:
                why = f"check raised {type(e).__name__}: {e}"
            if why:
                bad += 1
                if entry["failure"] is None:
                    entry["failure"] = f"output mismatch: {why}"[:300]
        self.pending.clear()
        return bad

    def walls(self, parents: list[int]) -> dict[str, list[float]]:
        """Wall times of the ops under the given spans, by op name."""
        inside = {i for u in parents for i in self.rec.subtree(u)}
        out: dict[str, list[float]] = {}
        for o in self.ops:
            if o["span"] in inside:
                out.setdefault(o["name"], []).append(self.rec.spans[o["span"]].wall)
        return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _total(walls: dict[str, list[float]], *names: str) -> float:
    return sum(sum(walls.get(n, [])) for n in names)


# ---------------------------------------------------------------------------
# xml_session
# ---------------------------------------------------------------------------

def _mismatch(name, got, want):
    return None if got == want else f"{name}: got {str(got)[:120]} want {str(want)[:120]}"


def xml_session(run: Run) -> dict:
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark import HPCtoolkitDataFrame
    from hpctoolkit_dataframe_spark.operators import cct
    from hpctoolkit_dataframe_spark.operators.flame import flame_layout
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import load_experiments
    from hpctoolkit_dataframe_spark.sources.sinks import read_profiles, write_profiles

    spark, rec = run.spark, run.rec
    xml_dir = os.path.join(run.work_dir, "xml")
    os.makedirs(xml_dir)
    shape = xmlgen.make_shape(run.seed, SESSION_NODES)
    profiles = [xmlgen.sample_profile(shape, run.seed, r)
                for r in range(SESSION_RANKS)]
    paths = []
    for prof in profiles:
        paths.append(os.path.join(xml_dir, f"{prof.name}.xml"))
        with open(paths[-1], "wb") as f:
            f.write(xmlgen.render(shape, prof))
    n_rows = len(xmlgen.rows(shape))
    chains = [xmlgen.expected_hot_path(shape, p) for p in profiles]
    flats = [xmlgen.expected_flat_profile(shape, p) for p in profiles[:2]]
    merged = xmlgen.expected_merge(shape, profiles)

    def unit(k: int) -> int:
        r = k % 2
        with rec.span(f"profile{r}") as span:
            box = {}

            def load():
                box["h"] = HPCtoolkitDataFrame(path=paths[r], spark=spark)
                return box["h"].count()

            if run.op("load", load, lambda n: _mismatch("rows", n, n_rows)) is None:
                return span.index
            h = box["h"]
            hot = run.op("hot_path", lambda: [
                x.id for x in sorted(h.hot_path().select("id", "callpath").collect(),
                                     key=lambda x: len(x.callpath))],
                lambda ids: _mismatch("hot path", ids, chains[r]))
            prefix = (hot or chains[r])[1:3]
            run.op("at_depth_compact", lambda: h.at_depth(3).compact.collect())
            run.op("at_paths", lambda: h.at_paths(prefix=prefix).count())
            run.op("add_ratio_column", lambda: h.add_ratio_column(
                "PAPI_TOT_CYC:Sum (I)", "cycles ratio of total", "total")
                .df.orderBy(F.desc("cycles ratio of total")).limit(10).collect())
            run.op("flat_profile", lambda: {
                x["procedure"]: x["CPUTIME (usec):Sum (E)"]
                for x in h.flat_profile().collect() if x["procedure"] is not None},
                lambda got: _mismatch("flat profile", got, flats[r]))
            run.op("callers_view", lambda: h.callers_view()
                   .orderBy(F.desc("CPUTIME (usec):Sum (E)")).limit(20).collect())
            run.op("flame_layout", lambda: flame_layout(
                h.df, column=f"{PCT} ratio of parent"))
        return span.index

    def fleet(k: int) -> int:
        with rec.span("fleet") as span:
            _fleet(k)
        return span.index

    def _fleet(k: int) -> None:
        store = os.path.join(run.work_dir, f"store{k}")
        df = run.op("load_experiments", lambda: _counted(
            load_experiments(spark, os.path.join(xml_dir, "rank-*.xml"))[0]),
            lambda d: _mismatch("fleet rows", d[1], n_rows * len(profiles)))
        if df is None:
            return
        df = df[0]
        run.op("write_profiles", lambda: write_profiles(df, store))
        rd = run.op("read_profiles", lambda: _counted(read_profiles(spark, store)),
                    lambda d: _mismatch("store rows", d[1], n_rows * len(profiles)))
        if rd is None:
            return
        rd = rd[0]
        want_chains = {os.path.join(xml_dir, f"{p.name}.xml"): c
                       for p, c in zip(profiles, chains)}

        def hot_paths():
            got: dict = {}
            for x in sorted(cct.hot_paths(rd, f"{PCT} ratio of total",
                                          partition_cols=["profile_id"])
                            .select("profile_id", "id", "callpath").collect(),
                            key=lambda x: len(x.callpath)):
                got.setdefault(x.profile_id, []).append(x.id)
            return got

        run.op("hot_paths", hot_paths,
               lambda got: _mismatch("hot paths", got, want_chains))
        run.op("merge_profiles", lambda: {
            tuple(x.callpath): x["CPUTIME (usec):Sum (I)"]
            for x in cct.merge_profiles(
                rd, {"CPUTIME (usec):Sum (I)": "sum"}).collect()},
            lambda got: _mismatch("merged Sum (I)", got, merged))

    t0 = time.time()
    cold = unit(0)
    fleets = [fleet(0)]
    warm = _warm_loop(run, t0, unit, SESSION_WARM_UNITS)
    fleets.append(fleet(1))
    mismatches = run.run_checks()

    ingest = _median([_total(run.walls([f]), "load_experiments", "write_profiles")
                      for f in fleets])
    files = len(glob.glob(os.path.join(run.work_dir, "store0", "**", "*.parquet"),
                          recursive=True))
    end_to_end = _unit_metrics(run, cold, warm, (fleets,))
    end_to_end["load_hot_path_s"] = _median(
        [_total(run.walls([u]), "load", "hot_path") for u in [cold, *warm]])
    end_to_end["rows_per_s"] = n_rows * len(profiles) / ingest if ingest else 0.0
    layers = {"sinks.files_written": files}
    if rec.traced:
        inside = {i for u in warm for i in rec.subtree(u)}
        for name in FRAME_OPS:
            _op_layer(run, layers, f"frame.{name}", name, inside)
        _op_layer(run, layers, "flame.layout", "flame_layout", inside)
        _median_layer(run, layers, "xml.load_experiments", "load_experiments",
                      ("executor_cpu_s", "executor_run_s", "tasks", "driver_s"))
        _median_layer(run, layers, "sinks.write_profiles", "write_profiles",
                      ("output_mb",))
        layers["sinks.output_mb"] = layers.pop("sinks.write_profiles.output_mb")
        _median_layer(run, layers, "sinks.read_profiles", "read_profiles", ())
        _median_layer(run, layers, "cct.hot_paths", "hot_paths", ("shuffle_write_mb",))
        _median_layer(run, layers, "cct.merge_profiles", "merge_profiles",
                      ("shuffle_write_mb",))
        _spark_layer(run, layers, warm)
    return {"end_to_end": end_to_end, "layers": layers,
            "mismatches": mismatches}


def _warm_loop(run: Run, t0: float, unit, at_least: int) -> list[int]:
    """Warm units after the cold one: ``at_least`` of them, then more
    while the next is expected to end within ``run.seconds`` of ``t0``."""
    warm: list[int] = []
    while (len(warm) < at_least
           or time.time() - t0 + run.rec.spans[warm[-1]].wall <= run.seconds):
        warm.append(unit(len(warm) + 1))
        run.rec.collect()
    return warm


def _unit_metrics(run: Run, cold: int, warm: list[int],
                  extra: tuple[list[int], ...] = ()) -> dict:
    """End-to-end times of a script made of one cold unit, warm units and
    optional ``extra`` steps (each a list of repeats of one step).

    warm_s sums each op's median time over the warm units; wall_s is
    cold + warm + the median of each extra step.  op_p50_ms is the median
    over op types (warm units and extra steps), each taken at its median
    time, so that one slow call does not move it."""
    spans = run.rec.spans
    warm_s = sum(_median(v) for v in run.walls(warm).values())
    steady = run.walls([*warm, *(i for step in extra for i in step)])
    return {"wall_s": spans[cold].wall + warm_s + sum(
                _median([spans[i].wall for i in step]) for step in extra),
            "cold_s": spans[cold].wall, "warm_s": warm_s,
            "op_p50_ms": _median([_median(v) for v in steady.values()]) * 1e3}


def _counted(df):
    return df, df.count()


def _op_layer(run: Run, layers: dict, prefix: str, name: str,
              inside: set[int]) -> None:
    """p50 wall, jobs and driver time (ms) of one op type in warm units."""
    idx = [o["span"] for o in run.ops if o["name"] == name and o["span"] in inside]
    tots = [run.rec.totals(i) for i in idx]
    layers[f"{prefix}_ms"] = _median([run.rec.spans[i].wall for i in idx]) * 1e3
    layers[f"{prefix}.jobs"] = _median([t["jobs"] for t in tots])
    layers[f"{prefix}.driver_ms"] = _median([t["driver_s"] for t in tots]) * 1e3


def _median_layer(run: Run, layers: dict, prefix: str, name: str,
                  counters: tuple[str, ...]) -> None:
    """Median wall (s) and counters over the calls of one op."""
    idx = [o["span"] for o in run.ops if o["name"] == name]
    layers[f"{prefix}_s"] = _median([run.rec.spans[i].wall for i in idx])
    for c in counters:
        layers[f"{prefix}.{c}"] = _median([run.rec.totals(i)[c] for i in idx])


def _spark_layer(run: Run, layers: dict, warm: list[int]) -> None:
    """Spark counters of one warm unit (median over the warm units)."""
    tots = [run.rec.totals(u) for u in warm]
    for c in (*COUNTERS, "driver_s"):
        layers[f"spark.{c}"] = _median([t[c] for t in tots])


# ---------------------------------------------------------------------------
# tpch_registry
# ---------------------------------------------------------------------------

def tpch_registry(run: Run) -> dict:
    import duckdb

    from hpctoolkit_dataframe_spark.oracle_hash import batch_digest, duckdb_digest, fold
    from hpctoolkit_dataframe_spark.queries import REGISTRY

    import tpchgen

    spark, rec = run.spark, run.rec
    data = os.path.join(run.work_dir, "tpch")
    tables = tpchgen.write_tables(data, run.seed, TPCH_SCALE)

    def digest(table):
        cols = table.column_names
        return fold(batch_digest(b, cols) for b in table.to_batches())

    nodes_rows: list[int] = []   # cct_nodes result rows, per pass

    def one_pass(k: int) -> int:
        with rec.span("warm" if k else "cold") as span:
            for e in TPCH_ENTRIES:
                out = run.op(e, lambda e=e: REGISTRY[e].fn(spark, data).toArrow(),
                             lambda t, e=e: _oracle_check(e, t))
                if e == "cct_nodes" and out is not None:
                    nodes_rows.append(out.num_rows)
        return span.index

    oracle: dict[str, tuple] = {}

    def _oracle_check(entry, table):
        if entry not in oracle:
            return f"no oracle digest for {entry}"
        want, cols = oracle[entry]
        got = digest(table.select(cols)) if table.column_names == cols else None
        return _mismatch(f"{entry} digest", got, want)

    t0 = time.time()
    cold = one_pass(0)
    warm = _warm_loop(run, t0, one_pass, TPCH_WARM_PASSES)

    # oracle digests, after the timed region
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run.work_dir, 'duckdb')}'")
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for e in TPCH_ENTRIES:
        res = con.execute(REGISTRY[e].sql)
        cols = [d[0] for d in res.description]
        oracle[e] = (duckdb_digest(res, cols), cols)
    con.close()
    mismatches = run.run_checks()

    cold_walls, warm_walls = run.walls([cold]), run.walls(warm)
    end_to_end = _unit_metrics(run, cold, warm)
    end_to_end["load_hot_path_s"] = _total(cold_walls, "cct_nodes", "cct_hot_path")
    nodes_wall = _total(cold_walls, "cct_nodes")
    end_to_end["rows_per_s"] = (nodes_rows[0] / nodes_wall
                                if nodes_rows and nodes_wall else 0.0)
    layers: dict = {}
    warm_spans = {i for u in warm for i in rec.subtree(u)}
    for e in TPCH_ENTRIES:
        layers[f"queries.{e}.cold_s"] = _total(cold_walls, e)
        layers[f"queries.{e}.warm_s"] = _median(warm_walls.get(e, []))
        if rec.traced:
            idx = [o["span"] for o in run.ops
                   if o["name"] == e and o["span"] in warm_spans]
            tots = [rec.totals(i) for i in idx]
            layers[f"queries.{e}.warm.shuffle_write_mb"] = _median(
                [t["shuffle_write_mb"] for t in tots])
            layers[f"queries.{e}.warm.driver_s"] = _median(
                [t["driver_s"] for t in tots])
    if rec.traced:
        _spark_layer(run, layers, warm)
    return {"end_to_end": end_to_end, "layers": layers,
            "mismatches": mismatches}


WORKLOADS = {"xml_session": xml_session, "tpch_registry": tpch_registry}


def _layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit; a layer a workload does not
    call reports 0."""
    u: dict[str, str] = {}
    for name in (*FRAME_OPS, "flame.layout"):
        key = name if name.startswith("flame.") else f"frame.{name}"
        u.update({f"{key}_ms": "ms", f"{key}.jobs": "count",
                  f"{key}.driver_ms": "ms"})
    u.update({
        "xml.load_experiments_s": "s",
        "xml.load_experiments.executor_cpu_s": "s",
        "xml.load_experiments.executor_run_s": "s",
        "xml.load_experiments.tasks": "count",
        "xml.load_experiments.driver_s": "s",
        "sinks.write_profiles_s": "s", "sinks.output_mb": "MB",
        "sinks.files_written": "count", "sinks.read_profiles_s": "s",
        "cct.hot_paths_s": "s", "cct.hot_paths.shuffle_write_mb": "MB",
        "cct.merge_profiles_s": "s", "cct.merge_profiles.shuffle_write_mb": "MB",
    })
    for e in TPCH_ENTRIES:
        u.update({f"queries.{e}.cold_s": "s", f"queries.{e}.warm_s": "s",
                  f"queries.{e}.warm.shuffle_write_mb": "MB",
                  f"queries.{e}.warm.driver_s": "s"})
    for c in (*COUNTERS, "driver_s"):
        u[f"spark.{c}"] = ("count" if c in ("jobs", "tasks")
                           else "MB" if c.endswith("_mb") else "s")
    u.update({"jvm.peak_rss_mb": "MB", "trace.wall_s": "s", "trace.overhead_ms": "ms",
              "trace.spans": "count"})
    return u


LAYER_UNITS = _layer_units()
