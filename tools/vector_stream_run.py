#!/usr/bin/env python
"""Continuous vector-index ingest demo: embedding files land in waves;
each drain of the availableNow stream assigns ONLY the newly landed
vectors to their fixed coarse cells and overwrites that batch's
``batch_id=N/cell=K`` partition (streaming/vectors.py — exactly-once,
kill/resume pinned in tests/test_vector_stream.py).  After every wave
the store is probed and checked equal to an in-memory probe over
everything landed so far; the final act compacts the batches into
``batch_id=-1`` and re-probes.

Usage: python tools/vector_stream_run.py [n_waves] [sf_dir]
Prints one JSON line: per-wave vector counts + probe equality + file
counts before/after compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hpctoolkit_dataframe_spark import get_spark  # noqa: E402
from hpctoolkit_dataframe_spark.queries import load_table  # noqa: E402
from hpctoolkit_dataframe_spark.queries import vectors as V  # noqa: E402
from hpctoolkit_dataframe_spark.streaming import vectors as sv  # noqa: E402


def _probe(spark, base, queries, cents):
    return {(r.query_id, r.rk): (r.neighbor_id, r.cos)
            for r in sv.probe_vector_store(spark, queries, cents, base)
            .collect()}


def main() -> None:
    waves = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    tmp = tempfile.mkdtemp(prefix="vector_stream_")
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    base, ckpt = os.path.join(tmp, "store"), os.path.join(tmp, "ckpt")
    spark = get_spark("vector-stream")
    spark.sparkContext.setLogLevel("ERROR")

    emb_all = V._quantized_corpus(spark, sf_dir)
    cents, _ = V._lloyd(emb_all)
    cents = cents.localCheckpoint(eager=True)
    queries = emb_all.filter(F.col("vec_id") < V.N_QUERIES)
    raw = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") >= V.N_QUERIES)
    ids = sorted(r.vec_id for r in raw.select("vec_id").collect())
    step = (len(ids) + waves - 1) // waves

    wave_stats = []
    try:
        for w in range(waves):
            lo = ids[w * step]
            hi = ids[min((w + 1) * step, len(ids)) - 1] + 1
            chunk = raw.filter((F.col("vec_id") >= lo)
                               & (F.col("vec_id") < hi))
            stage = os.path.join(tmp, f"stage{w}")
            chunk.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(f for f in os.listdir(stage)
                        if f.endswith(".parquet"))
            shutil.move(os.path.join(stage, part),
                        os.path.join(landing, f"wave{w}.parquet"))

            t0 = time.time()
            stream = (spark.readStream.schema(raw.schema)
                      .option("maxFilesPerTrigger", 1).parquet(landing))
            sv.run_vector_store_stream(stream, cents, base, ckpt,
                                       query_name=f"vec_wave{w}")
            landed = raw.filter(F.col("vec_id") < hi)
            got = _probe(spark, base, queries, cents)
            want = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
                    for r in V.probe_cells(
                        queries, cents,
                        V.assign_to_cells(emb_all.filter(
                            (F.col("vec_id") >= V.N_QUERIES)
                            & (F.col("vec_id") < hi)), cents)).collect()}
            wave_stats.append({
                "wave": w,
                "landed_total": landed.count(),
                "store_rows": sv.read_vector_store(spark, base).count(),
                "probe_equal": got == want,
                "sec": round(time.time() - t0, 2),
            })
        before_probe = _probe(spark, base, queries, cents)
        files_before, files_after = sv.compact_vector_store(spark, base)
        after_probe = _probe(spark, base, queries, cents)
        print(json.dumps({
            "waves": wave_stats,
            "compaction": {"files_before": files_before,
                           "files_after": files_after,
                           "probe_unchanged": before_probe == after_probe},
            "ok": all(s["probe_equal"] for s in wave_stats)
            and before_probe == after_probe,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
