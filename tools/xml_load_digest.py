#!/usr/bin/env python
"""Digest of a fully loaded XML profile frame, for before/after checks.

Writes ``files`` ranks of the seeded ``perfbench/xmlgen.py`` profile
into ``xml_dir`` (once; existing files are reused), loads them with
``load_experiments`` (one file: the driver fast path; more than eight:
the executor path), and prints ``oracle_hash.batch_digest`` over every
column, rows sorted by (profile_id, id), ``callpath`` rendered as its
comma-joined ids.  The digest is value-exact and tells NULL from NaN,
so two code versions that print the same line built the same frame.
``profile_id`` is the file path: compare runs that used the same
``xml_dir``.

Usage: python tools/xml_load_digest.py XML_DIR SEED [FILES] [--plain-session]

``--plain-session`` loads under a default SparkSession with Arrow
conversion off instead of ``get_spark``.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

NODES = 3500  # XML elements per profile, as in perfbench's xml_session


def main(argv: list[str]) -> int:
    plain = "--plain-session" in argv
    args = [a for a in argv if not a.startswith("--")]
    xml_dir, seed = args[0], int(args[1])
    files = int(args[2]) if len(args) > 2 else 1

    import xmlgen
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hpctoolkit_dataframe_spark import get_spark
    from hpctoolkit_dataframe_spark.oracle_hash import batch_digest, fold
    from hpctoolkit_dataframe_spark.sources.hpctoolkit_xml import \
        load_experiments

    os.makedirs(xml_dir, exist_ok=True)
    shape = xmlgen.make_shape(seed, NODES)
    for rank in range(files):
        path = os.path.join(xml_dir, f"rank-{rank}.xml")
        if not os.path.exists(path):
            with open(path, "wb") as f:
                f.write(xmlgen.render(shape, xmlgen.sample_profile(
                    shape, seed, rank)))

    if plain:
        spark = (SparkSession.builder.master("local[4]")
                 .appName("xml-load-digest-plain")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "false")
                 .getOrCreate())
    else:
        spark = get_spark("xml-load-digest")
    spark.sparkContext.setLogLevel("ERROR")
    target = (os.path.join(xml_dir, "rank-0.xml") if files == 1
              else [os.path.join(xml_dir, f"rank-{r}.xml")
                    for r in range(files)])
    df, _ = load_experiments(spark, target)
    cols = [F.array_join("callpath", ",").alias("callpath")
            if c == "callpath" else F.col(f"`{c}`") for c in df.columns]
    table = df.select(*cols).orderBy("profile_id", "id").toArrow()
    digest = fold(batch_digest(b, df.columns) for b in table.to_batches())
    session = "plain" if plain else "get_spark"
    print(f"seed={seed} files={files} session={session} "
          f"columns={len(df.columns)} digest={digest}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
