"""Extract the benchmark's input tables from a generated test-data tree.

Usage (from the repository root):

    python3 perfbench/make_data.py --sf-dir <dir holding sf0.1 and sf0.01>

It writes ``perfbench/data/``:

* ``sf0.1/embeddings.parquet`` and ``sf0.01/embeddings.parquet``: the
  2000- and 500-row embeddings tables, copied byte for byte.
* ``sf0.1/lineitem_slice.parquet``: the sf0.1 lineitem rows whose row
  hash (the point id of ``__spark_entry__._fit_lineitem``) is 0 modulo
  ``SLICE_MOD``, with the eight columns that hash reads.

The benchmark reads only these files, so it runs without the test-data
tree. Re-run this script only to refresh them.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
#: one lineitem row in SLICE_MOD is kept: ~40k of sf0.1's 600k rows
SLICE_MOD = 15
LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True, help="directory holding sf0.1/ and sf0.01/")
    args = ap.parse_args(argv)

    for sf in ("sf0.1", "sf0.01"):
        os.makedirs(os.path.join(DATA, sf), exist_ok=True)
        shutil.copyfile(
            os.path.join(args.sf_dir, sf, "embeddings.parquet"),
            os.path.join(DATA, sf, "embeddings.parquet"),
        )

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        li = spark.read.parquet(os.path.join(args.sf_dir, "sf0.1", "lineitem.parquet"))
        pdf = (
            li.where(F.pmod(F.xxhash64(*LINEITEM_COLS), F.lit(SLICE_MOD)) == 0)
            .select(*LINEITEM_COLS)
            .orderBy("l_orderkey", "l_linenumber")
            .toPandas()
        )
    finally:
        spark.stop()
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(DATA, "sf0.1", "lineitem_slice.parquet"),
        compression="zstd",
    )
    print(f"lineitem slice: {len(pdf)} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
