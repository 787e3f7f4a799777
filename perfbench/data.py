"""Build the benchmark's input tables: the sf0.1 twin of the fixture
schema from ``tools/gen_sf.py``, with the generator's fixed seed.

Usage: python3 perfbench/data.py OUT_DIR

The tables are written to a sibling temp dir and renamed into place,
so an interrupted build leaves no half-written ``OUT_DIR``. Workload
seeds pick from these tables; the tables themselves never change.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.1


def main() -> int:
    out = os.path.abspath(sys.argv[1])
    sys.path.insert(0, ROOT)
    from iceberg_twist_spark.session import get_spark
    from tools.gen_sf import gen_tables

    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = get_spark(
        "perfbench-data",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        for name, (df, n_files) in gen_tables(spark, SF).items():
            df.repartition(n_files).write.parquet(os.path.join(tmp, f"{name}.parquet"))
    finally:
        spark.stop()
    os.rename(tmp, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
