"""Regenerate ``data/documents_x4.parquet``, the corpus the seeds pick from.

    python3 perfbench/make_data.py <sf0.1 data dir>

Run from the repository root. ``tools/make_scaled_data.py``'s
``scale_table`` derives ``inputs.REPLICAS`` replicas of the sf0.1
``documents`` table (replica 0 is the original; the others keep a
hash-chosen half of each text's words). The result is stored as one
parquet file ordered by ``doc_id``, so that a run picks its seeded corpus
from it with DuckDB and starts no JVM before its timed set-up.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from inputs import BASE, REPLICAS
    from make_scaled_data import scale_table
    from palladian_spark.sources.session import get_spark

    spark = get_spark("perfbench-make-data")
    try:
        with tempfile.TemporaryDirectory(dir=os.path.dirname(BASE)) as tmp:
            out = os.path.join(tmp, "out")
            (
                scale_table(spark, argv[0], "documents", REPLICAS)
                .coalesce(1)
                .sortWithinPartitions("doc_id")
                .write.parquet(out)
            )
            (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
            shutil.move(part, BASE)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
