"""Time one index build of a parquet corpus at a given local[N] parallelism,
in a process of its own (a fresh JVM). Prints the build seconds.

    python3 perfbench/scale_probe.py <cpus> <corpus.parquet> <work_dir> <warm_docs> <range_bits>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    cpus, corpus_path, work = int(sys.argv[1]), sys.argv[2], sys.argv[3]
    warm_docs, range_bits = int(sys.argv[4]), int(sys.argv[5])
    from pyspark import StorageLevel

    from harness import start_spark, stop_spark
    from searchengine_spark.query.engine import SearchEngine

    spark = start_spark(cpus, f"perfbench-local{cpus}")
    try:
        df = spark.read.parquet(corpus_path).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        SearchEngine(spark, os.path.join(work, "warm")).build_index_from_df(
            df.limit(warm_docs), fresh=True, range_bits=range_bits
        )
        eng = SearchEngine(spark, os.path.join(work, "index"))
        t0 = time.perf_counter()
        eng.build_index_from_df(df, fresh=True, range_bits=range_bits)
        print(time.perf_counter() - t0)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
