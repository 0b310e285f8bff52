"""Cold-sample measurement for the keyed-pin question (round-7 task #4):
does dedup_minhash_lsh pay for its materialize.pin_keyed cache in bench's
cold-per-sample regime (clearCache between samples)?

Usage: python tools/measure_pin_cold.py [sf_dir] [runs] [query ...]
Prints per-run times + min/median, exactly bench.py's sampling shape.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    names = sys.argv[3:] or ["dedup_minhash_lsh"]

    from open_pulsar_spark import get_spark, registry

    spark = get_spark("measure-pin-cold")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    # same warmup shape as bench.py
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    for name in names:
        times = []
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.time()
            n = len(qs[name](spark, sf_dir).collect())
            times.append(round(time.time() - t0, 3))
        times_sorted = sorted(times)
        print(
            f"{name}: min {times_sorted[0]} med "
            f"{times_sorted[len(times_sorted) // 2]} runs {times} rows {n}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
