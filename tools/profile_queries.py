"""Per-query plan capture and cold-sample timing.

For each named query: capture .explain("formatted") to
plans/r13/<name>_<tag>.txt, then time N cold samples (clearCache before
each, same methodology as bench.py) of BOTH the bench action
(.collect()) and the noop sink, printing a compact per-query line.

Usage:
    python tools/profile_queries.py [--sf DIR] [--runs N] [--tag before|after]
                                    [--no-plans] query [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    from open_pulsar_spark import get_spark, registry

    spark = get_spark("open-pulsar-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()

    # warmup (bench.py contract)
    qs["q1_pricing_summary"](spark, args.sf).collect()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r13",
    )
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if not args.no_plans:
            spark.catalog.clearCache()
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
        col_times, noop_times = [], []
        n = 0
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.time()
            n = len(qs[name](spark, args.sf).collect())
            col_times.append(time.time() - t0)
            spark.catalog.clearCache()
            t0 = time.time()
            (
                qs[name](spark, args.sf)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            noop_times.append(time.time() - t0)
        print(
            f"{name}: collect min {min(col_times):.2f}s "
            f"{[round(t, 2) for t in sorted(col_times)]} | "
            f"noop min {min(noop_times):.2f}s "
            f"{[round(t, 2) for t in sorted(noop_times)]} ({n} rows)",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
