"""Per-query isolation bench (round 6 optimization work).

NOT the driver contract — ``bench.py`` stays the frozen measurement. This
harness times individual ``queries()`` entries with the noop sink (guide
§1.4), optionally interleaved over multiple reps so A/B comparisons are
host-noise-robust, and prints one JSON line.

Usage::

    python bench_extra.py --sf-dir /root/testdata/sf1.0 --reps 2 \
        --only winnow_pairs,contamination

Env: SPARK_GRAFT_CPUS (default 32) — same session shape as bench.py.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

from bench import HEADLINE, make_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    import bench

    spark = make_spark(f"local[{bench.CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    for t in ("orders", "lineitem", "events", "documents", "embeddings",
              "customer", "nation", "region"):
        spark.read.parquet(f"{args.sf_dir}/{t}.parquet").limit(1).count()
    bench.warm_python_workers(spark)

    qs = entrymod.queries()
    names = args.only.split(",") if args.only else HEADLINE
    samples: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            qs[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(round(time.time() - t0, 3))
    spark.stop()
    med = {n: statistics.median(v) for n, v in samples.items()}
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "median": med,
        "samples": samples,
        "total_median": round(sum(med.values()), 3),
    }))


if __name__ == "__main__":
    main()
