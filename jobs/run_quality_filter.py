#!/usr/bin/env python
"""spark-submit entry point for the web-text quality-filter pipeline.

Cluster launch (north star):

    zip -r hyperpolyglot_spark.zip hyperpolyglot_spark
    spark-submit --driver-memory 8g --py-files hyperpolyglot_spark.zip \\
        jobs/run_quality_filter.py \\
        --input  /path/to/pages_parquet_or_iceberg \\
        --output /path/to/out \\
        --n-buckets 4096 --group-size 256

4096/256 is a cluster-scale example; without the two flags the job
uses the default layout of 64 buckets in groups of 16
(plans/resume.py: DEFAULT_N_BUCKETS, DEFAULT_GROUP_SIZE).

(--driver-memory matters in local mode: driver == executor there, and
session-time spark.driver.memory cannot resize a JVM spark-submit has
already launched. ~50KB html rows need heap for scan + Arrow batches;
the session also caps the parquet reader batch at 512 rows so a
default-heap run degrades gracefully instead of OOMing the scan.)

Resumable: re-running the same command continues from the bucket
manifest (plans/resume.py). Each bucket group is one Spark job that
labels its pages once and is committed twice: first the Spark write
commits its labels under <output>/labels, one parquet file per bucket
dir; then its per-bucket lineage + metrics rows, counted by the label
tasks themselves, are committed from the driver under
<output>/_manifest by renaming a hidden temp file visible. A run killed
before the rename redoes that group on rerun.

With --synthesize N the job generates N deterministic synthetic pages
instead of reading --input (self-contained smoke/bench runs).
"""

from __future__ import annotations

import argparse
import sys

from hyperpolyglot_spark.plans.pipeline import (
    DEFAULT_UNRESOLVED_POLICY,
    UNRESOLVED_POLICIES,
)
from hyperpolyglot_spark.plans.resume import (
    DEFAULT_GROUP_SIZE,
    DEFAULT_N_BUCKETS,
    read_manifest,
    run_with_resume,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (parquet dir)")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    p.add_argument("--group-size", type=int, default=DEFAULT_GROUP_SIZE)
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N synthetic pages instead of --input")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores; omit on a real cluster")
    p.add_argument("--unresolved-policy", default=DEFAULT_UNRESOLVED_POLICY,
                   choices=UNRESOLVED_POLICIES,
                   help="disposition of docs the language classifier "
                        "declines (default: quarantine — labels keep "
                        "them, disposition column routes them out of "
                        "the training mix; see plans/pipeline.py)")
    args = p.parse_args(argv)
    # usage errors exit before a JVM starts
    if not (args.synthesize or args.input):
        p.error("need --input or --synthesize")

    from hyperpolyglot_spark.session import get_spark

    spark = get_spark("quality_filter", cores=args.cores)
    if args.synthesize:
        from hyperpolyglot_spark.datagen.pages import pages_df

        pages = pages_df(spark, args.synthesize)
    else:
        pages = spark.read.parquet(args.input)

    groups = run_with_resume(
        spark,
        pages,
        args.output,
        n_buckets=args.n_buckets,
        group_size=args.group_size,
        unresolved_policy=args.unresolved_policy,
    )
    print(f"completed {groups} bucket group(s); output at {args.output}")

    read_manifest(spark, args.output).orderBy("bucket").show(200, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
