#!/usr/bin/env python
"""spark-submit entry point for the web-text quality-filter pipeline.

Cluster launch (north star):

    zip -r hyperpolyglot_spark.zip hyperpolyglot_spark
    spark-submit --driver-memory 8g --py-files hyperpolyglot_spark.zip \\
        jobs/run_quality_filter.py \\
        --input  /path/to/pages_parquet_or_iceberg \\
        --output /path/to/out \\
        --n-buckets 4096 --group-size 256

(--driver-memory matters in local mode: driver == executor there, and
session-time spark.driver.memory cannot resize a JVM spark-submit has
already launched. ~50KB html rows need heap for scan + Arrow batches;
the session also caps the parquet reader batch at 512 rows so a
default-heap run degrades gracefully instead of OOMing the scan.)

Resumable: re-running the same command continues from the bucket
manifest (plans/resume.py). Each bucket group is labelled once and
committed twice: first its labels under <output>/labels, one parquet
file per bucket dir, then its per-bucket lineage + metrics rows under
<output>/_manifest, aggregated from the same labels in memory. A run
killed between the two commits redoes that group on rerun.

With --synthesize N the job generates N deterministic synthetic pages
instead of reading --input (self-contained smoke/bench runs).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (parquet dir)")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--group-size", type=int, default=16)
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N synthetic pages instead of --input")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores; omit on a real cluster")
    p.add_argument("--unresolved-policy", default=None,
                   choices=["keep", "drop", "quarantine"],
                   help="disposition of docs the language classifier "
                        "declines (default: quarantine — labels keep "
                        "them, disposition column routes them out of "
                        "the training mix; see plans/pipeline.py)")
    args = p.parse_args(argv)

    from hyperpolyglot_spark.session import get_spark
    from hyperpolyglot_spark.plans.resume import read_manifest, run_with_resume

    spark = get_spark("quality_filter", cores=args.cores)
    if args.synthesize:
        from hyperpolyglot_spark.datagen.pages import pages_df

        pages = pages_df(spark, args.synthesize)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        p.error("need --input or --synthesize")

    from hyperpolyglot_spark.plans.pipeline import DEFAULT_UNRESOLVED_POLICY

    groups = run_with_resume(
        spark,
        pages,
        args.output,
        n_buckets=args.n_buckets,
        group_size=args.group_size,
        unresolved_policy=args.unresolved_policy or DEFAULT_UNRESOLVED_POLICY,
    )
    print(f"completed {groups} bucket group(s); output at {args.output}")

    read_manifest(spark, args.output).orderBy("bucket").show(200, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
