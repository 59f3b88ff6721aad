"""spark-submit entry point for the extraction job.

Launch (BASELINE.json north_star: ``spark-submit --py-files``):

    # package the library once
    cd /root/repo && zip -qr /tmp/gvos.zip google_vision_ocr_spark

    spark-submit --py-files /tmp/gvos.zip scripts/submit_extract.py \\
        --input  /path/to/pages_parquet \\
        --output /path/to/output \\
        --n-buckets 64 --salt-partitions 256 --rate-limit-qps 0

On a cluster, add ``--master yarn``/``--master k8s://...`` and executor
confs to spark-submit; the job code is identical (the session is
obtained via ``SparkSession.builder.getOrCreate`` so submit-time confs
win).  The run is resumable: re-submitting with the same ``--output``
skips completed buckets via the manifest (per-partition lineage).

Pending buckets run ``min(ceil(n_buckets × defaultParallelism ÷ input
splits), floor(n_buckets × spark.sql.files.maxPartitionBytes ÷ input
bytes))`` to a Spark job, at least one.  On a corpus with far more scan
splits than cores, or more than one split's worth of bytes per bucket
(any input above 1 GB with ``--n-buckets 16``), that is one bucket per job,
so every bucket commits on its own; only a small input lets several
buckets share a job, and a kill inside it redoes the whole group.  Each
per-bucket job scans the whole input and filters it to its bucket:
pruning those scans needs an input partitioned by the bucket.
``--rate-limit-qps`` holds per running task, not per job.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--rate-limit-qps", type=float, default=None,
                    help="Vision calls per second per running task; the job-wide "
                         "rate is up to this times the concurrent tasks")
    ap.add_argument("--recognizer", default="stub",
                    choices=["stub", "google-vision"])
    ap.add_argument("--otsu", action="store_true")
    ap.add_argument("--deskew", action="store_true")
    ap.add_argument("--dpi-normalize", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("extract-pages")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from google_vision_ocr_spark.plans.checkpoint import run_checkpointed_extract

    df = spark.read.parquet(args.input)
    summary = run_checkpointed_extract(
        spark,
        df,
        args.output,
        n_buckets=args.n_buckets,
        salt_partitions=args.salt_partitions,
        rate_limit_qps=args.rate_limit_qps,
        recognizer=args.recognizer,
        otsu=args.otsu,
        do_deskew=args.deskew,
        dpi=args.dpi_normalize,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
