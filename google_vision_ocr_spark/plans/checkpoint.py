"""M5: resumable partitioned extraction with lineage + counters.

North rule: "resumable from checkpoint with per-partition lineage +
metrics".  The reference has no such notion (a killed run restarts from
scratch); this is the batch-job equivalent of its tempdir spool
(``epub_processor.py:84-91``) done properly for a 10^12-row table:

- The input is processed in **partition units** — deterministic buckets
  of the url space (``pmod(xxhash64(url), n_buckets)``), the stand-in
  for Iceberg partitions (``days(warc_ts)`` + url bucket) in this
  parquet-only implementation.  The bucket is the unit of lineage and
  of resume.
- Pending buckets run in **groups, one Spark job per group**, of
  ``min(ceil(n_buckets × fanout_target / input_splits),
  floor(n_buckets × maxPartitionBytes / input_bytes))`` buckets, at
  least one (:func:`buckets_per_job`).  A group whose rows add up to
  less than one cluster-wide wave of tasks gains no parallelism from
  being split, and each extra job costs a full re-scan plus fixed job
  overhead; but no group holds more than one scan split's worth of
  input bytes.  So a small input (one scan split on a few cores) runs
  every bucket in one job, on every core: the group is fanned out to
  ``defaultParallelism`` tasks before the fused stage, and since
  ``rate_limit_qps`` holds per task, the job-wide rate is up to that
  many times it.  An input with far more scan splits than cores, or
  with more than one split's worth of bytes per bucket — e.g. 10 GB
  on 80 splits with 16 buckets and 400 cores — runs one bucket per
  job.  Each per-bucket job still scans the whole input and filters
  it: pruning those scans needs an input partitioned by the bucket,
  which this job does not assume.
- A group's job writes one ``partitionBy("part")`` parquet with dynamic
  partition overwrite, so each bucket lands under ``data/part=<k>/``
  and completed buckets' files are never touched; a bucket without
  rows gets a schema-only file there.  Its per-bucket counters (docs,
  pages rasterized = rows recognized, OCR calls, bytes extracted,
  errors) are gathered in the same action by one ``df.observe`` of
  conditional sums — no second pass.
- Only after the job commits are the **manifest rows**
  ``manifest/part-<k>.json`` written, in bucket order, each by an
  atomic rename, with lineage (the group it committed with, the
  output path) and counters.  A kill between manifests leaves a
  consistent prefix; a kill *inside* a group's job leaves no manifest
  for any of its buckets, and the whole group is redone idempotently
  (deterministic results ⇒ rewrite converges to identical bytes).
- On restart, completed buckets are skipped by reading the manifest —
  the anti-join of work units against lineage.

At real scale each unit is one Iceberg partition and units run from a
driver loop (or N drivers on disjoint unit ranges); the per-unit work
is still fully distributed across the cluster.
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..fanout import current_partitions, fanout, fanout_target
from .fused import extract_fused

MANIFEST_DIR = "manifest"
DATA_DIR = "data"


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def _bucket_path(output_path: str, bucket: int) -> str:
    return os.path.join(output_path, DATA_DIR, f"part={bucket}")


def completed_buckets(output_path: str) -> dict[int, dict]:
    mdir = os.path.join(output_path, MANIFEST_DIR)
    done: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return done
    for fn in os.listdir(mdir):
        if fn.startswith("part-") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            done[m["bucket"]] = m
    return done


def _input_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``: the files' total size on
    a file scan, ``Long.MaxValue`` where Spark cannot tell.  Runs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def buckets_per_job(input_df: DataFrame, n_buckets: int) -> int:
    """Buckets per Spark job: enough that a group's share of the input
    splits fills one wave of ``fanout_target`` tasks, but no more than
    one scan split's worth of input bytes
    (``spark.sql.files.maxPartitionBytes``) per group: grouping saves
    re-scans and job overhead, which matter only while a bucket's work
    is small, and it must not put a mid-size input (gigabytes on fewer
    splits than cores) behind one commit.  Uses fanout's memoized
    partition probe and the plan's size estimate; neither runs a job
    on a plain scan."""
    splits = max(1, current_partitions(input_df))
    by_splits = math.ceil(n_buckets * fanout_target(input_df) / splits)
    conf = input_df.sparkSession._jsparkSession.sessionState().conf()
    split_bytes = conf.filesMaxPartitionBytes()
    by_bytes = n_buckets * split_bytes // max(1, _input_bytes(input_df))
    return max(1, min(by_splits, by_bytes))


def group_plan(input_df: DataFrame, group: list[int], n_buckets: int,
               **extract_kwargs) -> DataFrame:
    """The extraction of ``group``'s buckets, with their ``part``
    column.  The filtered input is fanned out on url unless
    ``salt_partitions`` is set, in which case ``extract_fused``
    already shuffles it on url."""
    src = input_df.filter(_bucket_col(n_buckets).isin(group))
    if not extract_kwargs.get("salt_partitions"):
        src = fanout(src, "url")
    return extract_fused(src, **extract_kwargs).withColumn("part", _bucket_col(n_buckets))


def _run_group(input_df: DataFrame, output_path: str, group: list[int],
               n_buckets: int, extract_kwargs: dict) -> dict[int, dict]:
    """One job: extract and write ``group``'s buckets; returns each
    bucket's counters."""
    values = {
        "docs": F.lit(1),
        "pages": F.col("n_pages"),
        "ocr_calls": F.when(F.col("kind").isin("pdf", "image"), F.col("n_pages")),
        "bytes_extracted": F.octet_length("text"),
        "errors": F.col("n_errors"),
    }
    obs = Observation(f"extract-b{group[0]}-{group[-1]}")
    observed = group_plan(input_df, group, n_buckets, **extract_kwargs).observe(
        obs,
        *[F.sum(F.when(F.col("part") == b, v)).alias(f"{name}:{b}")
          for b in group for name, v in values.items()],
    )
    (observed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("part").parquet(os.path.join(output_path, DATA_DIR)))
    got = obs.get
    counters = {b: {name: int(got[f"{name}:{b}"] or 0) for name in values} for b in group}
    # the partitioned write makes no directory for a bucket without
    # rows; give it a schema-only file so its manifest's output exists
    # and an all-empty output still reads back
    schema = observed.drop("part").schema
    for b in group:
        if not counters[b]["docs"]:
            (input_df.sparkSession.createDataFrame([], schema).write.mode("overwrite")
             .parquet(_bucket_path(output_path, b)))
    return counters


def _write_manifest(output_path: str, manifest: dict) -> None:
    bucket = manifest["bucket"]
    tmp = os.path.join(output_path, MANIFEST_DIR, f".part-{bucket}.json.tmp")
    final = os.path.join(output_path, MANIFEST_DIR, f"part-{bucket}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, final)  # atomic: manifest appears only when done


def run_checkpointed_extract(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    **extract_kwargs,
) -> dict:
    """Extract ``input_df`` in bucket groups, resuming past completed
    buckets.  Returns a summary with per-bucket counters.

    ``fail_after_bucket`` injects a crash after the given bucket
    completes (for kill/resume tests).
    """
    os.makedirs(os.path.join(output_path, MANIFEST_DIR), exist_ok=True)
    done = completed_buckets(output_path)
    summary = {"resumed_buckets": sorted(done), "processed_buckets": [],
               "counters": {b: m["counters"] for b, m in done.items()}}
    pending = [b for b in range(n_buckets) if b not in done]
    per_job = buckets_per_job(input_df, n_buckets) if pending else 1
    for i in range(0, len(pending), per_job):
        group = pending[i:i + per_job]
        counters = _run_group(input_df, output_path, group, n_buckets, extract_kwargs)
        for bucket in group:
            _write_manifest(output_path, {
                "bucket": bucket,
                "n_buckets": n_buckets,
                "group": group,
                "counters": counters[bucket],
                "completed_at_unix": int(time.time()),
                "output": _bucket_path(output_path, bucket),
            })
            summary["processed_buckets"].append(bucket)
            summary["counters"][bucket] = counters[bucket]
            if fail_after_bucket is not None and bucket >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {bucket}")
    summary["counters"] = dict(sorted(summary["counters"].items()))
    return summary


def read_checkpointed_output(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_path, DATA_DIR))
