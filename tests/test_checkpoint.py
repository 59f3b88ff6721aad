"""M5: kill/resume — no completed bucket reprocessed, identical output."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark import oracle
from google_vision_ocr_spark.fanout import current_partitions
from google_vision_ocr_spark.plans.checkpoint import (
    buckets_per_job,
    completed_buckets,
    read_checkpointed_output,
    run_checkpointed_extract,
)


def test_kill_and_resume(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    df = spark.read.parquet(fixture_dir["pages"])

    # first run dies after bucket 2
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=6, fail_after_bucket=2)
    done_after_crash = completed_buckets(out)
    assert sorted(done_after_crash) == [0, 1, 2]

    # resume: buckets 0-2 skipped, 3-5 processed
    summary = run_checkpointed_extract(spark, df, out, n_buckets=6)
    assert summary["resumed_buckets"] == [0, 1, 2]
    assert summary["processed_buckets"] == [3, 4, 5]

    # output identical to the oracle, nothing lost or duplicated
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    expected = {r.url: r.text for r in oracle.extract_table(rows)}
    got_rows = read_checkpointed_output(spark, out).collect()
    got = {r["url"]: r["text"] for r in got_rows}
    assert len(got_rows) == len(expected)
    assert got == expected

    # counters: lineage metrics add up
    total_docs = sum(c["docs"] for c in summary["counters"].values())
    assert total_docs == len(expected)
    total_errors = sum(c["errors"] for c in summary["counters"].values())
    assert total_errors == 0
    assert all(c["bytes_extracted"] > 0 for c in summary["counters"].values())


def test_second_resume_is_noop(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt2")
    df = spark.read.parquet(fixture_dir["pages"])
    run_checkpointed_extract(spark, df, out, n_buckets=3)
    summary = run_checkpointed_extract(spark, df, out, n_buckets=3)
    assert summary["resumed_buckets"] == [0, 1, 2]
    assert summary["processed_buckets"] == []


# ------------------------------------------------ grouped bucket jobs

def _oracle_texts(fixture_dir) -> dict:
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    return {r.url: r.text for r in oracle.extract_table(rows)}


def _output_texts(spark, out) -> dict:
    got_rows = read_checkpointed_output(spark, out).collect()
    got = {r["url"]: r["text"] for r in got_rows}
    assert len(got) == len(got_rows), "a url was written twice"
    return got


def _jobs_in_group(spark, group_id, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group_id, group_id)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group_id))


def test_one_scan_split_runs_all_buckets_in_one_group(spark, fixture_dir, tmp_path):
    """On a one-split input the bucket count does not change the job
    count: every bucket rides in the same group."""
    df = spark.read.parquet(fixture_dir["pages"])
    assert current_partitions(df) == 1
    jobs = {
        n: _jobs_in_group(spark, f"ckpt-jobs-{n}-{tmp_path.name}",
                          lambda n=n: run_checkpointed_extract(
                              spark, df, str(tmp_path / f"n{n}"), n_buckets=n))
        for n in (3, 6)
    }
    assert jobs[3] > 0
    assert jobs[3] == jobs[6], jobs
    for n in (3, 6):
        groups = {tuple(m["group"]) for m in completed_buckets(str(tmp_path / f"n{n}")).values()}
        assert groups == {tuple(range(n))}


def test_many_scan_splits_run_one_bucket_per_job(spark, fixture_dir, tmp_path):
    """With more input splits than one wave of tasks per bucket, each
    bucket is its own job, so a kill after bucket 2 keeps exactly 0-2."""
    out = str(tmp_path / "ckpt64")
    df = spark.read.parquet(fixture_dir["pages"]).repartition(64, "url")
    assert buckets_per_job(df, 6) == 1
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=6, fail_after_bucket=2)
    assert sorted(completed_buckets(out)) == [0, 1, 2]

    summary = run_checkpointed_extract(spark, df, out, n_buckets=6)
    assert summary["processed_buckets"] == [3, 4, 5]
    assert all(m["group"] == [b] for b, m in completed_buckets(out).items())
    assert _output_texts(spark, out) == _oracle_texts(fixture_dir)


def _bucket_files(out, buckets) -> dict:
    files = {}
    for b in buckets:
        d = os.path.join(out, "data", f"part={b}")
        files[b] = sorted((fn, os.stat(os.path.join(d, fn)).st_mtime_ns) for fn in os.listdir(d))
    return files


def test_resume_leaves_completed_buckets_untouched(spark, fixture_dir, tmp_path):
    """A resumed group overwrites only its own buckets' directories."""
    out = str(tmp_path / "ckpt")
    df = spark.read.parquet(fixture_dir["pages"])
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed_extract(spark, df, out, n_buckets=6, fail_after_bucket=2)
    before = _bucket_files(out, [0, 1, 2])
    assert all(before.values())

    run_checkpointed_extract(spark, df, out, n_buckets=6)
    assert _bucket_files(out, [0, 1, 2]) == before
    assert _output_texts(spark, out) == _oracle_texts(fixture_dir)


def test_manifest_counters_match_oracle_per_bucket(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    n = 4
    df = spark.read.parquet(fixture_dir["pages"])
    run_checkpointed_extract(spark, df, out, n_buckets=n)

    bucket_of = {
        r["url"]: r["b"]
        for r in df.select("url", F.pmod(F.xxhash64("url"), F.lit(n)).alias("b")).collect()
    }
    want = {b: dict.fromkeys(("docs", "pages", "ocr_calls", "bytes_extracted", "errors"), 0)
            for b in range(n)}
    rows = pq.read_table(fixture_dir["pages"]).to_pylist()
    for r in oracle.extract_table(rows):
        w = want[bucket_of[r.url]]
        w["docs"] += 1
        w["pages"] += r.n_pages
        w["ocr_calls"] += r.n_pages if r.kind in ("pdf", "image") else 0
        w["bytes_extracted"] += len(r.text.encode())
        w["errors"] += r.n_errors
    got = {b: m["counters"] for b, m in completed_buckets(out).items()}
    assert got == want


def _assert_manifest_outputs_exist(out, n):
    done = completed_buckets(out)
    assert sorted(done) == list(range(n))
    for m in done.values():
        assert any(fn.endswith(".parquet") for fn in os.listdir(m["output"])), m["output"]


def test_empty_input_reads_back_empty(spark, fixture_dir, tmp_path):
    """Buckets without rows still get a readable output directory."""
    out = str(tmp_path / "ckpt")
    df = spark.read.parquet(fixture_dir["pages"]).filter(F.col("url").isNull())
    summary = run_checkpointed_extract(spark, df, out, n_buckets=3)
    assert all(c["docs"] == 0 for c in summary["counters"].values())
    _assert_manifest_outputs_exist(out, 3)
    got = read_checkpointed_output(spark, out)
    assert got.count() == 0
    assert {"url", "text", "part"} <= set(got.columns)


def test_more_buckets_than_urls(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "ckpt")
    df = spark.read.parquet(fixture_dir["pages"])
    urls = sorted(r["url"] for r in df.select("url").distinct().limit(3).collect())
    df = df.filter(F.col("url").isin(urls))
    run_checkpointed_extract(spark, df, out, n_buckets=8)
    _assert_manifest_outputs_exist(out, 8)
    want = {u: t for u, t in _oracle_texts(fixture_dir).items() if u in urls}
    assert _output_texts(spark, out) == want


def test_input_bytes_is_the_scanned_files_size(spark, fixture_dir):
    from google_vision_ocr_spark.plans.checkpoint import _input_bytes

    path = fixture_dir["pages"]  # one parquet file
    assert _input_bytes(spark.read.parquet(path)) == os.path.getsize(path)


def test_mid_size_input_keeps_one_bucket_per_job(spark, fixture_dir, monkeypatch):
    """Fewer splits than cores must not group gigabytes of input: 10 GB
    on 80 splits, 400 cores, 16 buckets runs one bucket per job."""
    from google_vision_ocr_spark.plans import checkpoint

    df = spark.read.parquet(fixture_dir["pages"])
    monkeypatch.setattr(checkpoint, "current_partitions", lambda _df: 80)
    monkeypatch.setattr(checkpoint, "fanout_target", lambda _df: 400)
    monkeypatch.setattr(checkpoint, "_input_bytes", lambda _df: 10 << 30)
    assert buckets_per_job(df, 16) == 1
    # the same splits and cores on a small input group by splits alone
    monkeypatch.setattr(checkpoint, "_input_bytes", lambda _df: 600 << 10)
    assert buckets_per_job(df, 16) == 80
