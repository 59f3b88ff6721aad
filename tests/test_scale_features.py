"""Scale features: partition pruning, rate limiting, retry/backoff."""

import time

import pytest
from pyspark.sql import functions as F

from google_vision_ocr_spark import fixtures


def test_partitioned_layout_prunes(spark, tmp_path):
    from google_vision_ocr_spark.sources.catalog import (
        read_pages_partitioned,
        write_pages_partitioned,
    )

    src = spark.createDataFrame(
        fixtures.generate_pages(n_urls=40, seed=3, skew_pages=10).to_pandas()
    )
    path = str(tmp_path / "pages_part")
    write_pages_partitioned(src, path, n_buckets=4)

    pruned = read_pages_partitioned(spark, path, url_buckets=[0, 1])
    full = read_pages_partitioned(spark, path)
    assert 0 < pruned.count() < full.count() == 40
    # the partition filter must show up in the scan, not as a post-filter
    plan = pruned._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "url_bucket" in plan.split("PartitionFilters")[1][:200]


def test_rate_limiter_throttles():
    from google_vision_ocr_spark.operators.recognize import TokenBucket

    bucket = TokenBucket(qps=200)
    t0 = time.monotonic()
    for _ in range(300):
        bucket.acquire()
    elapsed = time.monotonic() - t0
    # 300 acquisitions at 200 qps with burst 200 -> >= ~0.5s
    assert elapsed >= 0.4, elapsed


def test_retry_recovers_from_transient_failures(spark, fixture_dir):
    """flaky-stub fails each payload's first attempt; bounded backoff
    must recover with zero error rows and unchanged bytes."""
    import pyarrow.parquet as pq

    from google_vision_ocr_spark import oracle
    from google_vision_ocr_spark.plans.fused import extract_fused

    df = spark.read.parquet(fixture_dir["pages"]).limit(20)
    got = {r["url"]: r for r in
           extract_fused(df, recognizer="flaky-stub", max_retries=2,
                         backoff_base_s=0.01).collect()}
    urls = set(got)
    rows = [r for r in pq.read_table(fixture_dir["pages"]).to_pylist() if r["url"] in urls]
    for r in oracle.extract_table(rows):
        assert got[r.url]["n_errors"] == 0, r.url
        assert got[r.url]["text"] == r.text, r.url


def test_page_level_salt_honours_max_retries(spark, fixture_dir):
    """The staged page-level shape passes ``max_retries`` to recognition:
    with no retry allowed, every flaky-stub OCR page is an error row."""
    from google_vision_ocr_spark.plans.fused import extract_fused

    df = spark.read.parquet(fixture_dir["pages"]).limit(20)
    got = extract_fused(df, recognizer="flaky-stub", page_level_salt=True,
                        salt_partitions=4, max_retries=0, backoff_base_s=0.01).collect()
    ocr = [r for r in got if r["kind"] in ("pdf", "image") and r["n_pages"] > 0]
    assert ocr
    for r in ocr:
        assert r["n_errors"] == r["n_pages"], r["url"]
        assert r["text"].count("OCR Error for ID") == r["n_pages"], r["url"]


def test_w2_handles_null_lang_and_empty_input(spark, tmp_path):
    """The bucketed numbering must keep NULL-lang rows (null-safe
    offset join) and return an empty frame on empty input, like the
    lang-partitioned window it replaced."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "en"), (1, None), (2, "en"), (3, None), (4, "de")],
        "doc_id bigint, lang string",
    ).write.parquet(f"{d}/documents.parquet")
    got = {(r.doc_id): (r.lang, r.rn) for r in e.queries()["w2_row_number"](spark, d).collect()}
    assert got == {
        0: ("en", 1), 2: ("en", 2), 4: ("de", 1),
        1: (None, 1), 3: (None, 2),
    }

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "doc_id bigint, lang string").write.parquet(
        f"{empty}/documents.parquet"
    )
    assert e.queries()["w2_row_number"](spark, empty).count() == 0


def test_w2_clustered_id_band_fans_out(spark, tmp_path):
    """A corpus whose ids all share their top bits (offset/timestamp-
    prefixed id bands — the ADVICE r5 hot-task scenario) must still
    split across many granules: the top-10-post-leading-bits key gives
    every octave 1024 sub-granules, so only ids agreeing in their top
    ~11 bits share a window task.  Also re-checks numbering stays the
    plain per-lang row_number on such ids (bucket key monotone)."""
    import __spark_entry__ as e

    base, step, n = 3 << 50, 1 << 41, 192  # bitlen 52 for every id
    ids = [base + i * step for i in range(n)]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, "en" if i % (3 * step) else "de") for i in ids],
        "doc_id bigint, lang string",
    ).write.parquet(f"{d}/documents.parquet")

    # granule fan-out on the REAL key expression (shared constant)
    buckets = (
        spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        .select(F.expr(e._W2_BUCKET_SQL).alias("b"), "doc_id")
        .collect()
    )
    distinct = {r.b for r in buckets}
    assert len(distinct) >= 64, len(distinct)
    # monotone: bucket order never contradicts id order
    by_id = sorted(buckets, key=lambda r: r.doc_id)
    assert all(a.b <= b.b for a, b in zip(by_id, by_id[1:]))

    got = {r.doc_id: (r.lang, r.rn)
           for r in e.queries()["w2_row_number"](spark, d).collect()}
    for lang in ("en", "de"):
        ranked = sorted(i for i in ids if got[i][0] == lang)
        assert [got[i][1] for i in ranked] == list(range(1, len(ranked) + 1))


def test_linear_counting_saturation_and_empty(spark):
    """Bitmap saturation yields a NULL estimate (not an ln(0) crash);
    empty input yields occupancy 0."""
    from google_vision_ocr_spark.operators.sketch import (
        distinct_linear_counting,
    )

    full = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    row = distinct_linear_counting(full, "k", m=8).collect()[0]
    assert row["occupied"] == 8
    assert row["estimate_e4"] is None

    empty = spark.createDataFrame([], "k bigint")
    row = distinct_linear_counting(empty, "k", m=8).collect()[0]
    assert row["occupied"] == 0
    assert row["estimate_e4"] == 0


def test_scaling_bench_retries_a_timed_out_level(monkeypatch, capsys):
    """A level that times out is retried like a failed one, and no
    "retrying" line follows the last attempt."""
    import importlib.util
    import os
    import subprocess
    import types

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "scaling_bench.py")
    spec = importlib.util.spec_from_file_location("scaling_bench_under_test", path)
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)

    outcomes = []

    def fake_run(*args, **kwargs):
        outcome = outcomes.pop(0)
        if outcome is None:
            raise subprocess.TimeoutExpired(args[0], kwargs["timeout"])
        return types.SimpleNamespace(stdout=outcome, stderr="")

    monkeypatch.setattr(sb.subprocess, "run", fake_run)
    outcomes[:] = [None, 'RESULT {"pages_per_s": 1.0}\n']
    assert sb.run_level(2, "unused") == {"pages_per_s": 1.0}
    assert capsys.readouterr().out.count("retrying") == 1

    outcomes[:] = [None, "no result\n"]
    with pytest.raises(RuntimeError, match="run failed"):
        sb.run_level(2, "unused")
    assert capsys.readouterr().out.count("retrying") == 1
