"""T4/T10/P5: the external-service recognition stage.

Reference: per-image Google Vision ``text_detection`` calls fanned out
over a thread pool (``ocr_service.py:18-47`` + pools at :112-116 and
:218-228), failures downgraded to per-item error text
(``ocr_service.py:226-228``) instead of failing the batch.

Spark shape: one ``mapInPandas`` stage.  Each Arrow batch is recognized
with a per-task token-bucket rate limiter and bounded exponential
backoff (BASELINE.json north_star: "rate-limited per executor with
retry/backoff and idempotent outputs") — idempotency holds because the
output is keyed by the deterministic ``(url, page)`` identity and the
recognizer is pure.  Permanent format errors (``RecognitionError``)
skip retries and become error rows immediately.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..recognizers import RecognitionError, get_recognizer


class TokenBucket:
    """Rate limiter (qps; burst = qps), one per task: the job-wide rate
    is up to ``qps`` times the tasks running at once."""

    def __init__(self, qps: float):
        self.qps = qps
        self.capacity = max(qps, 1.0)
        self.tokens = self.capacity
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.qps)
            self.last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep(max((1.0 - self.tokens) / self.qps, 0.001))


def recognize_stage(
    df: DataFrame,
    image_col: str = "image",
    id_col: str = "page",
    recognizer: str = "stub",
    rate_limit_qps: float | None = None,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
) -> DataFrame:
    """Replace ``image_col`` with ``text`` + ``ocr_error`` columns.

    Output schema = input columns minus the image, plus
    ``text: string, ocr_error: boolean``.
    """
    passthrough = [f for f in df.schema.fields if f.name != image_col]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in passthrough)
        + ", text string, ocr_error boolean"
    )
    pass_names = [f.name for f in passthrough]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_recognizer(recognizer)
        bucket = TokenBucket(rate_limit_qps) if rate_limit_qps else None

        def recognize_one(payload: bytes | None, item_id) -> tuple[str, bool]:
            if payload is None:
                if item_id == 0:  # zero-page-document marker (rasterize.py)
                    return "", False
                # upstream decode failure (rasterizer fault isolation)
                return f"OCR Error for ID {item_id}: corrupt document payload", True
            attempt = 0
            while True:
                if bucket is not None:
                    bucket.acquire()
                try:
                    return engine.recognize(bytes(payload)), False
                except RecognitionError as exc:
                    # permanent: error-as-data (ocr_service.py:228 format)
                    return f"OCR Error for ID {item_id}: {exc}", True
                except Exception as exc:
                    attempt += 1
                    if attempt > max_retries:
                        return f"OCR Error for ID {item_id}: {exc}", True
                    time.sleep(backoff_base_s * (2 ** (attempt - 1)))

        for pdf in batches:
            texts: list[str] = []
            errors: list[bool] = []
            for payload, item_id in zip(pdf[image_col], pdf[id_col]):
                text, is_err = recognize_one(payload, item_id)
                texts.append(text)
                errors.append(is_err)
            out = pdf[pass_names].copy()
            out["text"] = texts
            out["ocr_error"] = errors
            yield out

    return df.mapInPandas(run, out_schema)
