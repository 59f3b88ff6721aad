"""Per-page kernel timings with no Spark (layer L0).

Times the public ``formats`` / ``recognizers`` / ``functions.html``
calls that the fused Python stage makes per page, on a seeded sample
of the workload's own payloads.
"""

from __future__ import annotations

import random
import statistics
import struct
import time

from google_vision_ocr_spark import formats
from google_vision_ocr_spark.functions.html import strip_html_bytes
from google_vision_ocr_spark.recognizers import StubRecognizer

#: sample sizes: up to this many PDF pages and HTML documents
MAX_PAGES = 300
MAX_HTML = 200
#: passes over the sample; the median pass is reported
REPEATS = 3


def _per_item_us(fn, items) -> float:
    """Median over ``REPEATS`` passes of the mean µs per item."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(times)


def _decodes(payload: bytes) -> bool:
    try:
        formats.decode_spdf(payload)
    except (ValueError, struct.error):  # corrupt payloads are part of the workload
        return False
    return True


def kernel_timings(payloads: list, seed: int) -> tuple[dict, dict]:
    """Returns ``(metrics, unavailable)``; a metric whose payload kind
    the sample lacks is reported in ``unavailable`` with the reason."""
    rng = random.Random(seed)
    pdfs = [p for p in payloads if formats.is_spdf(p) and _decodes(p)]
    htmls = [p for p in payloads if formats.sniff_format(p) == "HTML"]
    rng.shuffle(pdfs)
    rng.shuffle(htmls)
    out: dict[str, float] = {}
    unavailable: dict[str, str] = {}

    docs, pages = [], []
    for p in pdfs:
        if len(pages) >= MAX_PAGES:
            break
        docs.append(p)
        pages.extend(formats.decode_spdf(p))
    if pages:
        decode_s = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            for p in docs:
                formats.decode_spdf(p)
            decode_s.append(time.perf_counter() - t0)
        out["formats.decode_spdf_us"] = statistics.median(decode_s) / len(pages) * 1e6
        rgbs = [formats.render_page_rgb(t) for t in pages]
        grays = [formats.rgb_to_gray(x) for x in rgbs]
        pngs = [formats.encode_png(g) for g in grays]
        recognizer = StubRecognizer()
        out["formats.render_us"] = _per_item_us(formats.render_page_rgb, pages)
        out["formats.gray_us"] = _per_item_us(formats.rgb_to_gray, rgbs)
        out["formats.png_encode_us"] = _per_item_us(formats.encode_png, grays)
        out["recognizers.recognize_us"] = _per_item_us(recognizer.recognize, pngs)
    else:
        for name in ("formats.decode_spdf_us", "formats.render_us", "formats.gray_us",
                     "formats.png_encode_us", "recognizers.recognize_us"):
            unavailable[name] = "no decodable PDF pages in this workload's input"
    if htmls:
        out["functions.html.strip_us"] = _per_item_us(strip_html_bytes, htmls[:MAX_HTML])
    else:
        unavailable["functions.html.strip_us"] = "no HTML documents in this workload's input"
    return out, unavailable
