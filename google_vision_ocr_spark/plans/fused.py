"""Scale-optimal fused extraction plan: ONE scan + TWO shuffles.

The branched plan (``plans/extract.py``) is operator-per-stage and easy
to test, but each of its five branches re-scans the input table — at
10^12 rows that multiplies the most expensive I/O in the job (the
``html`` payload column) by 5.  This fused plan restructures the same
semantics into the minimal physical shape:

Default shape (``extract_fused``): ``process_items`` — ONE
``mapInArrow`` stage fusing classify → rasterize → preprocess →
recognize — followed by the ``groupBy(url)`` assembly: 1 scan,
1 shuffle (of extracted text only).

Staged shape (``page_level_salt=True``) for pathological page-count
skew:

1. ``scan_items``   — ``mapInArrow``: classify by magic bytes,
   rasterize+explode PDF pages, normalize image formats (T3), strip
   HTML (T11), pass text through → ``(url, page, kind, image, text)``.
2. salted repartition on ``(url, page)`` — spreads one enormous
   document's pages across the cluster (BASELINE.json north_star),
   at the cost of shuffling raster bytes.
3. ``recognize_items`` — grayscale+PNG (PDF pages only — the
   reference's folder path skips preprocessing,
   ``ocr_service.py:173-174``) then recognition with rate limiting,
   retries and error-as-data.
4. ``assemble_docs`` — one ``groupBy(url)``: per-kind finishing — PDF
   docs get the ordered framed concat + byte spans
   (``ocr_service.py:116,119-122``), single-item kinds pass their text
   through.

Byte-identical to the oracle and to the branched plan (asserted in
tests); the branched plan remains for per-operator testing and for
pathological skew experiments.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import formats
from ..functions.html import strip_html_bytes
from ..operators.assemble import FRAMED_FROM_PS, SPANS_FROM_FRAMED, SPANS_TYPE
from ..operators.preprocess import deskew as _deskew
from ..operators.preprocess import dpi_normalize, otsu_binarize
from ..operators.recognize import TokenBucket
from ..recognizers import RecognitionError, get_recognizer

ITEM_SCHEMA = "url string, page int, kind string, image binary, text string"
RECOGNIZED_SCHEMA = "url string, page int, kind string, text string, ocr_error boolean"
_ITEM_SCHEMA_PA = pa.schema([
    ("url", pa.string()), ("page", pa.int32()), ("kind", pa.string()),
    ("image", pa.binary()), ("text", pa.string()),
])
_RECOGNIZED_SCHEMA_PA = pa.schema([
    ("url", pa.string()), ("page", pa.int32()), ("kind", pa.string()),
    ("text", pa.string()), ("ocr_error", pa.bool_()),
])
_CHUNK_ROWS = 256


def scan_items(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Single-pass classify + rasterize + normalize + HTML strip."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: dict[str, list] = {"url": [], "page": [], "kind": [], "image": [], "text": []}

        def push(url, page, kind, image, text):
            buf["url"].append(url)
            buf["page"].append(page)
            buf["kind"].append(kind)
            buf["image"].append(image)
            buf["text"].append(text)

        def flush():
            out = pa.RecordBatch.from_pydict(buf, schema=_ITEM_SCHEMA_PA)
            for k in buf:
                buf[k] = []
            return out

        for rb in batches:
            cols = {name: rb.column(i).to_pylist() for i, name in enumerate(rb.schema.names)}
            for url, payload, text in zip(cols["url"], cols[payload_col], cols["text"]):
                fmt = formats.sniff_format(payload)
                if fmt == "SPDF":
                    try:
                        page_texts = formats.decode_spdf(payload)
                    except Exception:
                        push(url, 1, "pdf", None, None)  # error-as-data downstream
                        continue
                    if not page_texts:
                        # zero-page document: the reference writes an
                        # empty .txt (ocr_service.py:119 loop body never
                        # runs) — emit a marker row, never drop the url
                        push(url, 0, "pdf0", None, "")
                        continue
                    for page_no, page_text in enumerate(page_texts, start=1):
                        push(url, page_no, "pdf",
                             formats.encode_simg(formats.render_page_rgb(page_text)), None)
                        if len(buf["url"]) >= _CHUNK_ROWS:
                            yield flush()
                elif fmt in ("PNG", "BMP", "GIF"):
                    if fmt == "GIF":  # T3: re-encode unsupported formats to PNG
                        try:
                            payload = formats.encode_png(formats.decode_gif_gray(payload))
                        except Exception:
                            pass
                    push(url, 1, "image", payload, None)
                elif fmt == "HTML":
                    push(url, 1, "html", None, strip_html_bytes(payload))
                elif fmt == "none":
                    push(url, 1, "text", None, text if text is not None else "")
                else:
                    push(url, 1, "unknown", None, None)
                if len(buf["url"]) >= _CHUNK_ROWS:
                    yield flush()
        if buf["url"]:
            yield flush()

    return df.select("url", payload_col, "text").mapInArrow(gen, ITEM_SCHEMA)


def recognize_items(
    items: DataFrame,
    recognizer: str = "stub",
    rate_limit_qps: float | None = None,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
    otsu: bool = False,
    do_deskew: bool = False,
    dpi: bool = False,
) -> DataFrame:
    """Preprocess (PDF pages only) + recognize; everything else passes."""
    import time as _time

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        engine = get_recognizer(recognizer)
        bucket = TokenBucket(rate_limit_qps) if rate_limit_qps else None

        def recognize_bytes(payload: bytes, item_id) -> tuple[str, bool]:
            attempt = 0
            while True:
                if bucket is not None:
                    bucket.acquire()
                try:
                    return engine.recognize(payload), False
                except RecognitionError as exc:
                    return f"OCR Error for ID {item_id}: {exc}", True
                except Exception as exc:
                    attempt += 1
                    if attempt > max_retries:
                        return f"OCR Error for ID {item_id}: {exc}", True
                    _time.sleep(backoff_base_s * (2 ** (attempt - 1)))

        for rb in batches:
            cols = {name: rb.column(i).to_pylist() for i, name in enumerate(rb.schema.names)}
            texts: list[str | None] = []
            errors: list[bool] = []
            for url, page, kind, image, text in zip(
                cols["url"], cols["page"], cols["kind"], cols["image"], cols["text"]
            ):
                if kind == "pdf":
                    if image is None:
                        texts.append(f"OCR Error for ID {page}: corrupt document payload")
                        errors.append(True)
                        continue
                    arr = formats.decode_simg(bytes(image))
                    gray = formats.rgb_to_gray(arr) if arr.ndim == 3 else arr
                    if dpi:
                        gray = dpi_normalize(gray)
                    if do_deskew:
                        gray = _deskew(gray)
                    if otsu:
                        gray = otsu_binarize(gray)
                    t, e = recognize_bytes(formats.encode_png(gray), int(page))
                    texts.append(t)
                    errors.append(e)
                elif kind == "image":
                    t, e = recognize_bytes(bytes(image), url)  # NO preprocess
                    texts.append(t)
                    errors.append(e)
                elif kind == "unknown":
                    texts.append("")
                    errors.append(True)
                else:  # html / text: already extracted
                    texts.append(text)
                    errors.append(False)
            yield pa.RecordBatch.from_pydict(
                {"url": cols["url"], "page": cols["page"], "kind": cols["kind"],
                 "text": texts, "ocr_error": errors},
                schema=_RECOGNIZED_SCHEMA_PA,
            )

    return items.mapInArrow(run, RECOGNIZED_SCHEMA)


def assemble_docs(recognized: DataFrame) -> DataFrame:
    """One groupBy(url): per-kind finishing to the output contract."""
    grouped = recognized.groupBy("url").agg(
        # max() not first(): every url emits one kind by construction, but
        # max is deterministic under shuffle order if that ever changes
        F.max("kind").alias("kind"),
        F.array_sort(
            F.collect_list(F.struct(F.col("page").alias("page"), F.col("text").alias("text")))
        ).alias("ps"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("ocr_error").cast("int")).alias("n_errors"),
    )
    # frame only pdf docs; others reuse their single row's text as-is
    with_framed = grouped.withColumn(
        "framed",
        F.when(F.col("kind") == "pdf", F.expr(FRAMED_FROM_PS))
        .otherwise(F.expr("cast(array() as array<string>)")),
    )
    return with_framed.select(
        "url",
        F.when(F.col("kind") == "pdf0", F.lit("pdf")).otherwise(F.col("kind")).alias("kind"),
        F.when(F.col("kind") == "pdf", F.expr("array_join(framed, '')"))
        .otherwise(F.element_at(F.col("ps"), 1)["text"]).alias("text"),
        F.when(F.col("kind") == "pdf", F.expr(SPANS_FROM_FRAMED))
        .otherwise(F.expr(f"cast(array() as {SPANS_TYPE})")).alias("spans"),
        F.when(F.col("kind") == "pdf", F.col("n_rows"))
        .when(F.col("kind").isin("image", "html"), F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("n_pages"),
        F.col("n_errors").cast("int").alias("n_errors"),
    )


def _make_row_processor(
    recognizer: str,
    rate_limit_qps: float | None,
    max_retries: int,
    backoff_base_s: float,
    otsu: bool,
    do_deskew: bool,
    dpi: bool,
):
    """Per-task state + the per-row classify/rasterize/preprocess/
    recognize body, shared by :func:`process_items` and
    :func:`extract_documents_fused` so both stages run byte-identical
    logic.  Returns ``(process_row, buf, flush)``; ``process_row``
    appends recognized page rows to ``buf``."""
    import time as _time

    engine = get_recognizer(recognizer)
    bucket = TokenBucket(rate_limit_qps) if rate_limit_qps else None

    def recognize_bytes(payload: bytes, item_id) -> tuple[str, bool]:
        attempt = 0
        while True:
            if bucket is not None:
                bucket.acquire()
            try:
                return engine.recognize(payload), False
            except RecognitionError as exc:
                return f"OCR Error for ID {item_id}: {exc}", True
            except Exception as exc:
                attempt += 1
                if attempt > max_retries:
                    return f"OCR Error for ID {item_id}: {exc}", True
                _time.sleep(backoff_base_s * (2 ** (attempt - 1)))

    def recognize_pdf_page(page_text: str, page_no: int) -> tuple[str, bool]:
        gray = formats.rgb_to_gray(formats.render_page_rgb(page_text))
        if dpi:
            gray = dpi_normalize(gray)
        if do_deskew:
            gray = _deskew(gray)
        if otsu:
            gray = otsu_binarize(gray)
        return recognize_bytes(formats.encode_png(gray), page_no)

    buf: dict[str, list] = {"url": [], "page": [], "kind": [], "text": [], "ocr_error": []}

    def push(url, page, kind, text, err):
        buf["url"].append(url)
        buf["page"].append(page)
        buf["kind"].append(kind)
        buf["text"].append(text)
        buf["ocr_error"].append(err)

    def flush():
        out = pa.RecordBatch.from_pydict(buf, schema=_RECOGNIZED_SCHEMA_PA)
        for k in buf:
            buf[k] = []
        return out

    def process_row(url, payload, text):
        """Classify one input row by magic bytes and emit its page rows.
        Generator: yields flushed record batches mid-document so a
        many-thousand-page document never grows the buffer unbounded
        (same ``_CHUNK_ROWS`` bound as the pre-r7 inline loop)."""
        fmt = formats.sniff_format(payload)
        if fmt == "SPDF":
            try:
                page_texts = formats.decode_spdf(payload)
            except Exception:
                push(url, 1, "pdf",
                     "OCR Error for ID 1: corrupt document payload", True)
                return
            if not page_texts:
                # zero-page doc: reference writes an empty .txt
                push(url, 0, "pdf0", "", False)
                return
            for page_no, page_text in enumerate(page_texts, start=1):
                t, e = recognize_pdf_page(page_text, page_no)
                push(url, page_no, "pdf", t, e)
                if len(buf["url"]) >= _CHUNK_ROWS:
                    yield flush()
        elif fmt in ("PNG", "JPEG", "BMP", "TIFF", "GIF"):
            # keep-format rule (ocr_service.py:177): PNG/JPEG/BMP/
            # TIFF pass through unchanged; GIF re-encodes to PNG
            if fmt == "GIF":  # T3 normalize, then recognize as-is
                try:
                    payload = formats.encode_png(formats.decode_gif_gray(payload))
                except Exception:
                    pass
            t, e = recognize_bytes(payload, url)
            push(url, 1, "image", t, e)
        elif fmt == "HTML":
            push(url, 1, "html", strip_html_bytes(payload), False)
        elif fmt == "none":
            push(url, 1, "text", text if text is not None else "", False)
        else:
            push(url, 1, "unknown", "", True)

    return process_row, buf, flush


def process_items(
    df: DataFrame,
    payload_col: str = "html",
    recognizer: str = "stub",
    rate_limit_qps: float | None = None,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
    otsu: bool = False,
    do_deskew: bool = False,
    dpi: bool = False,
) -> DataFrame:
    """Single Python stage: classify + rasterize + preprocess +
    recognize, input row → recognized page items.

    Fusing the two ``mapInPandas`` stages keeps the raster intermediate
    (the largest byte stream in the job — decompressed page images)
    inside one Python worker instead of round-tripping it through the
    JVM and a shuffle.  Measured on this box: the staged variant
    anti-scales beyond ~8 cores purely from moving rasters
    JVM↔Python↔shuffle; the fused stage scales with cores.

    Runs over ``mapInArrow``: pandas boxing of the multi-KB binary
    payload column costs ~3× the bare Arrow stream on this job
    (measured: 26.1s vs 7.5s passthrough at 32 cores on a 4.5 GB
    input), so record batches are consumed directly.
    """

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        process_row, buf, flush = _make_row_processor(
            recognizer, rate_limit_qps, max_retries, backoff_base_s,
            otsu, do_deskew, dpi,
        )
        for rb in batches:
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            for url, payload, text in zip(
                cols["url"].to_pylist(), cols[payload_col].to_pylist(), cols["text"].to_pylist()
            ):
                yield from process_row(url, payload, text)
                if len(buf["url"]) >= _CHUNK_ROWS:
                    yield flush()
        if buf["url"]:
            yield flush()

    return df.select("url", payload_col, "text").mapInArrow(run, RECOGNIZED_SCHEMA)


def extract_documents_fused(
    documents: DataFrame,
    recognizer: str = "stub",
    rate_limit_qps: float | None = None,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
    otsu: bool = False,
    do_deskew: bool = False,
    dpi: bool = False,
) -> DataFrame:
    """The flagship's end-to-end plan with payload synthesis fused into
    the recognition stage: ``documents`` → one Python stage (per-doc
    SPDF payload build → classify → rasterize → preprocess → recognize)
    → ``groupBy(url)`` assembly.

    Logically identical to ``documents_to_pages(df)`` piped through
    :func:`process_items` — the SPDF payload is still encoded per
    document and classified by magic bytes through the SAME
    ``process_row`` body (shared closure factory) — but the payload
    bytes stay inside one Python worker instead of crossing
    JVM→Python→JVM→Python across an ArrowEvalPython + MapInArrow pair
    (guide §4.1: you can't remove the boundary cost, but you control
    how many times it is paid).  r7: byte-identical output verified by
    ``exceptAll`` both ways vs the staged path at sf0.1/sf1.0 and by
    the DuckDB hash gate; the staged path remains the default for
    every other consumer and for bench stage isolation."""
    from ..fanout import fanout
    from ..sources.documents import chunk_text

    src = fanout(documents, "doc_id").select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"),
                 F.col("doc_id")).alias("url"),
        F.col("text"),
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        process_row, buf, flush = _make_row_processor(
            recognizer, rate_limit_qps, max_retries, backoff_base_s,
            otsu, do_deskew, dpi,
        )
        for rb in batches:
            urls = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            for url, text in zip(urls, texts):
                payload = formats.encode_spdf(chunk_text(text))
                yield from process_row(url, payload, None)
                if len(buf["url"]) >= _CHUNK_ROWS:
                    yield flush()
        if buf["url"]:
            yield flush()

    recognized = src.mapInArrow(run, RECOGNIZED_SCHEMA)
    return assemble_docs(recognized)


def extract_fused(
    df: DataFrame,
    payload_col: str = "html",
    recognizer: str = "stub",
    salt_partitions: int | None = None,
    rate_limit_qps: float | None = None,
    otsu: bool = False,
    do_deskew: bool = False,
    dpi: bool = False,
    page_level_salt: bool = False,
    max_retries: int = 3,
    backoff_base_s: float = 0.05,
) -> DataFrame:
    """The scale-default extraction plan: 1 scan + ≤2 shuffles.

    Default shape: [optional input-row repartition] → fused
    classify/rasterize/preprocess/recognize Python stage →
    ``groupBy(url)`` assembly.  The optional repartition salts on the
    *compressed input payloads* (cheap) rather than on exploded rasters
    (expensive); documents are the unit of work, which is the right
    granularity while page counts are bounded (1-8 typical, hundreds
    worst-case ⇒ sub-second per task).

    ``page_level_salt=True`` switches to the staged variant
    (scan-explode → per-(url,page) shuffle → recognize) for
    pathological page-count skew — many-thousand-page documents whose
    *single-document* work would otherwise straggle one task.
    """
    if page_level_salt:
        items = scan_items(df, payload_col)
        if salt_partitions:
            items = items.repartition(salt_partitions, "url", "page")
        recognized = recognize_items(
            items, recognizer=recognizer, rate_limit_qps=rate_limit_qps,
            max_retries=max_retries, backoff_base_s=backoff_base_s,
            otsu=otsu, do_deskew=do_deskew, dpi=dpi,
        )
        return assemble_docs(recognized)
    src = df
    if salt_partitions:
        src = src.repartition(salt_partitions, "url")
    recognized = process_items(
        src, payload_col, recognizer=recognizer, rate_limit_qps=rate_limit_qps,
        max_retries=max_retries, backoff_base_s=backoff_base_s,
        otsu=otsu, do_deskew=do_deskew, dpi=dpi,
    )
    return assemble_docs(recognized)
