"""Seeded inputs and their expected outputs for the benchmark workloads.

Every workload table has the production input shape
``(url, warc_ts, html, text, lang)`` and is written as parquet with
256-row row groups, the layout ``fixtures.write_pages_parquet`` uses.
The expected per-url outputs come from ``oracle.extract_table``, the
single-process reference, so the Spark job under test never grades
itself.

Inputs and expectations are cached on disk keyed by workload, size,
seed and a hash of the code that produces them (this module and the
package's sources, see :func:`source_hash`), so a change to either
regenerates them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import struct

import pyarrow as pa
import pyarrow.parquet as pq

import google_vision_ocr_spark
from google_vision_ocr_spark import fixtures, formats, oracle
from google_vision_ocr_spark.functions.text import quality_score

ROW_GROUP_ROWS = 256

#: urls per workload, chosen so one warm job takes a few seconds on a
#: 4-core box and a whole benchmark run stays well under a minute
SIZES = {"ocr_checkpoint": 2000, "curate_dedup": 1500}

#: the gates ``plans.curate.curate`` applies by default
MIN_QUALITY = 0.3
MIN_TOKENS = 5

# the page-frame headers curate strips before scoring a document
_FRAME_RE = re.compile(r"\n--- Page \d+ ---\n")

_WORDS = (
    "data spark engine page document extract pipeline shuffle partition "
    "cluster arrow batch vector column text web crawl index token stream "
    "the of and to in is for on with as by at from"
).split()


def digest(text: str, n_pages: int, n_errors: int) -> str:
    """Fingerprint of one document's output row."""
    h = hashlib.sha1(f"{n_pages}\0{n_errors}\0".encode())
    h.update(text.encode("utf-8"))
    return h.hexdigest()


def _corrupt_spdf(rng: random.Random) -> bytes:
    # claims far more pages than it holds: decode_spdf raises, and both
    # the oracle and the Spark stage turn it into one error row
    body = bytes(rng.randrange(256) for _ in range(rng.randint(4, 40)))
    return formats.SPDF_MAGIC + struct.pack("<I", 100_000) + body


def _unknown_payload(rng: random.Random) -> bytes:
    return b"\x00GARBAGE" + bytes(rng.randrange(256) for _ in range(32))


def _replace_rows(table: pa.Table, rows: dict[int, dict]) -> pa.Table:
    cols = {name: table.column(name).to_pylist() for name in table.column_names}
    for i, row in rows.items():
        for name, value in row.items():
            cols[name][i] = value
    return pa.table(cols, schema=table.schema)


def gen_ocr_checkpoint(seed: int) -> tuple[pa.Table, dict]:
    """PDF-dominant crawl: ~85% SPDF docs of 1-8 pages, ~10% HTML, ~5%
    images (GIF included), one 400-page straggler (``generate_pages``
    puts it at the middle row) and a few corrupt payloads."""
    n = SIZES["ocr_checkpoint"]
    table = fixtures.generate_pages(n_urls=n, seed=seed, skew_pages=400,
                                    pdf_frac=0.85, html_frac=0.10)
    rng = random.Random(seed * 7919 + 1)
    rows = [i for i in rng.sample(range(n), 8) if i != n // 2][:6]
    bad = {i: {"html": _corrupt_spdf(rng), "text": None} for i in rows[:4]}
    bad.update({i: {"html": _unknown_payload(rng), "text": None} for i in rows[4:]})
    return _replace_rows(table, bad), {}


def _long_text(rng: random.Random) -> str:
    """A fresh document long enough (60-110 words) that a one-word edit
    keeps its 3-shingle Jaccard near 0.9 and two unrelated texts share
    almost no shingles."""
    sentences = []
    for _ in range(rng.randint(6, 9)):
        words = [rng.choice(_WORDS) for _ in range(rng.randint(10, 12))]
        sentences.append(" ".join(words) + ".")
    return "\n".join(sentences)


def _edit(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(len(words))
    tail = "." if words[i].endswith(".") else ""
    words[i] = rng.choice([w for w in _WORDS if w != words[i].rstrip(".")]) + tail
    return " ".join(words)


def _passes_gates(text: str) -> bool:
    clean = _FRAME_RE.sub("\n", text)
    return quality_score(clean) >= MIN_QUALITY and len(clean.split()) >= MIN_TOKENS


def gen_curate_dedup(seed: int) -> tuple[pa.Table, dict]:
    """Mostly text/HTML crawl with planted duplicate groups.

    On top of a ``generate_pages`` background (fresh text per row, no
    shared ``text_pool``) it appends text rows in three kinds of
    planted groups: exact copies, one-word near-duplicate edits, and
    one flood of near-duplicate variants of a single text (a hot LSH
    bucket).  Every planted text passes the curate gates; the group's
    lexicographically smallest url is its keeper and every other
    member is a planted duplicate.
    """
    n = SIZES["curate_dedup"]
    table = fixtures.generate_pages(n_urls=n, seed=seed, skew_pages=3,
                                    pdf_frac=0.02, html_frac=0.45)
    rng = random.Random(seed * 7919 + 3)

    def fresh() -> str:
        while True:
            text = _long_text(rng)
            if _passes_gates(text):
                return text

    groups: list[list[tuple[str, str]]] = []
    for g in range(n // 40):  # exact-copy groups of 2-4
        text = fresh()
        groups.append([(f"https://example.org/exact/{g:04d}-{j}", text)
                       for j in range(rng.randint(2, 4))])
    for g in range(n // 30):  # near-duplicate pairs
        text = fresh()
        groups.append([(f"https://example.org/near/{g:04d}-0", text),
                       (f"https://example.org/near/{g:04d}-1", _edit(rng, text))])
    base = fresh()  # the flood: many edits of one text
    groups.append([(f"https://example.org/flood/{j:04d}", _edit(rng, base))
                   for j in range(n // 20)])

    planted = [row for group in groups for row in group]
    extra = pa.table({
        "url": [u for u, _ in planted],
        "warc_ts": [fixtures.EPOCH] * len(planted),
        "html": pa.array([None] * len(planted), pa.binary()),
        "text": [t for _, t in planted],
        "lang": ["en"] * len(planted),
    }, schema=table.schema)
    combined = pa.concat_tables([table, extra])
    order = list(range(combined.num_rows))
    rng.shuffle(order)  # planted rows spread over the row groups
    combined = combined.take(order)
    facts = {"groups": [sorted(u for u, _ in group) for group in groups]}
    return combined, facts


GENERATORS = {
    "ocr_checkpoint": gen_ocr_checkpoint,
    "curate_dedup": gen_curate_dedup,
}


def expected_rows(table: pa.Table) -> dict[str, dict]:
    """Per-url oracle output: digest plus the fields the manifests and
    the curate gates are checked against."""
    out = {}
    for r in oracle.extract_table(table.to_pylist()):
        out[r.url] = {
            "digest": digest(r.text, r.n_pages, r.n_errors),
            "kind": r.kind,
            "n_pages": r.n_pages,
            "n_errors": r.n_errors,
            "text_bytes": len(r.text.encode("utf-8")),
            "gated": r.n_errors == 0 and _passes_gates(r.text),
        }
    return out


def source_hash() -> str:
    """Hash of this module and every ``.py`` file of the package: the
    generators, ``fixtures``, ``formats``, ``oracle`` and everything
    they import."""
    pkg = os.path.dirname(os.path.abspath(google_vision_ocr_spark.__file__))
    files = [os.path.abspath(__file__)]
    for d, _, names in os.walk(pkg):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    h = hashlib.sha1()
    for path in sorted(files):
        h.update(os.path.relpath(path, os.path.dirname(pkg)).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def materialize(work_dir: str, workload: str, seed: int) -> tuple[str, dict]:
    """Write (or reuse) the workload's input parquet and expectations.
    Returns ``(input_path, expected)``."""
    key = f"{workload}-n{SIZES[workload]}-s{seed}-{source_hash()}"
    d = os.path.join(work_dir, "inputs", key)
    input_path = os.path.join(d, "input.parquet")
    expected_path = os.path.join(d, "expected.json")
    if not os.path.exists(expected_path):
        os.makedirs(d, exist_ok=True)
        table, facts = GENERATORS[workload](seed)
        pq.write_table(table, input_path, row_group_size=ROW_GROUP_ROWS)
        expected = {"rows": expected_rows(table), **facts}
        tmp = expected_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.replace(tmp, expected_path)  # the marker that the entry is whole
    with open(expected_path) as f:
        return input_path, json.load(f)
