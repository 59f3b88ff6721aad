"""Output checks against the oracle expectations from ``inputs``.

Each check returns a :class:`Check`: how many documents were graded,
how many failed, and a short list of what went wrong.  Outputs are
read back with pyarrow, outside Spark and outside the timed region.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench.inputs import digest

MANIFEST_COUNTERS = ("docs", "pages", "ocr_calls", "bytes_extracted", "errors")


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        if len(self.problems) < 10:
            self.problems.append(why)

    def add(self, other: "Check") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.extend(other.problems[: 10 - len(self.problems)])


def corrupt_one(rows: list[dict]) -> None:
    """Negative control: change one byte of the first row's text."""
    if rows:
        text = rows[0]["text"] or ""
        rows[0]["text"] = ("X" if text[:1] != "X" else "Y") + text[1:]


def read_rows(path: str, corrupt: bool) -> list[dict]:
    rows = pq.read_table(path, columns=["url", "text", "n_pages", "n_errors"]).to_pylist()
    if corrupt:
        corrupt_one(rows)
    return rows


def grade_rows(rows: list[dict], expected: dict[str, dict],
               urls: set[str] | None = None) -> Check:
    """Every expected url (or every url of ``urls``) must appear once
    with the oracle's ``(text, n_pages, n_errors)``."""
    want = set(expected) if urls is None else urls
    c = Check(attempted=len(want))
    seen: set[str] = set()
    for r in rows:
        url = r["url"]
        if url in seen:
            c.fail(1, f"duplicate output row {url}")
            continue
        seen.add(url)
        exp = expected.get(url)
        if exp is None or url not in want:
            c.fail(1, f"unexpected output row {url}")
        elif digest(r["text"] or "", r["n_pages"], r["n_errors"]) != exp["digest"]:
            c.fail(1, f"output differs from oracle for {url}")
    missing = want - seen
    if missing:
        c.fail(len(missing), f"{len(missing)} urls missing, e.g. {min(missing)}")
    return c


def bucket_counters(rows: dict[str, dict], urls) -> dict[str, int]:
    """The manifest counters the oracle implies for a set of urls."""
    sel = [rows[u] for u in urls]
    return {
        "docs": len(sel),
        "pages": sum(r["n_pages"] for r in sel),
        "ocr_calls": sum(r["n_pages"] for r in sel if r["kind"] in ("pdf", "image")),
        "bytes_extracted": sum(r["text_bytes"] for r in sel),
        "errors": sum(r["n_errors"] for r in sel),
    }


def check_checkpoint(out_dir: str, expected: dict, n_buckets: int,
                     corrupt: bool) -> Check:
    """Per-url output plus every bucket's manifest: it must exist and
    its counters must equal the oracle's over the urls in that
    bucket's data.  A bad manifest fails every document of its bucket."""
    rows = expected["rows"]
    all_rows: list[dict] = []
    c = Check(attempted=len(rows))
    for k in range(n_buckets):
        data = os.path.join(out_dir, "data", f"part={k}")
        manifest = os.path.join(out_dir, "manifest", f"part-{k}.json")
        part = read_rows(data, corrupt and k == 0) if os.path.isdir(data) else []
        all_rows.extend(part)
        urls = [r["url"] for r in part if r["url"] in rows]
        if not os.path.exists(manifest):
            c.fail(len(part), f"bucket {k}: manifest missing")
            continue
        with open(manifest) as f:
            got = json.load(f)["counters"]
        want = bucket_counters(rows, urls)
        bad = {n: (got.get(n), want[n]) for n in MANIFEST_COUNTERS if got.get(n) != want[n]}
        if bad:
            c.fail(len(part), f"bucket {k}: manifest counters (got, oracle) {bad}")
    per_url = grade_rows(all_rows, rows)
    c.failed += per_url.failed
    c.problems.extend(per_url.problems)
    return c


def check_curate(curated: list[dict], funnel: dict, expected: dict,
                 corrupt: bool) -> Check:
    """Survivors must carry the oracle's text; the funnel counters must
    match the gates applied to the oracle's output; every planted
    group must keep its smallest url and lose every exact copy;
    no document that passes both gates and has no planted duplicate
    may be dropped.  Near-duplicates that LSH misses only lower
    ``dup_recall``.

    Facts: ``dup_recall`` = planted duplicates removed ÷ planted
    duplicates; ``clean_kept_frac`` = gated documents without a
    planted duplicate that survive ÷ such documents."""
    if corrupt:
        corrupt_one(curated)
    rows = expected["rows"]
    kept = {r["url"] for r in curated}
    c = grade_rows(curated, rows, urls=kept)
    c.attempted = len(rows)

    want_funnel = {
        "docs_in": sum(1 for r in rows.values() if r["n_errors"] == 0),
        "pass_quality": sum(1 for r in rows.values() if r["gated"]),
    }
    want_funnel["pass_lang"] = want_funnel["pass_quality"]  # no language gate
    for name, want in want_funnel.items():
        if funnel.get(name) != want:
            c.fail(1, f"funnel {name}: got {funnel.get(name)}, oracle {want}")

    planted = set()
    dups = removed = 0
    for group in expected["groups"]:
        keeper, rest = group[0], group[1:]
        planted.update(group)
        if keeper not in kept:
            c.fail(1, f"group keeper {keeper} dropped")
        exact = "/exact/" in keeper
        for url in rest:
            dups += 1
            if url in kept:
                if exact:
                    c.fail(1, f"exact copy {url} kept")
            else:
                removed += 1
    clean = [u for u, r in rows.items() if r["gated"] and u not in planted]
    dropped = [u for u in clean if u not in kept]
    if dropped:
        c.fail(len(dropped), f"{len(dropped)} clean documents dropped, e.g. {dropped[0]}")
    c.facts = {
        "dup_recall": removed / dups if dups else 1.0,
        "clean_kept_frac": 1 - len(dropped) / len(clean) if clean else 1.0,
        "planted_dups": dups,
        "clean_docs": len(clean),
    }
    return c
