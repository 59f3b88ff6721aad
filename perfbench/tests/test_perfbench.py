"""The benchmark's own tests.  Run from the checkout root:

    python -m pytest perfbench/tests -q

The last two tests start Spark; together they take about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, eventlog, inputs  # noqa: E402
from perfbench.procs import RssSampler, descendants, tree_rss_bytes  # noqa: E402


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_inputs_other_seed_different(tmp_path, workload):
    a_path, a = inputs.materialize(str(tmp_path / "a"), workload, 5)
    b_path, b = inputs.materialize(str(tmp_path / "b"), workload, 5)
    c_path, c = inputs.materialize(str(tmp_path / "c"), workload, 6)
    import pyarrow.parquet as pq

    assert pq.read_table(a_path).equals(pq.read_table(b_path))
    assert a == b
    assert not pq.read_table(a_path).equals(pq.read_table(c_path))
    assert {u: r["digest"] for u, r in a["rows"].items()} != \
        {u: r["digest"] for u, r in c["rows"].items()}


def test_cache_entry_follows_the_source(tmp_path, monkeypatch):
    # a cached input is reused only while the code that made it is the same
    a_path, _ = inputs.materialize(str(tmp_path), "curate_dedup", 5)
    assert inputs.materialize(str(tmp_path), "curate_dedup", 5)[0] == a_path
    monkeypatch.setattr(inputs, "source_hash", lambda: "changed")
    b_path, _ = inputs.materialize(str(tmp_path), "curate_dedup", 5)
    assert b_path != a_path and os.path.exists(b_path)


def test_curate_input_plants_groups_that_pass_gates(tmp_path):
    _, exp = inputs.materialize(str(tmp_path), "curate_dedup", 3)
    rows = exp["rows"]
    for group in exp["groups"]:
        assert len(group) >= 2
        assert all(rows[u]["gated"] for u in group)
    # exact copies really are identical outputs
    exact = [g for g in exp["groups"] if "/exact/" in g[0]]
    assert all(len({rows[u]["digest"] for u in g}) == 1 for g in exact)


def test_grading_flags_one_changed_byte(tmp_path):
    import pyarrow.parquet as pq
    from google_vision_ocr_spark import oracle

    path, exp = inputs.materialize(str(tmp_path), "ocr_checkpoint", 4)
    table = pq.read_table(path)
    out = [{"url": r.url, "text": r.text, "n_pages": r.n_pages, "n_errors": r.n_errors}
           for r in oracle.extract_table(table.to_pylist())]
    assert checks.grade_rows(out, exp["rows"]).failed == 0
    checks.corrupt_one(out)
    graded = checks.grade_rows(out, exp["rows"])
    assert graded.failed == 1 and graded.attempted == len(exp["rows"])


def test_rss_sampler_sees_a_child_process():
    child = subprocess.Popen(
        [sys.executable, "-c", "b = bytearray(64 * 2**20); import time; time.sleep(3)"])
    try:
        time.sleep(1.0)
        assert child.pid in descendants(os.getpid())
        with RssSampler() as s:
            time.sleep(0.3)
        assert s.samples >= 2
        assert s.peak >= tree_rss_bytes(child.pid) > 64 * 2**20
    finally:
        child.kill()
        child.wait()


class _SleepyWorkload:
    name = "curate_dedup"

    def __init__(self):
        self.checks = []

    def run(self, tr):
        time.sleep(0.05)
        return 0.05

    def check(self, full):
        self.checks.append(full)
        return checks.Check()

    def release(self):
        pass


def test_timed_reps_stop_when_the_run_budget_is_spent(monkeypatch):
    from perfbench import run

    wl = _SleepyWorkload()
    # plenty of budget: reps until the seconds have passed, whole rounds
    walls = run.timed_reps(wl, (run.Tracer(), run.Tracer()), 0.3, checks.Check())
    assert len(walls[0]) == len(walls[1]) >= 2
    assert wl.checks[-1] is True and wl.checks.count(True) == 1
    # no budget left: one round, however many seconds were asked for
    monkeypatch.setattr(run, "BUDGET_S", 0)
    wl = _SleepyWorkload()
    walls = run.timed_reps(wl, (run.Tracer(), run.Tracer()), 60, checks.Check())
    assert [len(w) for w in walls] == [1, 1]
    assert wl.checks == [False, True]


def _run(args, timeout=300):
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=timeout)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


def test_event_log_parser_on_a_tiny_run(tmp_path):
    code = f"""
import sys; sys.path.insert(0, {ROOT!r})
from perfbench.run import Session, _setup_env
_setup_env(2)
s = Session(2)
s.start(event_dir={str(tmp_path)!r})
sc = s.spark.sparkContext
sc.setJobGroup("g1", "tiny")
s.spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count().collect()
s.spark.range(0, 100, 1, 2).mapInArrow(lambda it: it, "id long").collect()
sc.setLocalProperty("spark.jobGroup.id", None)
s.shutdown()
"""
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=300,
                   capture_output=True)
    summary = eventlog.summarize(eventlog.read_events(str(tmp_path)))
    g = summary["g1"]
    assert g["jobs"] >= 2 and g["stages"] >= 2 and g["tasks"] >= 6
    assert g["map_in_arrow_stages"] == 1
    assert g["python_sent_mb"] > 0 and g["python_recv_mb"] > 0
    assert g["executor_run_s"] > 0
    total = eventlog.combine([g])
    assert total["task_skew"] >= 1.0


def test_corrupted_output_fails_the_run():
    code, lines = _run(["--workload", "ocr_checkpoint", "--seed", "9", "--seconds", "1",
                        "--trace", "0", "--corrupt-output"])
    result = json.loads(lines[-1])
    assert code != 0
    assert result["correct"] is False
    assert result["failed"] > 0
    assert result["metrics"]["ok_frac"]["value"] < 1.0
