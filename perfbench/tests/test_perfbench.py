"""Smoke tests of the benchmark itself, at the small input size.

    python3 -m pytest perfbench/tests -q

Each case runs ``perfbench/run.py`` as a child process (about 6 minutes in
all on 4 cores).  The test process makes itself a child subreaper first,
so any process the benchmark leaks is re-parented here and is caught.
"""
from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import harness  # noqa: E402
from traced import Tracer  # noqa: E402

SPEC = json.load(open(os.path.join(CHECKOUT, "BENCHMARK.json")))
TMP_PREFIXES = ("lexicon_sidecar_", "bloom_sidecar_", "pocs_pkg_", "spark-", "blockmgr-", "hsperfdata_")


@pytest.fixture(scope="module", autouse=True)
def subreaper():
    harness.become_subreaper()


def _git_status() -> str:
    """Unignored working-tree changes ('' outside a git checkout)."""
    proc = subprocess.run(["git", "status", "--porcelain"], cwd=CHECKOUT, capture_output=True, text=True)
    return proc.stdout if proc.returncode == 0 else ""


def _tmp_entries() -> set[str]:
    tmp = os.environ.get("TMPDIR", "/tmp")
    return {e for e in os.listdir(tmp) if e.startswith(TMP_PREFIXES)}


def _assert_clean(before_tmp: set[str], before_git: str) -> None:
    assert harness.descendants() == {}, "a benchmark process outlived it"
    assert _git_status() == before_git, "the run changed files of the checkout"
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_scratch")), "scratch dir left behind"
    assert _tmp_entries() <= before_tmp, f"new temp entries: {_tmp_entries() - before_tmp}"


def _run(workload: str, trace: int, seed: int = 7) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=180,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", ["crawl_replica", "wide_vocab", "catalyst_correct"])
def test_smoke_run_prints_declared_metrics_and_leaves_nothing(workload):
    declared = {
        0: {m["name"]: m["unit"] for m in SPEC["end_to_end"]},
        1: {m["name"]: m["unit"] for m in SPEC["per_layer"]},
    }
    for trace in (0, 1):
        before, before_git = _tmp_entries(), _git_status()
        code, lines = _run(workload, trace)
        assert code == 0, lines[-3:]
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == declared[trace]
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        record = json.loads(lines[-2])["perfbench_record"]
        for key in ("nproc", "cores_used", "load_average", "python", "spark", "seed", "docs", "lexicon_words"):
            assert key in record
        if trace:
            _assert_spans_linked(record["spans"])
        _assert_clean(before, before_git)


def _assert_spans_linked(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert [r["name"] for r in roots] == ["trace"]
    for s in spans:
        assert s["run"] and s["end"] >= s["start"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s["name"], p["name"])


def test_sigterm_mid_run_leaves_no_process_or_scratch():
    before, before_git = _tmp_entries(), _git_status()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "crawl_replica", "--seed", "3",
         "--seconds", "30", "--trace", "0", "--size", "small"],
        cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    # wait until Python workers run under the JVM, i.e. a job is in flight
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        names = [c for c, _ in harness.descendants(proc.pid).values()]
        if any(n.startswith("python") for n in names) and any(n == "java" for n in names):
            break
        time.sleep(0.2)
    else:
        proc.kill()
        pytest.fail("the benchmark never started Spark workers")
    time.sleep(2)
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=90)
    assert proc.returncode == 143
    assert '"correct"' not in out
    time.sleep(0.5)
    harness.BenchSession._wait_children()
    _assert_clean(before, before_git)


def test_missing_program_exits_nonzero_without_result(tmp_path):
    import shutil

    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_replica", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tracer_self_time_and_coverage():
    tr = Tracer()
    with tr.span("root", run="r") as root:
        with tr.span("a"):
            time.sleep(0.02)
            with tr.span("a1"):
                time.sleep(0.02)
        with tr.span("b"):
            time.sleep(0.02)
    selfs = tr.self_times()
    a, a1, b = (next(s for s in tr.spans if s.name == n) for n in ("a", "a1", "b"))
    assert a1.parent == a.id and a.parent == root.id and b.parent == root.id
    assert abs(selfs[a.id] - ((a.end - a.start) - (a1.end - a1.start))) < 1e-9
    leaves = (a1.end - a1.start) + (b.end - b.start)  # a's own 20 ms is not a leaf's
    assert abs(tr.coverage(root) - leaves / (root.end - root.start)) < 1e-9
