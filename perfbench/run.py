"""Benchmark of the flagship extract → detect → correct dataflow.

    python3 perfbench/run.py --workload crawl_replica --seed 1 --seconds 12 --trace 0

One process drives ``local[<nproc>]`` in a closed loop: one pipeline run
at a time, back to back, no client threads.  The program is reached only
through its public functions.  Workloads and their inputs are described
in ``workloads.py``; the traced run in ``traced.py``.

``--trace 0`` sets up the session several times (session start, package
ship, warm-up run on the oracle sample) and reports the median as
``setup_s``; then it runs the pipeline to a no-op sink, at least three
times and until ``--seconds`` are used, and reports medians of the runs
and the Python-side peak memory after the third.  Every run carries an
Observation (row count, sum of xxhash64(url, corrected_text), the oracle
sample rows); the digest must repeat across runs and the sample must match
``core.oracle.run_oracle`` byte for byte.

stdout ends with a self-describing record line and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``.  Exit status: 0 when
every run was correct, 1 when a run failed or mismatched, 2 when the
program package is missing, 3 when a process outlived the teardown,
130/143 when interrupted or past the deadline (no result is printed then).
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [HERE, CHECKOUT]

import harness  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("crawl_replica", "wide_vocab", "catalyst_correct")
SETUPS = 3
# the Python workers keep per-run state (scorer, deletion index, memo), so
# their peak grows with every run: read it after a fixed number of runs
PEAK_AFTER_RUNS = 3
DEADLINE_S = 170  # the run must end within 180 s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--size", default="full", choices=sorted(workloads.SIZES), help="input size (small: smoke tests)")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """One invocation: inputs, the session and the per-run records."""

    def __init__(self, args, session: harness.BenchSession):
        self.args, self.session = args, session
        self.inp = workloads.make_inputs(args.workload, args.seed, args.size)
        self.docs_path = session.path("inputs", "docs.parquet")
        workloads.write_parquet(self.inp.docs, self.docs_path)
        from post_ocr_corretion_spark.core.scoring import NGramScorer

        # every workload's lexicon is fitted on texts of ``inp.docs``
        self.lexicon = workloads.oracle_lexicon(self.inp.docs)
        self.scorer = NGramScorer(self.lexicon)
        self.expected = workloads.oracle_rows(self.inp, self.lexicon, self.scorer)
        self.warm_expected = workloads.oracle_rows(self.inp, workloads.oracle_lexicon(self.inp.sample))
        self.digest = None
        self.failures: list[str] = []
        self.prog = None

    def start(self, event_log: bool = False):
        spark = self.session.start(event_log=event_log)
        harness.install_signal_handlers()  # SparkContext replaces the SIGINT handler
        self.prog = workloads.Program(spark, self.inp, self.docs_path)
        return spark

    def check(self, obs, label: str, warmup: bool) -> bool:
        got = obs.get
        expected = self.warm_expected if warmup else self.expected
        rows = len(self.inp.sample) if warmup else self.inp.n_docs
        problems = []
        if got["rows"] != rows:
            problems.append(f"rows {got['rows']} != {rows}")
        bad = workloads.sample_mismatches(got["sample"], expected)
        if bad:
            problems.append(f"{len(bad)} oracle-sample mismatches, first {bad[0]}")
        if not warmup:
            if self.digest is None:
                self.digest = got["digest"]
            elif got["digest"] != self.digest:
                problems.append(f"digest {got['digest']} != {self.digest}")
        if problems:
            self.failures.append(f"{label}: " + "; ".join(problems))
        return not problems

    def run_once(self, label: str, warmup: bool = False) -> tuple[float, bool]:
        """One pipeline call to the no-op sink; returns (wall s, correct)."""
        t0 = time.perf_counter()
        result = self.prog.warmup() if warmup else self.prog.pipeline()
        observed, obs = self.prog.observe(result, label)
        observed.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return wall, self.check(obs, label, warmup)

    def setup(self, i: int) -> float:
        """Session start + package ship + warm-up run."""
        t0 = time.perf_counter()
        self.start()
        _, ok = self.run_once(f"setup{i}", warmup=True)
        return time.perf_counter() - t0 if ok else float("nan")

    def record(self) -> dict:
        import pyspark

        from post_ocr_corretion_spark.datagen.webpages import make_page

        pages = [make_page(r["doc_id"], r["text"], r["lang"]) for r in self.inp.sample]
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "size": self.args.size,
            "nproc": os.cpu_count(),
            "cores_used": self.session.cores,
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "docs": self.inp.n_docs,
            "html_bytes_per_doc": statistics.mean(len(p["html"]) for p in pages),  # oracle sample
            "lexicon_words": len(self.lexicon),
            "mode": self.inp.mode,
        }


def timed(run: Run, seconds: int) -> tuple[dict, dict]:
    setups = []
    for i in range(SETUPS):
        if i:
            run.session.stop_context()
        setups.append(run.setup(i))
    walls, cpus, attempted, peak = [], [], 0, None
    t_start = time.perf_counter()
    while True:
        label = f"run{attempted}"
        cpu0 = harness.tree_cpu_s()
        t_run = time.perf_counter()
        try:
            wall, ok = run.run_once(label)
        except Exception as e:  # a run that raises counts as failed; the loop goes on
            traceback.print_exc()
            run.failures.append(f"{label}: raised {e!r}")
            wall, ok = time.perf_counter() - t_run, False
        cpus.append(harness.tree_cpu_s() - cpu0)
        attempted += 1
        if ok:
            walls.append(wall)
        if attempted == PEAK_AFTER_RUNS:
            peak = harness.tree_peak_rss_mb()
        elapsed = time.perf_counter() - t_start
        # closed loop: start another run only if it should end in the window
        if attempted >= PEAK_AFTER_RUNS and elapsed + median(walls or [wall]) > seconds:
            break
    wall_s = median(walls)
    metrics = {
        "setup_s": {"value": median(setups), "unit": "s"},
        "wall_s": {"value": wall_s, "unit": "s"},
        "docs_per_s": {"value": run.inp.n_docs / wall_s if walls else float("nan"), "unit": "docs/s"},
        "cpu_s": {"value": median(cpus), "unit": "s"},
        # the Python side of the tree: the JVM's heap growth under G1 swings
        # its peak by ±15% run to run, so it is recorded but not the metric
        "peak_rss_mb": {"value": peak["total"] - peak.get("java", 0.0), "unit": "MB"},
    }
    detail = {
        "setup_samples_s": setups,
        "wall_samples_s": walls,
        "cpu_samples_s": cpus,
        "runs": attempted,
        "setups": SETUPS,
        "failed_ops": len(run.failures) / (attempted + SETUPS),
        "digest": str(run.digest),
        "peak_rss_mb_by_process": peak,
    }
    return metrics, detail


def main(argv=None) -> int:
    t_begin = time.perf_counter()
    args = parse_args(argv)
    try:
        import post_ocr_corretion_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under {CHECKOUT}: {e}", file=sys.stderr)
        return 2
    harness.install_signal_handlers()
    signal.alarm(DEADLINE_S)
    harness.become_subreaper()
    load_start = os.getloadavg()
    session = harness.BenchSession(CHECKOUT, len(os.sched_getaffinity(0)))
    result = record = None
    code = 1
    try:
        run = Run(args, session)
        if args.trace:
            import traced

            metrics, detail = traced.traced(run, args.seconds)
        else:
            metrics, detail = timed(run, args.seconds)
        record = {**run.record(), **detail, "failures": run.failures}
        result = {
            "correct": not run.failures,
            "attempted": detail["runs"] + detail["setups"],
            "failed": len(run.failures),
            # NaN (no correct run to take a median of) is not JSON
            "metrics": {k: {**v, "value": None if v["value"] != v["value"] else v["value"]} for k, v in metrics.items()},
        }
    except harness.Interrupted as e:
        print(f"perfbench: interrupted ({e})", file=sys.stderr)
        code = 143 if str(e) == "SIGTERM" else 130
    except Exception:
        traceback.print_exc()
    finally:
        harness.shield_teardown()
        survivors = session.close()
    if survivors:
        print(f"perfbench: processes outlived the teardown: {survivors}", file=sys.stderr)
        return 3
    if result is None:
        return code
    record["load_average"] = {"start": load_start, "end": os.getloadavg()}
    record["elapsed_s"] = time.perf_counter() - t_begin
    print(json.dumps({"perfbench_record": record}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
