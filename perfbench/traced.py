"""The traced run (``--trace 1``): per-layer metrics, kept apart from the
timed runs.

1. A session with tracing off runs the pipeline once after its warm-up:
   the untraced reference wall for ``trace.overhead_s``.
2. A second session (same JVM) with Spark's event log on runs, each call
   inside a span and under its own job description and tag:
   - the whole pipeline once (``pipeline``), for the doc-spread exchange,
     the Arrow/Python boundary and the time no Spark job covers;
   - the UDF engine layer by layer (``udf``): lexicon, scorer fit plus a
     one-task-per-core probe of the per-worker fit, render+extract, beam;
   - the Catalyst engine layer by layer (``catalyst``): extract, detect,
     candidate batches, beam fold — on the workload's input in Catalyst
     mode, else on a fixed 128-doc sample;
   - a driver-side pass over a fixed doc sample through the ``core``
     functions (``core``): render, extract, scoring, candidates, beam.
3. The event log is read back after the session stops.

Spans (name, start, end, parent, run id) are kept in memory and printed
with the run record.  A span's self time is its duration minus what its
children cover; ``trace.coverage`` is the share of the traced wall that
leaf spans cover.
"""
from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import harness
from eventlog import EventLog

CATALYST_SAMPLE = 128
CORE_SAMPLE = 400
PHASES = ("pipeline", "lexicon", "scorer_fit", "extract", "beam", "catalyst")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run: str | None = None):
        """A span under the innermost open one; it inherits the parent's
        run id unless given its own."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, run or (parent.run if parent else name), time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop().end = time.time()

    def self_times(self) -> dict[int, float]:
        out = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def coverage(self, root: Span) -> float:
        parents = {s.parent for s in self.spans}
        leaves = [s for s in self.spans if s.id not in parents and s.id != root.id and s.start >= root.start]
        return sum(s.end - s.start for s in leaves) / (root.end - root.start)

    def records(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run, "start": s.start, "end": s.end,
             "self_s": selfs[s.id]}
            for s in self.spans
        ]


def unit_of(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_in") or name.endswith("bytes_out") or "bytes_per" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if ".us_per_" in name:
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "coverage", "_over_median")):
        return "ratio"
    return "count"


def _correctable():
    from pyspark.sql import functions as F

    return (F.col("lang") == "en") & (F.col("kind") != "pdf_stub")


def _tag(spark, name: str | None) -> None:
    sc = spark.sparkContext
    sc.clearJobTags()
    sc.setJobDescription(None if name is None else f"perfbench:{name}")
    if name is not None:
        sc.addJobTag(f"perfbench-{name.replace('.', '-')}")


def _worker_probe(spark, scorer_bc, lexicon_bc, cores: int) -> list[tuple[float, float, float]]:
    """One task per core: time the Python worker's lazy scorer fit and the
    SymSpell deletion index over the broadcast lexicon, then read the
    worker's resident memory.  (A worker that runs two probe tasks reports
    the second fit as cached; the maximum over tasks is kept.)"""

    def probe(_):
        import time as t

        from post_ocr_corretion_spark.core.candidates import build_deletion_index

        t0 = t.perf_counter()
        scorer_bc.value.word_prob("qzxv")
        t1 = t.perf_counter()
        build_deletion_index(lexicon_bc.value)
        t2 = t.perf_counter()
        with open("/proc/self/status") as f:
            rss = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")) / 1024
        yield (t1 - t0, t2 - t1, rss)

    return spark.sparkContext.parallelize(range(cores), cores).mapPartitions(probe).collect()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _udf_chain(tracer: Tracer, run, m: dict) -> None:
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.correction import run_beam_udf
    from post_ocr_corretion_spark.operators.extract import render_and_extract
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    spark, prog = run.prog.spark, run.prog
    with tracer.span("udf", run="udf"):
        with tracer.span("lexicon"):
            _tag(spark, "lexicon")
            lexicon_df = build_lexicon(spark, prog.lexicon_input, COMMON_WORDS, bucketed=False).cache()
            m["lexicon.words"] = lexicon_df.count()
        with tracer.span("scorer_fit"):
            _tag(spark, "scorer_fit")
            with tracer.span("sidecar_write"):
                scorer_bc, lex_words = build_scorer_broadcast(spark, lexicon_df)
            lexicon_bc = spark.sparkContext.broadcast(lex_words)
            m["scorer_fit.sidecar_bytes"] = _dir_bytes(lex_words.path)
            with tracer.span("worker_probe"):
                probes = _worker_probe(spark, scorer_bc, lexicon_bc, run.session.cores)
            m["scorer_fit.worker_fit_s"] = max(p[0] for p in probes)
            m["candidates.index_build_s"] = max(p[1] for p in probes)
            m["scorer_fit.worker_rss_mb"] = max(p[2] for p in probes)
        with tracer.span("extract"):
            _tag(spark, "extract")
            par = max(spark.sparkContext.defaultParallelism * 2, 8)
            extracted = render_and_extract(prog.docs.repartition(par)).cache()
            extracted.count()
        with tracer.span("beam"):
            _tag(spark, "beam")
            enabled = extracted.withColumn("enabled", _correctable())
            beamed = run_beam_udf(enabled, scorer_bc, lexicon_bc, enabled_col="enabled")
            beamed.write.format("noop").mode("overwrite").save()
        _tag(spark, None)
        extracted.unpersist()
        lexicon_df.unpersist()


def _catalyst_chain(tracer: Tracer, run, m: dict) -> None:
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.candidates import candidate_batches
    from post_ocr_corretion_spark.operators.correction import distinct_error_words, run_beam_fold, with_detection
    from post_ocr_corretion_spark.operators.extract import extract
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon, deletion_neighborhood
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast
    from post_ocr_corretion_spark.sources.webpages import webpages

    spark, prog = run.prog.spark, run.prog
    docs = prog.docs
    if run.inp.mode != "catalyst":
        docs = docs.filter(F.col("doc_id").isin(run.inp.first_ids(CATALYST_SAMPLE)))
    with tracer.span("catalyst", run="catalyst"):
        with tracer.span("catalyst.lexicon"):
            _tag(spark, "catalyst")
            lexicon_df = build_lexicon(spark, prog.lexicon_input, COMMON_WORDS, bucketed=True).cache()
            lexicon_df.count()
            scorer_bc, _ = build_scorer_broadcast(spark, lexicon_df)
        with tracer.span("catalyst.extract"):
            _tag(spark, "catalyst.extract")
            extracted = extract(webpages(docs)).localCheckpoint(eager=True)
        with tracer.span("catalyst.detect"):
            _tag(spark, "catalyst.detect")
            detected = with_detection(extracted.filter(_correctable()), scorer_bc).cache()
            err_words = distinct_error_words(detected).cache()
            err_words.count()
        with tracer.span("catalyst.candidate_batches"):
            _tag(spark, "catalyst.candidate_batches")
            cand_agg = candidate_batches(err_words, lexicon_df, deletion_neighborhood(lexicon_df), scorer_bc).cache()
            m["catalyst.candidate_rows"] = cand_agg.count()
        with tracer.span("catalyst.fold"):
            _tag(spark, "catalyst.fold")
            run_beam_fold(detected, cand_agg).write.format("noop").mode("overwrite").save()
        _tag(spark, None)
        for df in (cand_agg, err_words, detected, lexicon_df):
            df.unpersist()


def _core_pass(tracer: Tracer, run, m: dict) -> None:
    """Driver-side pass over a fixed doc sample through the ``core``
    functions (single thread, no Spark)."""
    from post_ocr_corretion_spark.core.beam import candidate_batch, correct_sentence
    from post_ocr_corretion_spark.core.candidates import build_deletion_index
    from post_ocr_corretion_spark.core.extraction import extract_document
    from post_ocr_corretion_spark.datagen.webpages import make_page

    docs = run.inp.docs[:CORE_SAMPLE]
    ids = run.inp.first_ids(CORE_SAMPLE)
    lexicon, scorer = run.lexicon, run.scorer  # NGramScorer keeps no per-word cache
    with tracer.span("core", run="core"):
        with tracer.span("core.render"):
            pages = [make_page(i, r["text"], r["lang"]) for i, r in zip(ids, docs)]
        with tracer.span("core.extract"):
            texts = [extract_document(p["html"])[0] for p in pages]
        en = [t for t, p in zip(texts, pages) if p["lang"] == "en"]
        words = [w for t in en for w in t.split()]
        with tracer.span("core.scoring"):
            probs = [scorer.word_prob(w) for w in words]
        errors = [w for w, p in zip(words, probs) if p < 0.5]
        distinct = sorted(set(errors))
        with tracer.span("core.candidates.index"):
            delidx = build_deletion_index(lexicon)
        with tracer.span("core.candidates"):
            memo = {w: candidate_batch(w, scorer, lexicon, 1, delidx=delidx) for w in distinct}
        prob_memo = dict(zip(words, probs))
        for t in en:  # warm the memo as the worker caches would be
            correct_sentence(t, scorer, lexicon, prob_fn=prob_memo.__getitem__, cand_fn=memo.__getitem__)
        with tracer.span("core.beam"):
            for t in en:
                correct_sentence(t, scorer, lexicon, prob_fn=prob_memo.__getitem__, cand_fn=memo.__getitem__)
    took = {s.name: s.end - s.start for s in tracer.spans if s.run == "core"}
    n_en = max(1, len(en))
    m["render.us_per_doc"] = took["core.render"] * 1e6 / len(docs)
    m["extract.us_per_doc"] = took["core.extract"] * 1e6 / len(docs)
    m["extract.html_bytes_per_doc"] = statistics.mean(len(p["html"]) for p in pages)
    m["scoring.us_per_word"] = took["core.scoring"] * 1e6 / max(1, len(words))
    m["candidates.us_per_error_word"] = took["core.candidates"] * 1e6 / max(1, len(distinct))
    m["candidates.per_error_word"] = statistics.mean(len(b) for b in memo.values()) if memo else 0.0
    m["candidates.distinct_error_words"] = len(distinct)
    m["candidates.error_word_occurrences"] = len(errors)
    m["candidates.reuse_ratio"] = 1 - len(distinct) / len(errors) if errors else 0.0
    m["beam.us_per_doc"] = took["core.beam"] * 1e6 / n_en
    m["beam.words_per_doc"] = len(words) / n_en
    m["beam.errors_per_doc"] = len(errors) / n_en


def traced(run, seconds: int) -> tuple[dict, dict]:
    """``seconds`` is unused: the traced run does a fixed amount of work."""
    del seconds
    tracer = Tracer()
    m: dict[str, float] = {}
    # untraced reference: tracing off, same warm-up as the timed runs
    t0 = time.perf_counter()
    run.start()
    m["session.start_s"] = time.perf_counter() - t0
    run.run_once("setup0", warmup=True)
    # the second call is the reference: by then the JVM has run the
    # pipeline about as often as it has before the traced call
    run.run_once("reference0")
    untraced_wall, _ = run.run_once("reference1")
    run.session.stop_context()

    with tracer.span("trace") as root:
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = run.start(event_log=True)
            with tracer.span("warmup"):
                _tag(spark, "warmup")
                run.run_once("setup1", warmup=True)
        with tracer.span("pipeline", run="pipeline"):
            _tag(spark, "pipeline")
            traced_wall, _ = run.run_once("traced")
        _udf_chain(tracer, run, m)
        _catalyst_chain(tracer, run, m)
        _core_pass(tracer, run, m)
    peak = harness.tree_peak_rss_mb()
    run.session.stop_context()

    ev = EventLog(run.session.path("eventlog"))
    span = {s.name: (s.start, s.end) for s in tracer.spans}
    pipe = span["pipeline"]
    m["trace.overhead_s"] = traced_wall - untraced_wall
    m["trace.coverage"] = tracer.coverage(root)
    m["lexicon.build_s"] = span["lexicon"][1] - span["lexicon"][0]
    m["lexicon.shuffle_bytes"] = ev.phase(*span["lexicon"]).shuffle_write_bytes
    m["scorer_fit.sidecar_write_s"] = span["sidecar_write"][1] - span["sidecar_write"][0]
    for k, v in ev.python_boundary(*pipe).items():
        m[f"udf_stage.{k}"] = v
    spread_bytes, spread_s = ev.exchange_stats(*pipe, marker="xxhash64(doc_id")
    m["pipeline.spread_shuffle_bytes"] = spread_bytes
    m["pipeline.spread_s"] = spread_s
    jobs = ev.jobs_between(*pipe)
    m["pipeline.unattributed_s"] = (pipe[1] - pipe[0]) - ev.union_s([(j.submit_ms, j.end_ms) for j in jobs])
    for name in ("extract", "detect", "candidate_batches", "fold"):
        lo, hi = span[f"catalyst.{name}"]
        m[f"catalyst.{name}_s"] = hi - lo
    cat = ev.phase(*span["catalyst"])
    m["catalyst.jobs"] = cat.jobs
    m["catalyst.shuffle_bytes"] = cat.shuffle_write_bytes
    for phase in PHASES:
        st = ev.phase(*span[phase])
        m[f"{phase}.executor_cpu_s"] = st.executor_cpu_s
    # GC and spill over the whole traced session: per phase they are
    # mostly zero at these input sizes
    whole = ev.phase(root.start, root.end)
    m["spark.gc_s"] = whole.gc_s
    m["spark.spill_bytes"] = whole.spill_bytes
    m["spark.tasks_failed"] = whole.tasks_failed

    detail = {
        "runs": 3,
        "setups": 2,
        "untraced_wall_s": untraced_wall,
        "traced_wall_s": traced_wall,
        "spans": tracer.records(),
        "peak_rss_mb_by_process": peak,
    }
    return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(m.items())}, detail
