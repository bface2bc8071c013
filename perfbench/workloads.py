"""Seeded inputs for the three workloads and the correctness references.

The program only ever sees the generated documents; ``--seed`` picks which
documents, never how the program runs.  The sf0.1-shaped table is made
here (same size, vocabulary, length and language mix as the repo's sf0.1
``documents``) because the benchmark may read nothing outside its
checkout.

``crawl_replica``
    The sf0.1-shaped ``documents`` table (5000 docs, 30-word vocabulary)
    replicated ×R with ``sources.webpages.replicate_docs``.  The seed picks
    the ``doc_id`` block; every offset is a multiple of 10^7 (itself a
    multiple of 32), so the OCR noise is new but the page-kind mix is not.
    UDF mode, lexicon fitted from the base table.  The vocabulary is ~1k
    words, so the per-worker candidate memo almost always hits and the
    per-doc render → extract → beam Python plus the Arrow boundary do most
    of the work.
``wide_vocab``
    2000 seeded docs over a generated pseudo-word vocabulary of 6·10^4
    words (a ~5·10^4-word lexicon, 50× crawl_replica's and far below the
    auto-Bloom threshold), all English so every page is corrected.  UDF mode, lexicon fitted from the corpus itself.  The
    working set outgrows the per-worker caches: the lexicon distinct, the
    sidecar write, each worker's scorer fit and deletion index, and
    candidate misses dominate.
``catalyst_correct``
    A seeded 500-doc block of the sf0.1-shaped table through the Catalyst
    engine (bucketed lexicon, deletion-neighbourhood joins, checkpoints,
    beam fold).  Bound by job count and shuffles, not by per-doc work:
    each call takes ~13 s whatever the block size.  Runnable by hand and
    smoke-tested, but left out of BENCHMARK.json to keep a full round of
    runs short: that fixed cost makes each of its runs the longest by far.
"""
from __future__ import annotations

import random
from dataclasses import dataclass, field

# the sf0.1 documents table: 5000 docs of 10..100 words over this
# vocabulary, 5% near-duplicates tagged "dup", and this language mix
SF01_DOCS = 5000
SF_WORDS = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ("en",) * 41 + ("zh",) * 15 + ("es",) * 15 + ("fr",) * 15 + ("de",) * 14
SF_GEN_SEED = 42
ID_STRIDE = 10_000_000  # replicate_docs' doc_id stride
ORACLE_SAMPLE = 48

SIZES = {
    # name: (crawl replicas, wide vocabulary, wide docs, catalyst block)
    "full": (4, 60_000, 2000, 500),
    "small": (2, 3000, 200, 40),
}


def sf_documents(n: int = SF01_DOCS) -> list[dict]:
    rng = random.Random(SF_GEN_SEED)
    rows: list[dict] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            text = rows[rng.randrange(i)]["text"] + " dup"
        else:
            text = " ".join(rng.choice(SF_WORDS) for _ in range(rng.randint(10, 100)))
        rows.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS), "source": f"src{i % 20}", "n_chars": len(text)})
    return rows


def pseudo_vocabulary(rng: random.Random, n: int) -> list[str]:
    onsets = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl st tr ch sh".split()
    vowels = "a e i o u ai ea oo".split()
    codas = ["", "", "n", "r", "s", "t", "l", "m"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(onsets) + rng.choice(vowels) + rng.choice(codas) for _ in range(rng.randint(2, 3))))
    return sorted(words)


@dataclass
class Inputs:
    """Generated input of one workload run."""

    mode: str
    docs: list[dict]  # rows handed to the program (before offset and replication)
    lexicon_from_base: bool = False  # fit the lexicon on ``docs`` as written, not on the replicas
    replicate: int = 1
    id_offset: int = 0
    sample: list[dict] = field(default_factory=list)  # (doc_id, text, lang) of the oracle sample

    @property
    def n_docs(self) -> int:
        return len(self.docs) * self.replicate

    def first_ids(self, n: int) -> list[int]:
        """doc_ids, as the program sees them, of the first ``n`` docs."""
        return [r["doc_id"] + self.id_offset for r in self.docs[:n]]


def make_inputs(workload: str, seed: int, size: str) -> Inputs:
    replicas, vocab, wide_docs, block = SIZES[size]
    if workload == "crawl_replica":
        base = sf_documents(SF01_DOCS if size == "full" else 200)
        offset = (100 + seed % 900) * replicas * ID_STRIDE
        inp = Inputs("udf", base, True, replicas, offset)
        picks = [((j * 104729) % len(base), j % replicas) for j in range(ORACLE_SAMPLE)]
        inp.sample = [
            {"doc_id": base[i]["doc_id"] + offset + k * ID_STRIDE, "text": base[i]["text"], "lang": base[i]["lang"]}
            for i, k in picks
        ]
        return inp
    if workload == "wide_vocab":
        rng = random.Random(seed)
        words = pseudo_vocabulary(rng, vocab)
        docs = []
        for i in range(wide_docs):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(10, 100)))
            docs.append({"doc_id": i, "text": text, "lang": "en", "source": f"src{i % 20}", "n_chars": len(text)})
        inp = Inputs("udf", docs)
    elif workload == "catalyst_correct":
        base = sf_documents(SF01_DOCS if size == "full" else 10 * block)
        b = seed % (len(base) // block)
        offset = (1 + seed % 1000) * ID_STRIDE
        docs = [dict(r, doc_id=r["doc_id"] + offset) for r in base[b * block : (b + 1) * block]]
        inp = Inputs("catalyst", docs)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    step = max(1, len(inp.docs) // ORACLE_SAMPLE)
    inp.sample = [{k: r[k] for k in ("doc_id", "text", "lang")} for r in inp.docs[::step][:ORACLE_SAMPLE]]
    return inp


def write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows), path)


def oracle_lexicon(rows: list[dict]) -> frozenset[str]:
    from post_ocr_corretion_spark.core.oracle import build_lexicon
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS

    return build_lexicon([r["text"] for r in rows], COMMON_WORDS)


def oracle_rows(inp: Inputs, lexicon, scorer=None) -> dict[str, dict]:
    """url → the single-node oracle's output row for the sample docs."""
    from post_ocr_corretion_spark.core.oracle import run_oracle
    from post_ocr_corretion_spark.datagen.webpages import make_page

    pages = [make_page(r["doc_id"], r["text"], r["lang"]) for r in inp.sample]
    return {
        row["url"]: {
            "kind": row["kind"],
            "extracted_text": row["extracted_text"],
            "spans": [tuple(s) for s in row["spans"]],
            "corrected_text": row["corrected_text"],
            "corrected_readable": row["corrected_readable"],
        }
        for row in run_oracle(pages, lexicon, scorer)
    }


class Program:
    """The workload's calls into the program, on one SparkSession."""

    def __init__(self, spark, inp: Inputs, docs_path: str):
        from pyspark.sql import functions as F

        from post_ocr_corretion_spark.sources.webpages import replicate_docs

        self.spark, self.inp = spark, inp
        docs = spark.read.parquet(docs_path)
        if inp.id_offset:
            docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(inp.id_offset))
        self.docs = replicate_docs(docs, inp.replicate)
        self.lexicon_docs = spark.read.parquet(docs_path) if inp.lexicon_from_base else None
        self.sample_ids = [r["doc_id"] for r in inp.sample]

    @property
    def lexicon_input(self):
        """The table the workload's lexicon is fitted from."""
        return self.lexicon_docs if self.lexicon_docs is not None else self.docs

    def pipeline(self):
        from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

        return run_pipeline_from_docs(self.spark, self.docs, mode=self.inp.mode, lexicon_docs=self.lexicon_docs)

    def warmup(self):
        """The session's warm-up run: the flagship (UDF mode) over the
        oracle sample, lexicon fitted from the sample itself.  The same
        small run for every workload, so a Catalyst-engine warm-up (about
        12 s whatever the input size) never lands in set-up."""
        from pyspark.sql import functions as F

        from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

        return run_pipeline_from_docs(self.spark, self.docs.filter(F.col("doc_id").isin(self.sample_ids)))

    def observe(self, result, name: str):
        """Attach the per-run correctness observation: row count, the sum
        of xxhash64(url, corrected_text) and the oracle-sample rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(name)
        in_sample = F.col("doc_id").isin(self.sample_ids)
        row = F.struct("url", "kind", "extracted_text", "spans", "corrected_text", "corrected_readable")
        observed = result.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64("url", "corrected_text").cast("decimal(20,0)")).alias("digest"),
            F.collect_list(F.when(in_sample, row)).alias("sample"),
        )
        return observed, obs


def sample_mismatches(got: list, expected: dict[str, dict]) -> list[str]:
    """urls whose Spark row differs from the oracle's (or is missing)."""
    seen = {}
    for r in got:
        seen[r["url"]] = {
            "kind": r["kind"],
            "extracted_text": r["extracted_text"],
            "spans": [(s["start"], s["end"]) for s in r["spans"]],
            "corrected_text": r["corrected_text"],
            "corrected_readable": r["corrected_readable"],
        }
    return sorted(u for u in expected if seen.get(u) != expected[u]) + sorted(set(seen) - set(expected))
