"""The benchmark's workloads: one op each, its output check, and the layer
probes of the traced run.

Every workload runs as one closed-loop client: an op starts only after
the previous one finished. Layers are timed from outside, by spans around
the benchmark's calls into each layer's public functions.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from contextlib import ExitStack, nullcontext
from random import Random

import pyarrow.parquet as pq

import checks
import inputs
from tracing import wrapped

# the bench.py session setting for transcript tables
TRANSCRIPT_CONF = {"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)}
N_BUCKETS = 16
KERNEL_SAMPLE = 4096  # payloads timed single-threaded in the traced run
KERNEL_BATCH = 2048
# (query, the name of its oracle_sql() twin in ops/extract_docs.py)
EXTRACT_DOCS_QUERIES = (
    ("extract_html_docs", "EXTRACT_HTML_DOCS_SQL"),
    ("extract_pdfish_docs", "EXTRACT_PDFISH_DOCS_SQL"),
    ("extract_pdfish_columns_docs", "EXTRACT_PDFISH_COLUMNS_SQL"),
    ("extract_pdfish_overlap_docs", "EXTRACT_PDFISH_OVERLAP_SQL"),
)
PYTHON_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)\b"
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    kind = ""      # input kind, see inputs.py
    conf: dict = {}
    min_ops = 1    # timed ops of an untraced run, however long they take

    def __init__(self, inp: inputs.Input, work: str, cores: int, seed: int, scale: str):
        self.inp, self.work, self.cores = inp, work, cores
        self.seed, self.scale = seed, scale
        self.rows = inp.meta["rows"]

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark):
        raise NotImplementedError

    def check(self, spark, result) -> list:
        raise NotImplementedError

    def audit(self, spark) -> list:
        """Problems of the full output check, made after the timed ops or
        in the warm-up."""
        raise NotImplementedError

    def probes(self, spark, tracer, m: dict) -> list:
        """Traced-run layer measurements into ``m``; returns problems."""
        raise NotImplementedError

    def event_metrics(self, ev, tracer, m: dict) -> None:
        """Per-layer metrics read from the event log after the run."""
        raise NotImplementedError

    def instrument(self, tracer):
        """Context in which the traced op runs (spans inside the op)."""
        return nullcontext()


# ------------------------------------------------------------ transcripts --

class TranscriptsRead(Workload):
    kind = "transcripts"
    conf = TRANSCRIPT_CONF
    # the first op after the warm-up runs ~10% slower: a median of three
    # ops leaves it out, a median of two (their mean) does not
    min_ops = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.table = os.path.join(self.inp.path, "transcripts")
        gold = pq.read_table(os.path.join(self.inp.path, "gold.parquet")).to_pylist()
        self.gold = {
            (g["conv_id"], g["turn_idx"]): (g["text_md5"], g["n_chars"], g["n_spans"])
            for g in gold
        }
        self.audited: list = ["no full check ran"]
        self.expected: dict = {}
        for (conv, _), (_, n_chars, n_spans) in self.gold.items():
            t, c, s = self.expected.get(conv, (0, 0, 0))
            self.expected[conv] = (t + 1, c + n_chars, s + n_spans)

    def df(self, spark, first_file: bool = False):
        return spark.read.parquet(
            os.path.join(self.table, "part-0000.parquet") if first_file else self.table
        )

    def op(self, spark, first_file: bool = False):
        from univer_ocr_spark.spark.pipeline import conv_stats, run_extraction

        return conv_stats(
            run_extraction(self.df(spark, first_file), drop_payload=True)
        ).collect()

    def warm_up(self, spark) -> None:
        """The full per-turn check (one extraction of the whole table, so
        every core's Python worker is up), then the op on the first file
        (its aggregate is compiled before the timed ops)."""
        from univer_ocr_spark.spark.pipeline import run_extraction

        self.audited = self._digests(run_extraction(self.df(spark), drop_payload=True))
        self.op(spark, first_file=True)

    def check(self, spark, result) -> list:
        return checks.conv_stats(
            [(r["conv_id"], r["n_turns"], r["total_chars"], r["total_spans"]) for r in result],
            self.expected,
        )

    def _digests(self, extracted) -> list:
        from pyspark.sql import functions as F

        rows = extracted.select(
            "conv_id", "turn_idx", F.md5(F.encode("extracted_text", "UTF-8")),
            "n_chars", "n_spans",
        ).collect()
        return checks.turn_digests([tuple(r) for r in rows], self.gold)

    def audit(self, spark) -> list:
        return self.audited

    def probes(self, spark, tracer, m: dict) -> list:
        from univer_ocr_spark.spark.pipeline import conv_stats, run_extraction

        self._kernels(m)
        with tracer.span("pipeline.scan") as s_scan:
            noop(self.df(spark))
        with tracer.span("pipeline.extract_stage") as s_ext:
            noop(run_extraction(self.df(spark), drop_payload=True))
        with tracer.span("pipeline.checkpoint"):
            ext = run_extraction(self.df(spark), drop_payload=True).localCheckpoint()
        with tracer.span("pipeline.conv_stats") as s_cs:
            conv_stats(ext).collect()
        problems = self._digests(ext)
        scan_s = tracer.wall(s_scan["id"])
        ext_s = tracer.wall(s_ext["id"])
        kernel_s = self.rows * m["extract.batch_us_per_row"] / 1e6
        m["pipeline.scan_s"] = scan_s
        m["pipeline.extract_stage_s"] = ext_s
        m["pipeline.boundary_s"] = ext_s - scan_s - kernel_s / self.cores
        m["pipeline.conv_stats_s"] = tracer.wall(s_cs["id"])
        m["pipeline.parallel_efficiency"] = m["rows_per_s"] / (
            self.cores * 1e6 / m["extract.batch_us_per_row"]
        )
        problems += self._commit(spark, tracer, m)
        docs = inputs.documents(os.path.dirname(self.inp.path), self.seed, self.scale)
        return problems + extract_docs_probe(spark, tracer, m, os.path.join(docs.path, "docs"))

    def _kernels(self, m: dict) -> None:
        """Single-threaded extraction kernels over a seeded payload sample."""
        from univer_ocr_spark.extract import extract_payloads_batch, sniff
        from univer_ocr_spark.extract.html_extract import extract_html
        from univer_ocr_spark.extract.markup_extract import extract_markup
        from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many

        texts = pq.read_table(self.table, columns=["text"]).column("text").to_pylist()
        sample = Random(self.seed).sample(texts, min(KERNEL_SAMPLE, len(texts)))

        def us_per_row(fn, rows, batched=False):
            t0 = time.perf_counter()
            if batched:
                for i in range(0, len(rows), KERNEL_BATCH):
                    fn(rows[i : i + KERNEL_BATCH])
            else:
                for r in rows:
                    fn(r)
            return (time.perf_counter() - t0) * 1e6 / max(len(rows), 1)

        out: list = []
        m["extract.batch_us_per_row"] = us_per_row(
            lambda b: out.extend(extract_payloads_batch(b)), sample, batched=True
        )
        m["extract.spans_per_row"] = sum(len(s) for _, s, _ in out) / len(sample)
        m["extract.chars_per_row"] = sum(len(t) for t, _, _ in out) / len(sample)
        by_kind: dict = {}
        for p in sample:
            by_kind.setdefault(sniff(p), []).append(p)
        m["extract.html_us_per_row"] = us_per_row(extract_html, by_kind.get("html", []))
        m["extract.markup_us_per_row"] = us_per_row(extract_markup, by_kind.get("toolmarkup", []))
        m["extract.pdfish_batch_us_per_row"] = us_per_row(
            extract_pdfish_many, by_kind.get("pdfish", []), batched=True
        )

    def _commit(self, spark, tracer, m: dict) -> list:
        """The manifest path on the same table: bucketize, the per-bucket
        jobs into a fresh work dir, then a resume that must find nothing to
        do. bucketize runs first, so run_with_manifest skips re-staging."""
        from pyspark.sql import functions as F
        from univer_ocr_spark.spark import manifest

        wd = os.path.join(self.work, "commit")
        shutil.rmtree(wd, ignore_errors=True)
        df, snap = self.df(spark), self.inp.meta["key"]
        with tracer.span("manifest.bucketize") as s_b:
            manifest.bucketize(spark, df, os.path.join(wd, "staged"), N_BUCKETS, snap)
        with tracer.span("manifest.buckets") as s_run:
            processed = manifest.run_with_manifest(spark, df, wd, N_BUCKETS, snap)
        with tracer.span("manifest.resume") as s_res:
            resumed = manifest.run_with_manifest(spark, df, wd, N_BUCKETS, snap)
        files = [os.path.join(d, f) for d, _, fs in os.walk(wd) for f in fs]
        written = sum(os.path.getsize(f) for f in files)
        try:
            out_rows = manifest.read_output(spark, wd).count()
            man_rows = manifest.read_manifest(spark, wd).agg(F.sum("n_rows")).first()[0]
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        m["manifest.bucketize_s"] = tracer.wall(s_b["id"])
        m["manifest.buckets_s"] = tracer.wall(s_run["id"])
        m["manifest.resume_s"] = tracer.wall(s_res["id"])
        m["manifest.write_mb"] = written / 2**20
        m["manifest.files_written"] = len(files)
        m["manifest.write_amp"] = written / self.inp.meta["bytes"]
        return checks.commit(processed, resumed, out_rows, man_rows, self.rows, N_BUCKETS)

    def event_metrics(self, ev, tracer, m: dict) -> None:
        sid = tracer.by_name("manifest.buckets")[-1]
        m["manifest.core_busy_ratio"] = ev.metrics(
            {f"{tracer.run_id}#{sid}"}, tracer.wall(sid), self.cores
        )["spark.core_busy_ratio"]


# -------------------------------------------------------------- documents --

class DocsNeardup(Workload):
    kind = "documents"

    def __init__(self, *a):
        super().__init__(*a)
        self.dir = os.path.join(self.inp.path, "docs")
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pylist()
        self.shingles = {d["doc_id"]: inputs.word_shingles(d["text"]) for d in docs}
        fams = pq.read_table(os.path.join(self.inp.path, "families.parquet")).to_pylist()
        self.planted = [(f["family"], f["doc_id"], f["true_j"])
                        for f in fams if f["family"] >= 0]
        self.n_clusters = 0
        self.last = None  # the last op's cluster DataFrame
        self.sigs: list = []      # signatures / verified pairs returned
        self.verified: list = []  # inside the traced ops

    def warm_up(self, spark) -> None:
        """A scan of the corpus. A warm-up that compiles the dedup plans
        (the op on the corpus's first 200 docs) cost 26 s per run and left
        the timed op no steadier across runs."""
        spark.read.parquet(self.dir).count()

    def op(self, spark):
        from univer_ocr_spark.ops import dedup

        self.last = dedup.neardup_clusters(spark, self.dir)
        return self.last.count()

    def check(self, spark, result) -> list:
        return [] if result == self.rows else [f"{result} cluster rows for {self.rows} docs"]

    def audit(self, spark) -> list:
        rows = [tuple(r) for r in self.last.collect()]
        sizes: dict = {}
        for _, cl, _ in rows:
            sizes[cl] = sizes.get(cl, 0) + 1
        self.n_clusters = sum(1 for s in sizes.values() if s > 1)
        return checks.clusters(rows, self.shingles, self.planted)

    def instrument(self, tracer):
        """Spans around the signature and verify layers, called from inside
        neardup_clusters, so one execution is split by layer."""
        from univer_ocr_spark.ops import dedup

        stack = ExitStack()
        stack.enter_context(wrapped(tracer, dedup, "_packed_sigs", "dedup.signature", self.sigs))
        stack.enter_context(
            wrapped(tracer, dedup, "lsh_verified_pairs", "dedup.verify", self.verified)
        )
        return stack

    def probes(self, spark, tracer, m: dict) -> list:
        from univer_ocr_spark.ops import dedup

        problems = self.audit(spark)
        with tracer.span("dedup.shingle") as s_sh:
            noop(dedup._exploded_shingles(spark, self.dir, distinct=False))
        with tracer.span("dedup.candidates") as s_cand:
            n_cand = dedup._lsh_candidates_from_sigs(self.sigs[-1], distinct=False).count()
        # re-runs only the exact verify, over the op's checkpointed survivors
        pairs = [tuple(r) for r in self.verified[-1].collect()]
        problems += checks.verified_pairs(pairs, self.shingles, self.planted)
        w = tracer.wall
        sig_s = w(tracer.by_name("dedup.signature")[-1])
        ver_s = w(tracer.by_name("dedup.verify")[-1])
        m["dedup.shingle_s"] = w(s_sh["id"])
        m["dedup.signature_s"] = sig_s - w(s_sh["id"])
        m["dedup.candidates_s"] = w(s_cand["id"])
        m["dedup.verify_s"] = ver_s - sig_s - w(s_cand["id"])
        m["dedup.cc_s"] = w(tracer.by_name("op")[-1]) - ver_s
        m["dedup.candidate_rows"] = n_cand
        m["dedup.verified_pairs"] = len(pairs)
        m["dedup.clusters"] = self.n_clusters
        m["dedup.verify_yield"] = len(pairs) / n_cand if n_cand else 0.0
        return problems

    def event_metrics(self, ev, tracer, m: dict) -> None:
        descs = {f"{tracer.run_id}#{i}"
                 for i in tracer.subtree(tracer.by_name("dedup.verify")[-1])}
        m["dedup.stage1_rows"] = ev.output_rows(descs, "a_cs", "b_cs")
        m["dedup.stage2_rows"] = ev.output_rows(descs, "a_sigs", "b_sigs")


def extract_docs_probe(spark, tracer, m: dict, docs_dir: str) -> list:
    """The four extract_* document queries (the only chained two-stage
    Python plans), each collected and checked against its DuckDB oracle.
    Run last: their worker pools slow the jobs after them."""
    import duckdb
    from univer_ocr_spark.ops import extract_docs

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(docs_dir, 'documents.parquet')}'")
    problems, stages = [], 0
    for name, sql_name in EXTRACT_DOCS_QUERIES:
        df = getattr(extract_docs, name)(spark, docs_dir)
        with tracer.span(f"extract_docs.{name}") as s:
            rows = df.collect()
        m[f"extract_docs.{name}_s"] = tracer.wall(s["id"])
        stages += python_nodes(df)
        oracle = con.execute(getattr(extract_docs, sql_name)).fetchall()
        problems += [f"{name}: {p}" for p in checks.same_rows(
            [tuple(r) for r in rows], oracle)]
    con.close()
    m["extract_docs.python_stages"] = stages
    return problems


def python_nodes(df) -> int:
    """Python UDF nodes in the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return len(PYTHON_NODE.findall(plan.toString()))


WORKLOADS = {
    "transcripts_read": TranscriptsRead,
    "docs_neardup": DocsNeardup,
}
