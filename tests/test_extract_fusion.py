"""Each extract_*_docs query crosses the Python boundary once: a payload
synthesized from the doc text is built inside the extraction stage
(``extract_stage(..., payload_fn=...)``), not by a second Python stage
chained in front of it."""

from __future__ import annotations

import re

import pandas as pd

import __spark_entry__
from univer_ocr_spark.ops.extract_docs import (
    _pdfish_columns_payload,
    _pdfish_heights_payload,
    _pdfish_overlap_payload,
    _pdfish_payload,
    _pdfish_title_payload,
    _per_doc,
)
from univer_ocr_spark.spark.pipeline import extract_stage

PYTHON_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)\b"
)
LAYOUTS = (
    _pdfish_payload,
    _pdfish_columns_payload,
    _pdfish_title_payload,
    _pdfish_overlap_payload,
    _pdfish_heights_payload,
)
_VOCAB = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
DOCS = [
    (i, " ".join(_VOCAB[(i * 7 + k) % len(_VOCAB)] for k in range(n)))
    for i, n in enumerate((1, 3, 14, 28, 45, 60))
] + [(6, ""), (7, "  \t\n ")]


def _python_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return len(PYTHON_NODE.findall(plan.toString()))


def test_extract_docs_queries_have_one_python_node(spark, tmp_path):
    pd.DataFrame(DOCS, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    qs = {n: q for n, q in __spark_entry__.queries().items()
          if n.startswith("extract_") and n.endswith("_docs")}
    assert len(qs) == 12
    counts = {n: _python_nodes(q(spark, str(tmp_path))) for n, q in qs.items()}
    assert counts == {n: 1 for n in qs}


def test_payload_fn_matches_prebuilt_payload_column(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cols = ["extracted_text", "spans", "kind", "n_units", "n_spans", "n_chars"]

    def by_doc(df):
        return {r["doc_id"]: tuple(r[c] for c in cols) for r in df.collect()}

    for layout in LAYOUTS:
        prebuilt = spark.createDataFrame(
            [(i, layout(i, t)) for i, t in DOCS], "doc_id long, text string"
        )
        fused = by_doc(extract_stage(docs, payload_fn=_per_doc(layout)))
        assert fused == by_doc(extract_stage(prebuilt)), layout.__name__
        assert len(fused) == len(DOCS)
