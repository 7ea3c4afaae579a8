"""The markup by-construction oracles guard against doc text the extractor
would TRANSFORM (fence-start, ESC, BLANK, Cyrillic confusables, envelope
shape): both engines must exclude exactly the same docs, so parity holds
even on hostile regenerated data (ADVICE r01). The pdfish ones must agree
with their oracles on NULL and blank doc text."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from univer_ocr_spark.ops.extract_docs import (
    EXTRACT_MARKUP_COLLAPSE_SQL,
    EXTRACT_MARKUP_DOCS_SQL,
    EXTRACT_PDFISH_COLUMNS_SQL,
    EXTRACT_PDFISH_DOCS_SQL,
    EXTRACT_PDFISH_HEIGHTS_SQL,
    EXTRACT_PDFISH_OVERLAP_SQL,
    EXTRACT_PDFISH_TITLE_SQL,
    extract_markup_collapse_docs,
    extract_markup_docs,
    extract_pdfish_columns_docs,
    extract_pdfish_docs,
    extract_pdfish_heights_docs,
    extract_pdfish_overlap_docs,
    extract_pdfish_title_docs,
)

HAZARD_DOCS = [
    (0, "plain safe text"),
    (1, "```starts with a fence"),
    (2, "has \x1b[31man ansi\x1b[0m run"),
    (3, "blank ␀ sentinel inside"),
    (4, "latin a then cyrillic а adjacent"),
    (5, "Cyrillic о alone"),
    (6, '{"stdout": "envelope shaped"}'),
    (7, "multi\nline\ntext stays safe"),
    (8, "\x1b[2Kstatus-prefixed line"),
    (9, "safe with punctuation !#$%"),
]


def test_markup_guards_two_sided(spark, tmp_path):
    pdf = pd.DataFrame(HAZARD_DOCS, columns=["doc_id", "text"])
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    for fn, sql in (
        (extract_markup_docs, EXTRACT_MARKUP_DOCS_SQL),
        (extract_markup_collapse_docs, EXTRACT_MARKUP_COLLAPSE_SQL),
    ):
        got = {
            (r["doc_id"], r["extracted_text"]) for r in fn(spark, sf_dir).collect()
        }
        want = set(map(tuple, con.execute(sql).fetchall()))
        assert got == want, fn.__name__
        kept_ids = {i for i, _ in got}
        assert kept_ids == {0, 7, 9}, fn.__name__  # only the safe docs


PDFISH_QUERIES = (
    (extract_pdfish_docs, EXTRACT_PDFISH_DOCS_SQL),
    (extract_pdfish_columns_docs, EXTRACT_PDFISH_COLUMNS_SQL),
    (extract_pdfish_title_docs, EXTRACT_PDFISH_TITLE_SQL),
    (extract_pdfish_overlap_docs, EXTRACT_PDFISH_OVERLAP_SQL),
    (extract_pdfish_heights_docs, EXTRACT_PDFISH_HEIGHTS_SQL),
)


def _pdfish_vs_oracles(spark, tmp_path, docs):
    sf_dir = str(tmp_path)
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    for fn, sql in PDFISH_QUERIES:
        got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        want = sorted(con.execute(sql).fetchall())
        assert got == want, fn.__name__
        assert {r[0] for r in got} >= {3, 4}, fn.__name__  # the normal docs


def test_pdfish_null_and_blank_docs_match_oracles(spark, tmp_path):
    """NULL, '' and space-only doc text through every pdfish query: Spark
    must return exactly its DuckDB oracle's rows (a NULL text gives a NULL
    extracted_text, never a failed query)."""
    _pdfish_vs_oracles(spark, tmp_path, [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "a short normal doc"),
        (4, "two\nlines of\ttext"),
    ])


@pytest.mark.xfail(strict=True, reason=(
    "trim() strips only ' ' in both engines, so tab/newline-only docs pass "
    "the blank-doc filter, and the oracles' by-construction row for a "
    "zero-word doc (n_units 1, or a title with a trailing space) is not "
    "what a glyph-less page extracts to"))
def test_pdfish_tab_newline_only_docs_match_oracles(spark, tmp_path):
    _pdfish_vs_oracles(spark, tmp_path, [
        (2, " \t\n "),
        (3, "a short normal doc"),
        (4, "two\nlines of\ttext"),
    ])
