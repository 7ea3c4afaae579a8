"""SQL function surface: register the extractor as Spark SQL functions so
SQL-only consumers can use the engine without touching the DataFrame API —
``SELECT extract_text(text), extract_kind(text) FROM transcripts`` — the
U2 named-function wrapper (SURVEY §2.8) over the same Arrow-batched
implementation the pipeline ships.

For production pipelines prefer ``spark.pipeline.extract_stage`` (one pass
emits text + spans + counts together); these per-column UDFs re-run
extraction per referenced column, the standard trade of a scalar SQL
surface. Each IS vectorized (pandas_udf over Arrow batches, pdfish through
the NumPy batch kernel) — never row-at-a-time Python.
"""

# NO `from __future__ import annotations`: pandas_udf resolves the pd.Series
# type hints at registration time, and stringified annotations with a
# function-local pandas import are unresolvable for it
import pandas as pd
from pyspark.sql import SparkSession

SPANS_SQL_TYPE = "array<struct<unit:int,start:int,end:int>>"


def register_sql_udfs(spark: SparkSession) -> None:
    """Register extract_text / extract_spans / extract_kind for SQL use."""
    from pyspark.sql.functions import pandas_udf

    from univer_ocr_spark.packaging import ship_package

    ship_package(spark)  # workers import the package from the py-files zip

    @pandas_udf("string")
    def extract_text(p: pd.Series) -> pd.Series:
        from univer_ocr_spark.extract import extract_payloads_batch

        return pd.Series([r[0] for r in extract_payloads_batch(p.tolist())])

    @pandas_udf(SPANS_SQL_TYPE)
    def extract_spans(p: pd.Series) -> pd.Series:
        from univer_ocr_spark.extract import extract_payloads_batch

        # raw (unit, start, end) tuples: Arrow maps them onto the struct
        # fields positionally, as in the pipeline's extract_stage
        return pd.Series([r[1] for r in extract_payloads_batch(p.tolist())])

    @pandas_udf("string")
    def extract_kind(p: pd.Series) -> pd.Series:
        from univer_ocr_spark.extract import sniff

        return pd.Series([sniff(x or "") for x in p.tolist()])

    spark.udf.register("extract_text", extract_text)
    spark.udf.register("extract_spans", extract_spans)
    spark.udf.register("extract_kind", extract_kind)
