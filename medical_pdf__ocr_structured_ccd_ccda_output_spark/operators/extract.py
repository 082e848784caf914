"""Extraction stage: transcripts -> extracted_turns.

Every column but text_clean (an Arrow-batched UDF) is a JVM
expression (whole-stage codegen; no Python).
This is the narrow, embarrassingly-parallel stage — it runs before any
shuffle, so Catalyst keeps it pipelined with the parquet scan and the
`text` column is pruned as soon as `text_clean` is derived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cleaning import clean_text_pandas_udf, layout_hints_expr
from ..functions.confidence import confidence_expr
from ..functions.dates import extracted_date_expr, is_visit_boundary_expr
from ..functions.sections import sections_expr
from ..functions.tokens import (
    needs_review_expr,
    review_reasons_expr,
    uncertain_tokens_expr,
)


def extract_turns(transcripts: DataFrame,
                  with_sections: bool = True) -> DataFrame:
    """Per-turn extraction: clean text, confidence, uncertainty, review
    flags, layout hints, boundary flag, extracted date, section spans.

    The boilerplate-strip pass runs as an Arrow-batched pandas UDF — the
    north-star extractor shape.  Besides sharing literally the same
    implementation as the pytest oracle, the ArrowEvalPython node
    materializes text_clean as a real column, so the dozen downstream
    expressions consume an attribute instead of having the (expensive)
    cleaning expression inlined into each of them by CollapseProject.
    functions.cleaning.clean_text_expr is the pure-JVM twin (same
    semantics — tested equal), for a single cheap consumer."""
    df = transcripts.withColumn("text_clean",
                                clean_text_pandas_udf()(F.col("text")))
    c = F.col("text_clean")
    df = (
        df.withColumn("confidence", confidence_expr(c))
        .withColumn("layout_hints", layout_hints_expr(c))
        .withColumn("uncertain_tokens", uncertain_tokens_expr(c))
        .withColumn(
            "manual_review_required",
            needs_review_expr(F.col("confidence"), F.col("uncertain_tokens")),
        )
        .withColumn(
            "review_reasons",
            review_reasons_expr(F.col("confidence"), F.col("uncertain_tokens"), c),
        )
        .withColumn("is_boundary", is_visit_boundary_expr(c))
        .withColumn("extracted_date", extracted_date_expr(c))
    )
    if with_sections:
        df = df.withColumn("sections", sections_expr(c))
    return df.drop("text")
