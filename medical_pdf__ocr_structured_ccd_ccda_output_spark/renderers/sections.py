"""Fused per-visit section engine shared by both document renderers.

`xml.entity_sections` (CCD/CCDA XML) and `text.narrative_sections`
(plain-text narrative) each declare a table of section kinds in their
own render order; `fused_sections` turns the table into one plan.
Rows are rendered per kind BEFORE a union-with-kind-rank, so every
section comes out of ONE groupBy (conv_id, visit_id) aggregation — one
shuffle instead of per-kind aggs + full-outer joins (measured 15
exchanges -> 2 on the contract query).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class SectionKind:
    """One section kind.  `rows` carries conv_id, visit_id, source_page,
    source_line_in_turn and whatever `row` (the rendered row) reads;
    None marks the kind absent.  `wrap` turns the joined rows into the
    section; `sep` joins the rows."""
    rows: DataFrame | None
    row: Column
    wrap: Callable[[Column], Column]
    sep: str


def visit_text_rows(visit_texts: DataFrame | None,
                    field: str) -> DataFrame | None:
    """One field's rows of entities.extract_visit_texts output."""
    if visit_texts is None:
        return None
    return visit_texts.filter(F.col("field") == field)


def single_value_vitals(vitals: DataFrame | None) -> DataFrame | None:
    """The vitals both documents list: like the reference, only
    single-value vitals render (its loop requires vital_data['value'],
    which blood_pressure lacks — xml_renderer.py:328-353)."""
    if vitals is None:
        return None
    return vitals.filter(F.col("value").isNotNull())


def fused_sections(kinds: list[SectionKind], section_sep: str,
                   alias: str) -> DataFrame:
    """(conv_id, visit_id, <alias>): the present kinds' sections, in
    list order, joined with `section_sep`.  Rows sort by (source_page,
    source_line_in_turn) — document order; a visit without rows of a
    kind gets no section of it (concat_ws drops nulls)."""
    kinds = [k for k in kinds if k.rows is not None]
    if not kinds:
        raise ValueError("at least one entity DataFrame is required")
    union = None
    for rank, k in enumerate(kinds):
        ranked = k.rows.select(
            "conv_id", "visit_id",
            F.lit(rank).alias("_rank"),
            F.col("source_page").cast("int").alias("source_page"),
            F.col("source_line_in_turn").cast("int").alias("source_line_in_turn"),
            k.row.alias("_row"),
        )
        union = ranked if union is None else union.unionByName(ranked)
    agg = union.groupBy("conv_id", "visit_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("_rank", "source_page", "source_line_in_turn", "_row")
            )
        ).alias("_rows")
    )
    sections = []
    for rank, k in enumerate(kinds):
        of_kind = F.filter(F.col("_rows"), lambda r: r["_rank"] == rank)
        body = F.array_join(F.transform(of_kind, lambda r: r["_row"]), k.sep)
        sections.append(F.when(F.size(of_kind) > 0, k.wrap(body)))
    return agg.select(
        "conv_id", "visit_id",
        F.concat_ws(section_sep, *sections).alias(alias),
    )
