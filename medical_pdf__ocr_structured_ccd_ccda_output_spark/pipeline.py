"""End-to-end pipeline: transcripts -> extracted_turns, visit_spans,
entities (+dedup log), doc rollups, metrics, lineage, CCD XML.

Shuffle budget (the thing that matters at 100 TB):
  stage 1  narrow extraction (scan-pipelined, codegen, zero Python)
  stage 2  ONE shuffle on conv_id for the ordering window (or the
           skew-aware bucketed variant's (conv_id,bucket) shuffles)
  stage 3  groupBy rollups reuse the conv_id partitioning where
           possible; entity dedup shuffles on (conv_id, visit_id)
Lineage + metrics ride on the same DataFrames (no extra scans besides
the small aggregates).
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import rules
from .functions.cleaning import PY_NONWS
from .functions.validate import visit_warnings_expr
from .operators.dedup import dedup_entities, split_dedup_output
from .operators.entities import (
    extract_allergies,
    extract_lab_results,
    extract_medications,
    extract_plan_items,
    extract_problems,
    extract_visit_texts,
    extract_vitals,
)
from .operators.extract import extract_turns
from .operators.rollups import (
    data_quality_rollup,
    document_rollup,
    stage_metrics,
)
from .operators.sessionize import (
    assign_visits,
    assign_visits_skew_aware,
    visit_rollup,
)
from .renderers.text import narrative_sections, render_narrative
from .renderers.xml import entity_sections, render_ccd_xml
from .sources.lineage import lineage_rows


@dataclass
class PipelineResult:
    """The job's sinks, declared in write order (see `sinks`)."""
    extracted_turns: DataFrame
    visit_spans: DataFrame
    documents: DataFrame
    medications: DataFrame
    problems: DataFrame
    lab_results: DataFrame
    vitals: DataFrame
    allergies: DataFrame
    plan_items: DataFrame
    dedup_log: DataFrame
    quarantine: DataFrame | None   # None: validation off
    data_quality: DataFrame
    ccd_xml: DataFrame | None      # None: raw text off
    narrative: DataFrame | None    # None: narrative off
    metrics: DataFrame
    lineage: dict[str, DataFrame]  # stage -> lineage rows

    def sinks(self) -> Iterator[tuple[str, DataFrame]]:
        """(table name, DataFrame) per present sink in declaration
        order; lineage frames are named lineage_<stage>."""
        for f in fields(self):
            value = getattr(self, f.name)
            if f.name == "lineage":
                for stage, df in value.items():
                    yield f"lineage_{stage}", df
            elif value is not None:
                yield f.name, value


def conversation_quality(transcripts: DataFrame) -> DataFrame:
    """P1 ingest validation (pdf_service.py:28-99 analog) as one map-side-
    combinable aggregate per conversation: turn-count bounds, total size,
    emptiness, encrypted marker.  Returns (conv_id, n_turns, total_chars,
    n_nonempty, warnings array, quarantined bool); warning order matches
    rules.conversation_warnings."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    agg = transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length(txt)).cast("long").alias("total_chars"),
        # "non-empty" = has non-whitespace content, consistent with
        # clean_text's .strip()-based empty check (a tab-only page must
        # not count as a real page); PY_NONWS, not \S — Python .strip()
        # treats NBSP etc. as whitespace, Java \S does not
        F.count(F.when(txt.rlike(PY_NONWS), 1)).alias("n_nonempty"),
        F.max(txt.contains(rules.ENCRYPTED_MARKER)).alias("_has_encrypted"),
    )
    warnings = F.array_compact(F.array(
        F.when(F.col("_has_encrypted"), F.lit("encrypted")),
        F.when(F.col("n_turns") > rules.MAX_TURNS_PER_CONV,
               F.lit("too_many_pages")),
        F.when(F.col("total_chars") > rules.MAX_CONV_CHARS,
               F.lit("file_too_large")),
        F.when(F.col("n_nonempty") == 0, F.lit("no_pages")),
    ))
    return agg.select(
        "conv_id", "n_turns", "total_chars", "n_nonempty",
        warnings.alias("warnings"),
        (F.size(warnings) > 0).alias("quarantined"),
    )


def apply_quarantine(transcripts: DataFrame,
                     quality: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """(clean_turns, quarantine_rows).  The quarantined-conversation list
    is expected to be tiny relative to the corpus, so the turn-level
    filter is a broadcast anti/semi join on conv_id — no extra shuffle
    of the big side."""
    quality = quality if quality is not None else conversation_quality(transcripts)
    bad = quality.filter(F.col("quarantined")).select("conv_id")
    clean = transcripts.join(F.broadcast(bad), "conv_id", "left_anti")
    return clean, quality.filter(F.col("quarantined"))


def _first_page(df: DataFrame) -> DataFrame:
    """Deduped entities carry the merged source_pages set; the render
    sort key is the first (earliest) page plus the kept record's
    intra-turn line ordinal, so same-page entities render in true
    document/dedup-output order (not content-lexicographic)."""
    return df.withColumn(
        "source_page", F.element_at("source_pages", 1)
    ).withColumn(
        "source_line_in_turn",
        F.coalesce(F.col("source_line_in_turn"), F.lit(0)),
    )


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 run_id: str = "run_0",
                 skew_aware: bool = False,
                 include_raw_text: bool = True,
                 with_validation: bool = True,
                 with_narrative: bool = False,
                 max_text_chars: int | None = None) -> PipelineResult:
    quarantine = None
    if with_validation:
        transcripts, quarantine = apply_quarantine(transcripts)
    extracted = extract_turns(transcripts, with_sections=True)
    if skew_aware:
        turns = assign_visits_skew_aware(extracted)
    else:
        turns = assign_visits(extracted)

    visits = visit_rollup(turns, include_raw_text=include_raw_text,
                          max_text_chars=max_text_chars)
    # schema-validation warnings stage (raising Pydantic validators ->
    # flagged rows; canonical_schema.py:182-208,286-292)
    visits = visits.withColumn(
        "schema_warnings",
        visit_warnings_expr(
            F.col("visit_id"), F.col("confidence"), F.col("turn_count")
        ),
    )
    data_quality = data_quality_rollup(turns)
    docs = document_rollup(turns, include_combined_text=include_raw_text,
                           max_text_chars=max_text_chars)
    metrics = stage_metrics(turns)

    med_raw = extract_medications(turns)
    prob_raw = extract_problems(turns)
    lab_raw = extract_lab_results(turns)
    med_c = dedup_entities(med_raw, "medication")
    prob_c = dedup_entities(prob_raw, "problem")
    lab_c = dedup_entities(lab_raw, "result")
    meds, med_log = split_dedup_output(med_c)
    probs, prob_log = split_dedup_output(prob_c)
    labs, lab_log = split_dedup_output(lab_c)
    vits = extract_vitals(turns)
    alls, all_log = split_dedup_output(
        dedup_entities(extract_allergies(turns), "allergy"))
    plans, plan_log = split_dedup_output(
        dedup_entities(extract_plan_items(turns), "plan"))
    log = (
        med_log.withColumn("entity_type", F.lit("medication"))
        .unionByName(prob_log.withColumn("entity_type", F.lit("problem")))
        .unionByName(lab_log.withColumn("entity_type", F.lit("result")))
        .unionByName(all_log.withColumn("entity_type", F.lit("allergy")))
        .unionByName(plan_log.withColumn("entity_type", F.lit("plan")))
    )

    lineage = {
        "extracted_turns": lineage_rows(
            turns, run_id, "extract+sessionize", ["conv_id", "turn_idx", "text_clean"]
        ),
    }

    xml = narrative = None
    if include_raw_text or with_narrative:
        ent_kw = dict(
            medications=_first_page(meds),
            problems=_first_page(probs),
            vitals=vits,
            results=_first_page(labs),
            plan=_first_page(plans),
            visit_texts=extract_visit_texts(turns),
        )
        if include_raw_text:
            xml = render_ccd_xml(visits, sections=entity_sections(**ent_kw))
        if with_narrative:
            narrative = render_narrative(
                visits, sections=narrative_sections(**ent_kw))

    return PipelineResult(
        extracted_turns=turns,
        visit_spans=visits,
        documents=docs,
        medications=meds,
        problems=probs,
        lab_results=labs,
        vitals=vits,
        allergies=alls,
        plan_items=plans,
        dedup_log=log,
        quarantine=quarantine,
        data_quality=data_quality,
        ccd_xml=xml,
        narrative=narrative,
        metrics=metrics,
        lineage=lineage,
    )
