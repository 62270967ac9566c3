"""End-to-end corpus-preparation pipeline — the LLM-side counterpart of
the reference-mirroring event pipeline (pipeline/dreem.py): chain the
verified cleaning operators into the sequence a pretraining data job
actually runs, with per-stage accounting.

    raw → cross-doc line dedup → quality gate → PII redaction
        → exact near-line dedup (first id wins) → token accounting

Every stage is one of this repo's oracle-verified operators
(operators/cleaning.py, functions/text.py), so the WHOLE pipeline gets a
composed DuckDB oracle: stage-by-stage document and token counts must
match bit-for-bit. No UDFs anywhere; the only shuffles are line_dedup's
two content shuffles, the sha256-keyed exact-dedup hash aggregate, and
the five tiny stage aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.cleaning import line_dedup, pii_redact_col
from ..plan_audit import materialize

QUALITY_THRESHOLD = 0.6


def _stage(name: str, df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.agg(
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(T.token_count(F.col(text_col)).cast("long")), F.lit(0)
        ).alias("n_tokens"),
    ).select("stage", "n_docs", "n_tokens")


def corpus_prep(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Run the prep chain; return (survivors, stage_report) — the cleaned
    corpus (doc_id, text) after the final dedup rung, and the per-stage
    (stage, n_docs, n_tokens) accounting. The streaming twin
    (streaming/corpus.py) publishes both as snapshots per drain."""
    # each stage feeds BOTH its report aggregate and the next stage (and
    # d4 feeds the returned corpus): without materializing it the
    # report's five union branches re-execute the cumulative chain —
    # O(stages^2) full-corpus work, and the 100x giant-doc sweep's
    # timeout.
    s0 = _stage("0_raw", docs.select(F.col(text_col).alias("text")))
    d1 = materialize(
        line_dedup(docs, text_col, with_text=True).select("doc_id", "text")
    )
    s1 = _stage("1_line_dedup", d1)
    d2 = materialize(
        d1.filter(T.quality_score(F.col("text")) >= QUALITY_THRESHOLD)
    )
    s2 = _stage("2_quality", d2)
    d3 = materialize(
        d2.select("doc_id", pii_redact_col(F.col("text")).alias("text"))
    )
    s3 = _stage("3_pii_redacted", d3)
    # exact dedup keyed on sha256(normalized text) with a min_by hash
    # aggregate — the line_dedup posture, for the same two reasons: a
    # window PARTITIONED BY the normalized text ships the full document
    # string as a shuffle key and sorts it (one giant doc = one giant
    # sort key), and boilerplate-identical docs funnel into one window
    # task while min_by collapses them map-side. sha256 equality as
    # exact identity is the repo-wide convention (X1 record hash,
    # exact_dedup); grouping additionally on length(norm) is a near-free
    # collision guard — a colliding pair of DIFFERENT texts would have to
    # collide at equal length too to be merged (r9 ADVICE).
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    d4 = materialize(
        d3.groupBy(
            F.sha2(norm, 256).alias("__k"), F.length(norm).alias("__len")
        )
        .agg(
            F.min_by(
                F.struct("doc_id", "text"), F.col("doc_id")
            ).alias("__win")
        )
        .select(
            F.col("__win.doc_id").alias("doc_id"),
            F.col("__win.text").alias("text"),
        )
    )
    s4 = _stage("4_exact_dedup", d4)
    report = (
        s0.unionByName(s1)
        .unionByName(s2)
        .unionByName(s3)
        .unionByName(s4)
        .orderBy("stage")
    )
    return d4, report


def corpus_prep_stages(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Run the prep chain and return (stage, n_docs, n_tokens) per stage."""
    return corpus_prep(docs, text_col)[1]
