# -*- coding: utf-8 -*-
"""Correctness checks of the benchmark, built from the generator's analytic
truth and never from the extractor.

- ``pages_truth``: one row per expected output page of the seeded pages
  table, computed by ``sources.pages.expected_page``.
- ``page_mismatches``: full outer join of an extraction output against
  that truth on ``(url, page_key)``; every missing, extra or differing row
  is one mismatch.
- ``curation_oracle``: the DuckDB mirror of the curation composition over
  the same ``documents`` table.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark import errors
from dss_plugin_google_cloud_vision_spark.operators.pages import DEFAULT_COLUMN_PREFIX
from dss_plugin_google_cloud_vision_spark.sources.pages import (
    KIND_BADPDF,
    KIND_EMPTY,
    KIND_JUNK,
    PAGE_SEPARATOR,
    expected_page,
)

KINDS = ("article", "divsoup", "linkfarm", "pdf", KIND_BADPDF, KIND_EMPTY, KIND_JUNK)
EXTRACTION_ERROR = f"{errors.__name__}.{errors.ExtractionError.__qualname__}"
SPLIT_ERROR = f"{errors.__name__}.{errors.DocumentSplitError.__qualname__}"
_ERROR_OF_KIND = {KIND_BADPDF: SPLIT_ERROR, KIND_EMPTY: EXTRACTION_ERROR, KIND_JUNK: EXTRACTION_ERROR}

TRUTH_DDL = (
    "url string, page_key int, text string, error_type string, "
    "kind string, payload_len bigint, first boolean"
)


def truth_rows(doc_id: int, seed: int) -> List[Tuple]:
    """Expected output rows of document ``doc_id``: one per page (page_key
    = page number, 0 for single-page HTML), or one error row."""
    page = expected_page(doc_id, seed)
    url, kind, payload_len = page["url"], page["kind"], len(page["_payload"])
    if page["is_error"]:
        return [(url, 0, None, _ERROR_OF_KIND[kind], kind, payload_len, True)]
    if kind == "pdf":
        texts = page["doc_text"].split(PAGE_SEPARATOR)
        return [
            (url, number, text, "", kind, payload_len, number == 1)
            for number, text in enumerate(texts, start=1)
        ]
    return [(url, 0, page["doc_text"], "", kind, payload_len, True)]


def _truth_batches(seed: int):
    def generate(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [row for doc_id in batch.column(0).to_pylist() for row in truth_rows(doc_id, seed)]
            columns = list(zip(*rows)) if rows else [[]] * 7
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(columns[0], pa.string()),
                    pa.array(columns[1], pa.int32()),
                    pa.array(columns[2], pa.string()),
                    pa.array(columns[3], pa.string()),
                    pa.array(columns[4], pa.string()),
                    pa.array(columns[5], pa.int64()),
                    pa.array(columns[6], pa.bool_()),
                ],
                names=["url", "page_key", "text", "error_type", "kind", "payload_len", "first"],
            )

    return generate


def pages_truth(spark, n_docs: int, seed: int, partitions: int) -> DataFrame:
    """Truth for documents ``0 .. n_docs-1``, materialized once."""
    truth = spark.range(0, n_docs, numPartitions=partitions).mapInArrow(
        _truth_batches(seed), TRUTH_DDL
    )
    return truth.localCheckpoint(eager=True)


def typed_view(extracted: DataFrame) -> DataFrame:
    """``extract_pages_typed`` output in the truth's shape."""
    return extracted.select(
        "url",
        F.coalesce(F.col("page_number"), F.lit(0)).alias("page_key"),
        F.col("extracted_text").alias("text"),
        "error_type",
    )


def response_text() -> Column:
    """The page text of an ``extract_pages`` (JSON contract) row: its
    response's ``fullTextAnnotation.text``."""
    return F.get_json_object(F.col(f"{DEFAULT_COLUMN_PREFIX}_response"), "$.fullTextAnnotation.text")


def json_view(extracted: DataFrame) -> DataFrame:
    """``extract_pages`` output in the truth's shape."""
    error_type = F.col(f"{DEFAULT_COLUMN_PREFIX}_error_type")
    return extracted.select(
        "url",
        F.coalesce(F.col("page_number"), F.lit(0)).alias("page_key"),
        F.when(error_type == "", response_text()).alias("text"),
        error_type.alias("error_type"),
    )


def page_mismatches(actual: DataFrame, truth: DataFrame) -> dict:
    """Compare an extraction output (in the truth's shape) with the truth.
    Returns mismatches, output rows and error rows per error type."""
    a = actual.select(
        "url", "page_key", F.col("text").alias("a_text"), F.col("error_type").alias("a_error"),
        F.lit(True).alias("a_present"),
    )
    t = truth.select(
        "url", "page_key", F.col("text").alias("t_text"), F.col("error_type").alias("t_error"),
        F.lit(True).alias("t_present"),
    )
    joined = a.join(t, ["url", "page_key"], "full_outer")
    same = (
        F.col("a_present").isNotNull()
        & F.col("t_present").isNotNull()
        & F.col("a_text").eqNullSafe(F.col("t_text"))
        & F.col("a_error").eqNullSafe(F.col("t_error"))
    )
    row = joined.agg(
        F.sum(F.when(same, 0).otherwise(1)).alias("mismatches"),
        F.sum(F.when(F.col("a_present").isNotNull(), 1).otherwise(0)).alias("rows"),
        F.sum(F.when(F.col("a_error") == EXTRACTION_ERROR, 1).otherwise(0)).alias("extraction_errors"),
        F.sum(F.when(F.col("a_error") == SPLIT_ERROR, 1).otherwise(0)).alias("split_errors"),
    ).collect()[0]
    return {key: int(row[key] or 0) for key in row.asDict()}


def truth_summary(truth: DataFrame) -> dict:
    """Document counts per generated kind, and payload bytes."""
    firsts = truth.filter("first")
    row = firsts.agg(
        F.sum("payload_len").alias("payload_bytes"),
        *[F.sum(F.when(F.col("kind") == kind, 1).otherwise(0)).alias(kind) for kind in KINDS],
    ).collect()[0]
    return {key: int(row[key] or 0) for key in row.asDict()}


def curation_oracle(documents_path: str) -> List[Tuple[str, int, int]]:
    """DuckDB over ``oracles.curation_pipeline_sql()`` on the documents
    table: sorted (lang, n_docs, total_tokens)."""
    import duckdb

    from dss_plugin_google_cloud_vision_spark import oracles

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}/*.parquet')"
        )
        rows = con.execute(oracles.curation_pipeline_sql()).fetchall()
    finally:
        con.close()
    return sorted((str(lang), int(n), int(tokens)) for lang, n, tokens in rows)
