# -*- coding: utf-8 -*-
"""Tests of the benchmark's own parts. From the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import time

import pytest

from perfbench.checks import EXTRACTION_ERROR, SPLIT_ERROR, truth_rows
from perfbench.harness import Ledger, OperationFailed, Tracer, start_spark, stop_spark, traced_layers
from perfbench.spark_metrics import StatusHarvester, parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_parse_metric_reads_the_total_of_each_display_format():
    aggregated = "total (min, med, max (stageId: taskId))\n1610.5 KiB (402.6 KiB, 402.6 KiB, 402.6 KiB (stage 0.0: task 0))"
    assert parse_metric("size", aggregated) == pytest.approx(1610.5 * 1024)
    assert parse_metric("size", "921.0 B") == 921
    assert parse_metric("timing", "total (min, med, max (stageId: taskId))\n8.2 s (1.9 s, 2.1 s, 2.1 s (stage 0.0: task 1))") == pytest.approx(8.2)
    assert parse_metric("nsTiming", "23 ms") == pytest.approx(0.023)
    assert parse_metric("timing", "1.5 m") == pytest.approx(90)
    assert parse_metric("sum", "100,000") == 100000


def test_tracer_self_time_excludes_children():
    tracer = Tracer()
    with tracer.span("outer"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.03)
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"]
    own = tracer.self_times()
    assert own[inner["id"]] == pytest.approx(inner["end"] - inner["start"])
    assert own[outer["id"]] == pytest.approx((outer["end"] - outer["start"]) - own[inner["id"]])
    assert tracer.self_total("outer") == pytest.approx(own[outer["id"]])


def test_truth_rows_agree_with_the_typed_kernel_on_a_sample():
    """The check's analytic truth and the kernel name the same pages,
    texts and error types (a disagreement means one of them is wrong)."""
    from dss_plugin_google_cloud_vision_spark.operators.pages import (
        CAPTURED_EXCEPTIONS,
        extract_document_typed,
    )
    from dss_plugin_google_cloud_vision_spark.errors import qualified_error_type
    from dss_plugin_google_cloud_vision_spark.sources.pages import make_page

    for doc_id in range(200):
        page = make_page(doc_id, seed=5)
        try:
            got = [(p or 0, text, "") for p, text, _, _, _ in extract_document_typed(page["html"])]
        except CAPTURED_EXCEPTIONS as error:
            got = [(0, None, qualified_error_type(error))]
        expected = [(key, text, error) for _, key, text, error, _, _, _ in truth_rows(doc_id, 5)]
        assert got == expected, doc_id
    assert {EXTRACTION_ERROR, SPLIT_ERROR} <= {
        row[3] for doc_id in range(200) for row in truth_rows(doc_id, 5)
    }


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = start_spark(str(tmp_path_factory.mktemp("perfbench-spark")), 2)
    yield session
    stop_spark(session)


def test_harvester_reads_python_and_shuffle_counters_of_a_mapinarrow_groupby_plan(spark):
    def passthrough(batches):
        for batch in batches:
            yield batch

    harvester = StatusHarvester(spark)
    with harvester.group("mapinarrow-groupby") as counters:
        plan = (
            spark.range(0, 20000, numPartitions=2)
            .selectExpr("id", "id % 7 AS k")
            .mapInArrow(passthrough, "id long, k long")
            .groupBy("k")
            .count()
        )
        assert len(plan.collect()) == 7
    assert counters["jobs"] >= 1
    assert counters["tasks"] >= 2
    assert counters["failed_tasks"] == 0
    assert counters["python_bytes_sent"] > 0
    assert counters["python_bytes_returned"] > 0
    assert counters["shuffle_write_bytes"] > 0

    with harvester.group("jvm-only") as jvm_only:
        assert spark.range(0, 1000, numPartitions=2).count() == 1000
    assert jvm_only["jobs"] >= 1
    assert jvm_only["python_bytes_sent"] == 0


def test_a_raised_operation_makes_the_run_incorrect(spark):
    ledger = Ledger(spark)
    ledger.check("holds", True)
    assert ledger.correct
    with pytest.raises(OperationFailed):
        ledger.run("raises", lambda: 1 // 0)
    assert (ledger.attempted, ledger.failed, ledger.correct) == (2, 1, False)


def test_traced_layers_time_the_programs_own_curation(spark):
    """The traced curation runs ``curate_corpus`` itself: every layer it
    names is entered once, the result is unchanged and the module is
    restored afterwards (a layer the composition stops calling fails
    here)."""
    from dss_plugin_google_cloud_vision_spark.plans import curation
    from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_pages
    from perfbench.workloads import CURATION_LAYERS, _documents_batches, lang_stats, planted_corpus

    docs = spark.range(0, 120, numPartitions=2).mapInArrow(
        _documents_batches(7), "doc_id bigint, text string, lang string"
    )
    pages = documents_as_pages(planted_corpus(docs)).localCheckpoint(eager=True)
    expected = lang_stats(curation.curate_corpus(pages))
    originals = {attr: getattr(curation, attr) for attr in CURATION_LAYERS}
    tracer, calls = Tracer(), {}
    with traced_layers(curation, CURATION_LAYERS, tracer, calls):
        got = lang_stats(curation.curate_corpus(pages))
    assert got == expected
    assert sorted(s["name"] for s in tracer.spans) == sorted(CURATION_LAYERS.values())
    assert set(calls) == set(CURATION_LAYERS)
    assert {attr: getattr(curation, attr) for attr in CURATION_LAYERS} == originals


def test_runner_fails_without_a_result_when_the_package_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    spec = json.loads((tmp_path / "BENCHMARK.json").read_text())
    done = subprocess.run(
        spec["command"] + ["--workload", "extract", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert done.returncode != 0
    assert done.stdout.strip() == ""
