# -*- coding: utf-8 -*-
"""The two seeded workloads. Each drives the package's public functions
on generated inputs only:

- ``extract``: the pages table through both extraction paths (no shuffle,
  kernel-bound), then growing increments into an empty snapshot log and a
  replay that offers nothing new (writes, anti-join, read-back);
- ``curate``: a documents table through render → curation → per-language
  stats (shuffles, joins and loops of Spark actions).

``curate`` also times both extraction paths over its own pages and a
snapshot increment plus replay, so every end-to-end metric exists on both
workloads. ``cycle`` is the untraced unit of the closed loop. The first,
untimed cycle runs with ``checked=True``: its extraction outputs go to the
correctness checks instead of the noop sink, and it warms the JVM and the
Python workers for the timed cycles. It runs the snapshot sequence too:
without it the first timed sequence runs ~30 % slower than the second.
``traced`` repeats a cycle with a span around each call into a layer, each
layer's input checkpointed first so that its span covers that layer only.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
from typing import Dict, Iterable, Iterator, List

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.errors import DocumentSplitError, ExtractionError
from dss_plugin_google_cloud_vision_spark.functions.html_extract import extract_html
from dss_plugin_google_cloud_vision_spark.functions.langid import guess_language
from dss_plugin_google_cloud_vision_spark.functions.pdf_extract import (
    extract_pdf_page,
    is_pdf_payload,
    split_pdf_pages,
)
from dss_plugin_google_cloud_vision_spark.functions.response import build_page_response
from dss_plugin_google_cloud_vision_spark.operators.dedup import minhash_candidate_pairs
from dss_plugin_google_cloud_vision_spark.operators.pages import (
    extract_document,
    extract_document_typed,
    extract_pages,
    extract_pages_typed,
)
from dss_plugin_google_cloud_vision_spark.plans import curation
from dss_plugin_google_cloud_vision_spark.plans.curation import curate_corpus
from dss_plugin_google_cloud_vision_spark.sources.pages import expected_page, pages_df
from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_pages
from dss_plugin_google_cloud_vision_spark.sources.snapshots import (
    SnapshotLog,
    remaining_inputs_snapshot,
    run_with_snapshot_resume,
)

from . import checks
from .harness import median, noop, traced_layers, tree_bytes
from .spark_metrics import COUNTERS

# the layers ``curate_corpus`` calls through its module's names -> span names
CURATION_LAYERS = {
    "run_extraction_pipeline": "plans.extract_pipeline.run_extraction_pipeline",
    "exact_dedup_keep_first": "operators.dedup.exact_dedup_keep_first",
    "near_dup_pairs": "operators.dedup.near_dup_pairs",
    "dedup_by_clusters": "operators.dedup.dedup_by_clusters",
}
KERNEL_SAMPLE_DOCS = 400
KERNEL_REPEATS = 3
_KERNEL_ERRORS = (ExtractionError, DocumentSplitError)


def _elapsed(span: dict) -> float:
    return span["end"] - span["start"]


def _spark_layer(counters: Dict[str, float], layer: Dict[str, float]) -> None:
    for name in COUNTERS:
        layer[f"spark.{name}"] = counters[name]


class Workload:
    """Shared shape: ``setup`` (input generation, timed as set-up),
    ``prepare`` (untimed inputs of the checks), ``cycle`` (one closed-loop
    unit, or the checked warm-up), ``end_to_end`` and ``traced``."""

    name = ""
    # two timed cycles a run: a third lengthens a run by 15-20 %, and with
    # a garbage collection before each cycle (``settle``) the two agree
    min_cycles = 2

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.samples: Dict[str, List[float]] = defaultdict(list)
        self._roots = 0

    def stage_pages(self) -> DataFrame:
        """The pages both extraction paths are timed over."""
        raise NotImplementedError

    def payload_bytes(self, pages: DataFrame) -> int:
        return int(pages.agg(F.sum(F.length("html"))).collect()[0][0])

    def new_root(self) -> str:
        self._roots += 1
        return self.run.path(f"snapshot-{self._roots}")

    # -- untraced cycle pieces ---------------------------------------------

    def stage_correct(self, path: str, extracted: DataFrame) -> bool:
        """Whether one extraction path's output is right; runs the plan."""
        raise NotImplementedError

    def time_stages(self, checked: bool) -> None:
        """Both extraction paths over ``stage_pages``, into the noop sink or,
        when ``checked``, into the correctness check."""
        ledger, pages = self.run.ledger, self.stage_pages()
        for path, extracted in (
            ("json", extract_pages(pages, drop_payload=True)),
            ("typed", extract_pages_typed(pages)),
        ):
            if checked:
                _, ok = ledger.run(f"extract-{path}", self.stage_correct, path, extracted)
                ledger.check(f"{path} path output", ok)
            else:
                seconds, _ = ledger.run(f"extract-{path}", noop, extracted)
                self.samples[path].append(seconds)

    def snapshot_sequence(self, offers: List[DataFrame], keys: List[int], payload_bytes: int) -> str:
        """Increments offering the growing ``offers`` into an empty snapshot
        log, then a replay of the last offer. Checks that each increment
        holds every offered url, that the replay adds no row and that no
        page is stored twice. Returns the snapshot root."""
        ledger, log = self.run.ledger, SnapshotLog(self.new_root())
        increments = []
        for index, (offered, expected_keys) in enumerate(zip(offers, keys)):
            seconds, info = ledger.run(
                "increment", run_with_snapshot_resume, self.spark, offered, extract_pages_typed, log
            )
            increments.append(seconds)
            ledger.check(f"increment {index} holds every offered url", info["snapshot_keys"] == expected_keys)
        replay_s, replay = ledger.run(
            "replay", run_with_snapshot_resume, self.spark, offers[-1], extract_pages_typed, log
        )
        ledger.check("replay extracts nothing", replay["snapshot_rows"] == info["snapshot_rows"])
        pages = log.read(self.spark).select("url", "page_number").distinct().count()
        ledger.check("each page stored once", pages == replay["snapshot_rows"])
        self.samples["increment"].extend(increments)
        self.samples["replay"].append(replay_s)
        self.samples["sequence"].append(sum(increments) + replay_s)
        self.samples["snapshot_ratio"].append(tree_bytes(log.root)[1] / payload_bytes)
        return log.root

    def end_to_end(self) -> Dict[str, float]:
        s = self.samples
        wall = median(s["wall"])
        return {
            "wall_s": wall,
            "docs_per_s": self.n_docs / wall,
            "json_docs_per_s": self.n_stage_docs / median(s["json"]),
            "typed_docs_per_s": self.n_stage_docs / median(s["typed"]),
            "increment_s": median(s["increment"]),
            "replay_s": median(s["replay"]),
            "snapshot_bytes_per_input_byte": median(s["snapshot_ratio"]),
        }

    # -- traced pieces -------------------------------------------------------

    def traced_stages(self, layer: Dict[str, float]) -> Dict[str, float]:
        """Both extraction paths with spans; returns their Spark counters."""
        tracer, harvester, pages = self.run.tracer, self.run.ledger.harvester, self.stage_pages()
        total = {counter: 0.0 for counter in COUNTERS}
        for key, name, build in (
            ("json", "operators.pages.extract_pages", lambda: extract_pages(pages, drop_payload=True)),
            ("typed", "operators.pages.extract_pages_typed", lambda: extract_pages_typed(pages)),
        ):
            # the harvester reads its counters after the span has closed
            with harvester.group(name) as counters, tracer.span(name) as span:
                noop(build())
            span["counters"] = counters
            layer[f"pages_stage.{key}_s"] = _elapsed(span)
            for counter in COUNTERS:
                total[counter] += counters[counter]
        return total

    def traced_snapshot_sequence(self, offers: List[DataFrame], layer: Dict[str, float]) -> dict:
        """The snapshot sequence (increments, then a replay of the last
        offer) with one span per layer call: anti-join, extraction, commit
        and read-back each run on a checkpointed input. Returns the
        sequence span, its Spark counters under ``counters``."""
        tracer, harvester = self.run.tracer, self.run.ledger.harvester
        log = SnapshotLog(self.new_root())
        offered_rows = extracted_rows = files = written = 0
        with harvester.group("sequence") as counters, tracer.span("sources.snapshots.sequence") as sequence:
            for index, offered in enumerate(offers + offers[-1:]):
                with tracer.span("sources.snapshots.increment", index=index):
                    with tracer.span("sources.snapshots.remaining_inputs_snapshot"):
                        todo = remaining_inputs_snapshot(offered, self.spark, log).localCheckpoint(eager=True)
                    offered_rows += offered.count()
                    extracted_rows += todo.count()
                    with tracer.span("operators.pages.extract_pages_typed", stage="increment"):
                        extracted = extract_pages_typed(todo).localCheckpoint(eager=True)
                    with tracer.span("sources.snapshots.commit"):
                        snapshot_id = log.commit(extracted)
                    commit_dir = os.path.join(log.data_dir, log.manifest(snapshot_id)["dirs"][-1])
                    n_files, n_bytes = tree_bytes(commit_dir)
                    files += n_files
                    written += n_bytes
                    with tracer.span("sources.snapshots.read"):
                        table = log.read(self.spark, snapshot_id)
                        table.count()
                        table.select("url").distinct().count()
        sequence["counters"] = counters
        layer["snapshots.antijoin_s"] = tracer.self_total("sources.snapshots.remaining_inputs_snapshot")
        layer["snapshots.commit_s"] = tracer.self_total("sources.snapshots.commit")
        layer["snapshots.read_s"] = tracer.self_total("sources.snapshots.read")
        layer["snapshots.files_written"] = float(files)
        layer["snapshots.bytes_written"] = float(written)
        layer["snapshots.new_share"] = extracted_rows / offered_rows
        shutil.rmtree(log.root, ignore_errors=True)
        return sequence

    def traced_kernels(self, payloads: List[bytes], layer: Dict[str, float]) -> None:
        """Per-call spans around the extraction kernels in this one
        process, over a sample of the workload's payloads; each figure is
        the median of ``KERNEL_REPEATS`` passes. Needs the stage times
        already in ``layer`` for the kernel shares."""
        tracer = self.run.tracer
        html, pdf, pages = [], [], []
        for payload in payloads:  # untimed warm-up that also sorts the inputs
            try:
                if is_pdf_payload(payload):
                    pages.extend(extract_pdf_page(p) for p in split_pdf_pages(payload))
                    pdf.append(payload)
                else:
                    pages.append(extract_html(payload))
                    html.append(payload)
            except _KERNEL_ERRORS:
                pass

        def pdf_document(payload):
            for page in split_pdf_pages(payload):
                extract_pdf_page(page)

        def response(page):
            build_page_response(page.text, page.spans, page.language_code, page.language_confidence)

        benches = (
            ("html_extract.us_per_doc", "functions.html_extract.extract_html", extract_html, html),
            ("langid.us_per_doc", "functions.langid.guess_language", guess_language, [p.text for p in pages]),
            ("pdf_extract.us_per_doc", "functions.pdf_extract.document", pdf_document, pdf),
            ("response.us_per_page", "functions.response.build_page_response", response, pages),
            ("pages_kernel.typed_us_per_doc", "operators.pages.extract_document_typed", extract_document_typed, payloads),
            ("pages_kernel.json_us_per_doc", "operators.pages.extract_document", extract_document, payloads),
        )
        totals: Dict[str, List[float]] = defaultdict(list)
        for _ in range(KERNEL_REPEATS):  # interleaved, so drift hits every layer alike
            for key, name, fn, items in benches:
                total = 0.0
                for item in items:
                    with tracer.span(name) as span:
                        try:
                            fn(item)
                        except _KERNEL_ERRORS:
                            pass
                    total += _elapsed(span)
                totals[key].append(total)
        for key, _, _, items in benches:
            layer[key] = median(totals[key]) / len(items) * 1e6 if items else 0.0
        for path in ("typed", "json"):
            # kernel CPU-seconds over the stage's documents / (cores × stage wall)
            kernel_s = self.n_stage_docs * layer[f"pages_kernel.{path}_us_per_doc"] * 1e-6
            share = kernel_s / (self.run.cores * layer[f"pages_stage.{path}_s"])
            layer["pages_stage.kernel_share" + ("" if path == "typed" else "_json")] = share

    def kernel_sample(self) -> List[bytes]:
        raise NotImplementedError

    def traced(self) -> Dict[str, float]:
        raise NotImplementedError


# -- extract: a stored pages table -------------------------------------------------


def _scan_floor(tracer, table: DataFrame) -> float:
    """Median of three noop scans over every column of the stored input."""
    scans = []
    for _ in range(3):
        with tracer.span("scan.noop") as span:
            noop(table)
        scans.append(_elapsed(span))
    return median(scans)


class ExtractWorkload(Workload):
    """The default page mix through the JSON path, then the typed path,
    each into a noop sink; then the resume sequence over the same pages:
    an empty snapshot log receives increments offering growing row ranges,
    then a replay that offers nothing new."""

    name = "extract"
    n_generated = 6000
    increments = 2

    def setup(self) -> None:
        self.n_docs = self.n_stage_docs = self.n_generated
        path = self.run.path("pages")
        with self.run.span("sources.pages.pages_df") as span:
            # one file, hence one task, per core
            pages = pages_df(self.spark, self.n_docs, seed=self.run.seed, partitions=self.run.cores)
            # the generator's row id, kept for deterministic slicing
            row_id = F.regexp_extract("url", r"doc-(\d+)\.", 1).cast("long")
            pages.withColumn("row_id", row_id).write.mode("overwrite").parquet(path)
        self.gen_s = _elapsed(span)
        self.pages = self.spark.read.parquet(path)

    def prepare(self) -> None:
        self.truth = checks.pages_truth(self.spark, self.n_docs, self.run.seed, self.run.cores)
        step = self.n_docs // self.increments
        self.bounds = [step * k for k in range(1, self.increments + 1)]
        self.offered_bytes = self.payload_bytes(self.offer(self.bounds[-1]))

    def stage_pages(self) -> DataFrame:
        return self.pages

    def offer(self, upper: int) -> DataFrame:
        """Rows ``0 .. upper-1``: a filter on the row id, because
        ``limit()`` is not deterministic."""
        return self.pages.filter(F.col("row_id") < upper)

    def stage_correct(self, path: str, extracted: DataFrame) -> bool:
        """Every page of every url against ``expected_page``."""
        view = checks.typed_view(extracted) if path == "typed" else checks.json_view(extracted)
        result = checks.page_mismatches(view, self.truth)
        if path == "typed":
            self.typed_result = result  # rows and error rows for the traced run
        return result["mismatches"] == 0

    def cycle(self, checked: bool = False) -> None:
        self.time_stages(checked)
        if not checked:
            self.samples["wall"].append(self.samples["json"][-1] + self.samples["typed"][-1])
        root = self.snapshot_sequence([self.offer(u) for u in self.bounds], self.bounds, self.offered_bytes)
        if checked:
            final = SnapshotLog(root).read(self.spark)
            result = checks.page_mismatches(checks.typed_view(final), self.truth)
            self.run.ledger.check("final snapshot equals expected_page", result["mismatches"] == 0)
        shutil.rmtree(root, ignore_errors=True)

    def kernel_sample(self) -> List[bytes]:
        rows = self.offer(KERNEL_SAMPLE_DOCS).select("row_id", "html").collect()
        return [bytes(r["html"]) for r in sorted(rows, key=lambda r: r["row_id"])]

    def traced(self) -> Dict[str, float]:
        layer: Dict[str, float] = {}
        tracer = self.run.tracer
        with tracer.span("workload.extract.pass") as span:
            counters = self.traced_stages(layer)
        layer["trace.wall_s"] = _elapsed(span)
        _spark_layer(counters, layer)
        self.traced_snapshot_sequence([self.offer(u) for u in self.bounds], layer)
        with tracer.span("operators.pages.extract_pages_typed", slots=1) as one:
            noop(extract_pages_typed(self.pages.coalesce(1)))
        layer["pages_stage.one_slot_s"] = _elapsed(one)
        layer["pages_stage.scaling_eff_1to4"] = _elapsed(one) / (self.run.cores * layer["pages_stage.typed_s"])
        self.traced_kernels(self.kernel_sample(), layer)
        summary = checks.truth_summary(self.truth)
        layer["pages.gen_s"] = self.gen_s
        layer["pages.payload_bytes"] = float(summary["payload_bytes"])
        for kind in checks.KINDS:
            layer[f"pages.kind_count.{kind}"] = float(summary[kind])
        layer["pages_stage.rows_per_doc"] = self.typed_result["rows"] / self.n_docs
        layer["pages_stage.error_rows.ExtractionError"] = float(self.typed_result["extraction_errors"])
        layer["pages_stage.error_rows.DocumentSplitError"] = float(self.typed_result["split_errors"])
        layer["scan.noop_s"] = _scan_floor(tracer, self.pages)
        return layer


# -- curate: a documents table ------------------------------------------------------


def _documents_batches(seed: int):
    """``documents(doc_id, text, lang)`` rows from the generator's analytic
    texts: every document with text, whitespace collapsed to single
    spaces (the renderer's one-paragraph article keeps them byte-exact)."""

    def generate(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, texts, langs = [], [], []
            for doc_id in batch.column(0).to_pylist():
                page = expected_page(doc_id, seed)
                text = " ".join(page["doc_text"].split())
                if text:
                    ids.append(doc_id)
                    texts.append(text)
                    langs.append(page["lang"])
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(texts, pa.string()), pa.array(langs, pa.string())],
                names=["doc_id", "text", "lang"],
            )

    return generate


def planted_corpus(docs: DataFrame) -> DataFrame:
    """The documents plus the planted near (+100000, suffixed) and exact
    (+200000) copies of ``__spark_entry__``'s ``curation_pipeline`` query,
    which ``oracles.curation_pipeline_sql`` mirrors."""
    docs = docs.select("doc_id", "text", "lang")
    near = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra suffix token")).alias("text"),
        "lang",
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    return docs.unionAll(near).unionAll(exact)


def lang_stats(curated: DataFrame) -> List[tuple]:
    rows = curated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    ).collect()
    return sorted((r["lang"], int(r["n_docs"]), int(r["total_tokens"])) for r in rows)


class CurateWorkload(Workload):
    """documents → render → ``curate_corpus`` → per-language stats."""

    name = "curate"
    n_generated = 1200  # doc ids stay below the planted copies' +100000
    slice_upper = 300  # the snapshot increment offers doc_id < 300

    def setup(self) -> None:
        path = self.run.path("documents")
        self.documents_path = path
        with self.run.span("sources.pages.expected_page") as span:
            generator = _documents_batches(self.run.seed)
            self.spark.range(0, self.n_generated, numPartitions=self.run.cores).mapInArrow(
                generator, "doc_id bigint, text string, lang string"
            ).write.mode("overwrite").parquet(path)
        self.gen_s = _elapsed(span)
        self.docs = self.spark.read.parquet(path)
        self.pages = documents_as_pages(planted_corpus(self.docs))

    def prepare(self) -> None:
        self.oracle = checks.curation_oracle(self.documents_path)
        self.n_docs = self.n_stage_docs = self.pages.count()
        self.slice = self.pages.filter(F.col("doc_id") < self.slice_upper)
        self.slice_docs = self.slice.count()
        self.slice_bytes = self.payload_bytes(self.slice)

    def stage_pages(self) -> DataFrame:
        return self.pages

    def stage_correct(self, path: str, extracted: DataFrame) -> bool:
        """A rendered page extracts to its document's text, byte for byte
        (the renderer's invariant): compare with the passthrough column."""
        text = F.col("extracted_text") if path == "typed" else checks.response_text()
        rows, wrong = extracted.agg(
            F.count("*"), F.sum(F.when(text.eqNullSafe(F.col("text")), 0).otherwise(1))
        ).collect()[0]
        return rows == self.n_stage_docs and wrong == 0

    def curate(self) -> List[tuple]:
        return lang_stats(curate_corpus(self.pages))

    def cycle(self, checked: bool = False) -> None:
        ledger = self.run.ledger
        seconds, stats = ledger.run("curate", self.curate)
        ledger.check("curation equals the DuckDB oracle", stats == self.oracle)
        self.samples["wall"].append(seconds)
        self.time_stages(checked)
        root = self.snapshot_sequence([self.slice], [self.slice_docs], self.slice_bytes)
        shutil.rmtree(root, ignore_errors=True)

    def kernel_sample(self) -> List[bytes]:
        rows = self.pages.filter(F.col("doc_id") < KERNEL_SAMPLE_DOCS).select("doc_id", "html").collect()
        return [bytes(r["html"]) for r in sorted(rows, key=lambda r: r["doc_id"])]

    def traced_curate(self, layer: Dict[str, float]) -> dict:
        """The curation pass with its layers instrumented (``traced_layers``);
        the result must still equal the oracle."""
        tracer, harvester = self.run.tracer, self.run.ledger.harvester
        calls: Dict[str, tuple] = {}
        with tracer.span("workload.curate.pass") as span:
            with harvester.group("curate") as counters, tracer.span("plans.curation.curate_corpus"):
                with tracer.span("sources.render.documents_as_pages"):
                    pages = documents_as_pages(planted_corpus(self.docs)).localCheckpoint(eager=True)
                with traced_layers(curation, CURATION_LAYERS, tracer, calls):
                    curated = curate_corpus(pages)
                with tracer.span("plans.curation.lang_stats"):
                    stats = lang_stats(curated)
        span["counters"] = counters
        self.run.ledger.check("traced curation equals the DuckDB oracle", stats == self.oracle)
        layer["render.s"] = tracer.self_total("sources.render.documents_as_pages")
        for key, attr in (
            ("extract_pipeline.s", "run_extraction_pipeline"),
            ("dedup.exact_s", "exact_dedup_keep_first"),
            ("dedup.pairs_s", "near_dup_pairs"),
            ("dedup.clusters_s", "dedup_by_clusters"),
        ):
            layer[key] = tracer.self_total(CURATION_LAYERS[attr])
        gated = calls["exact_dedup_keep_first"][0][0]
        exact, pairs = calls["dedup_by_clusters"][0][:2]
        with tracer.span("operators.dedup.minhash_candidate_pairs"):
            candidates = minhash_candidate_pairs(exact, id_col="doc_id", text_col="text").count()
        verified = pairs.count()
        layer["dedup.candidate_pairs"] = float(candidates)
        layer["dedup.verified_pairs"] = float(verified)
        layer["dedup.verify_yield"] = verified / candidates if candidates else 0.0
        layer["dedup.docs_in"] = float(gated.count())
        layer["dedup.docs_out"] = float(curated.count())
        return span

    def traced(self) -> Dict[str, float]:
        layer: Dict[str, float] = {}
        span = self.traced_curate(layer)
        layer["trace.wall_s"] = _elapsed(span)
        _spark_layer(span["counters"], layer)
        self.traced_stages(layer)
        self.traced_snapshot_sequence([self.slice], layer)
        self.traced_kernels(self.kernel_sample(), layer)
        layer["pages.gen_s"] = self.gen_s
        layer["pages.payload_bytes"] = float(self.payload_bytes(self.pages))
        layer["scan.noop_s"] = _scan_floor(self.run.tracer, self.docs)
        return layer


WORKLOADS = {w.name: w for w in (ExtractWorkload, CurateWorkload)}
