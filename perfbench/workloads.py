"""The workloads: an untraced iteration through the public entry
points, a traced iteration that times each layer from outside with its
output materialised at the boundary, and the correctness scoring.

Untraced iterations drive ``Process`` (``api.py``), ``jobs/extract_job``
and ``jobs/curate_job``. Traced iterations call the operator functions
those entry points call, in the same order and with the same
arguments, writing each layer's output to parquet before the next
layer reads it back.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys

import pyarrow.dataset as pads

from perfbench import score



def _table(path: str, columns=None):
    return pads.dataset(path, format="parquet").to_table(columns=columns)


def _rows(path: str) -> int:
    return pads.dataset(path, format="parquet").count_rows()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def _save(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _quiet_call(fn, argv):
    """Job mains print their report on stdout; the benchmark's stdout
    carries only its own result line."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(argv, stop=False)


class DocsExtract:
    """Parsed table -> extract_content -> classify + extract ->
    split(LAZY) + extract(PAGINATE) -> parquet.

    Each workload provides ``sources`` (the input and its warm-up
    input, as an iteration reads them), ``run`` (one untraced iteration), ``traced`` (one iteration with a
    span per layer), ``layer_counts`` (per-layer counts read back from
    the traced outputs) and ``score``."""

    name = "docs_extract"
    kind = "parsed"
    n_docs = 4000

    def sources(self, inp):
        # The warm-up is a whole iteration: after a slice warm-up the
        # first full iteration was still about 25 % slower than the
        # next, and the median of two or three iterations flipped with
        # the count.
        docs = os.path.join(inp, "documents")
        return docs, docs

    def run(self, spark, src, out, master):
        from extractthinker_spark.api import (
            CompletionStrategy,
            Process,
            SplitStrategy,
        )
        from extractthinker_spark.plans.pipeline import doc_text

        proc = Process().load(spark.read.parquet(src))
        ext = proc.extract_content()
        ext.write.parquet(os.path.join(out, "spans"))
        classified = proc.extractor.classify(doc_text(ext))
        proc.extractor.extract(classified, keys=["doc_id"]).write.parquet(
            os.path.join(out, "doc_fields"))
        proc.split(SplitStrategy.LAZY)
        proc.extract(CompletionStrategy.PAGINATE).write.parquet(
            os.path.join(out, "group_fields"))

    def traced(self, spark, tracer, src, out, master):
        from extractthinker_spark.api import Extractor
        from extractthinker_spark.operators.extract import (
            extract_fields,
            paginate_extract,
        )
        from extractthinker_spark.operators.split import (
            pages_from_documents,
            split_lazy_pages,
        )
        from extractthinker_spark.plans.pipeline import (
            doc_text,
            extract_main_content,
        )

        p = lambda name: os.path.join(out, name)  # noqa: E731
        ex = Extractor()
        docs = spark.read.parquet(src)
        with tracer.span("pipeline", python=True):
            ext = _save(extract_main_content(docs), p("spans"))
        with tracer.span("classify"):
            classified = _save(ex.classify(doc_text(ext)), p("classified"))
        with tracer.span("split"):
            grouped = _save(split_lazy_pages(pages_from_documents(docs),
                                             ex._rules()), p("grouped"))
        with tracer.span("extract"):
            kw = dict(contracts=ex._contracts(),
                      list_contracts=ex._list_contracts())
            _save(extract_fields(classified, keys=["doc_id"], **kw),
                  p("doc_fields"))
            _save(paginate_extract(grouped, keys=["doc_id", "group_id"], **kw),
                  p("group_fields"))

    def layer_counts(self, src, out, spans):
        p = lambda name: os.path.join(out, name)  # noqa: E731
        ext_spans = _table(p("spans"), ["spans"]).column("spans").to_pylist()
        cls = _table(p("classified"), ["classification"]).column(
            "classification").to_pylist()
        groups = _table(p("grouped"), ["doc_id", "group_id"]).to_pylist()
        return {
            "pipeline.spans": sum(len(s) for s in ext_spans),
            "classify.unknown_frac": cls.count("Unknown") / max(len(cls), 1),
            "split.groups": len({(g["doc_id"], g["group_id"]) for g in groups}),
            "extract.fields": _rows(p("doc_fields")) + _rows(p("group_fields")),
        }

    def score(self, inp, out):
        got = {r["doc_id"]: score.span_key(r["spans"]) for r in _table(
            os.path.join(out, "spans"), ["doc_id", "spans"]).to_pylist()}
        want = {r["doc_id"]: score.span_key(r["spans"]) for r in _table(
            os.path.join(inp, "golden_spans.parquet")).to_pylist()}
        rows = set()
        for part in ("doc_fields", "group_fields"):
            for r in _table(os.path.join(out, part),
                            ["doc_id", "contract", "field", "value"]).to_pylist():
                rows.add((r["doc_id"], r["contract"], r["field"], r["value"]))
        golden = [tuple(r.values()) for r in _table(
            os.path.join(inp, "golden_fields.parquet"),
            ["doc_id", "contract", "field", "value"]).to_pylist()]
        return {
            "span_exact_match": score.span_exact_match(got, want),
            "contract_match": score.contract_match(rows, golden),
            "near_dup_recall": score.near_dup_recall([], set()),
            "delivered_frac": score.delivered_frac(
                len(want), len(want.keys() & got.keys())),
        }


class RawCurate:
    """Raw files -> jobs/extract_job --raw-input (decode + extract in
    checkpointed waves) -> jobs/curate_job with sequence packing. Same
    interface as DocsExtract."""

    name = "raw_curate"
    kind = "raw"
    n_docs = 800
    n_buckets = 8
    wave_size = 4
    pack_budget = 512

    def sources(self, inp):
        return os.path.join(inp, "files"), os.path.join(inp, "warm")

    def run(self, spark, src, out, master):
        from jobs import curate_job, extract_job

        _quiet_call(extract_job.main, [
            "--raw-input", src, "--output", os.path.join(out, "extract"),
            "--input-token", "bench", "--n-buckets", str(self.n_buckets),
            "--wave-size", str(self.wave_size), "--master", master])
        _quiet_call(curate_job.main, [
            "--input", os.path.join(out, "extract", "data"),
            "--output", os.path.join(out, "curate"),
            "--pack-budget", str(self.pack_budget), "--master", master])

    def traced(self, spark, tracer, src, out, master):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from extractthinker_spark.functions.pii import pii_scrub_frame
        from extractthinker_spark.functions.textstats import (
            c4_filter,
            fingerprint,
            gopher_filter,
            strip_control_chars,
        )
        from extractthinker_spark.operators.dedup import (
            dedup_lines_corpus,
            dedup_near_canonical,
            minhash_lsh_candidates,
            verify_jaccard,
        )
        from extractthinker_spark.operators.packing import pack_sequences
        from extractthinker_spark.operators.rawbytes import parse_raw_bytes
        from extractthinker_spark.plans.pipeline import (
            doc_text,
            extract_main_content,
        )
        from extractthinker_spark.scale.checkpoint import CheckpointedRun

        p = lambda name: os.path.join(out, name)  # noqa: E731
        # extract_job --raw-input, then curate_job's stages in order with
        # their defaults, one layer per span.
        with tracer.span("rawbytes", python=True):
            raw = spark.read.format("binaryFile").load(src).select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("doc_id"),
                F.col("path").alias("source_uri"),
                F.col("content").alias("raw"),
            )
            parsed = _save(parse_raw_bytes(raw, uri_col="source_uri")
                           .select("doc_id", "spans"), p("parsed"))
        waves = []

        def transform(df):
            with tracer.span("pipeline", python=True):
                waves.append(p(f"wave-{len(waves)}"))
                return _save(extract_main_content(df, nest=True), waves[-1])

        with tracer.span("checkpoint"):
            CheckpointedRun(p("extract"), n_buckets=self.n_buckets,
                            wave_size=self.wave_size, input_token="bench",
                            ).run(spark, parsed, transform)
        docs = spark.read.parquet(p("extract/data"))
        with tracer.span("pipeline", python=True):
            text = _save(doc_text(extract_main_content(docs, nest=True))
                         .select("doc_id", F.col("content").alias("text")),
                         p("extracted"))
        with tracer.span("textstats.c4"):
            text = text.select("doc_id",
                               strip_control_chars(F.col("text")).alias("text"))
            text = _save(c4_filter(text).filter(F.col("keep")).select(
                "doc_id", F.col("text_clean").alias("text")), p("c4"))
        with tracer.span("textstats.gopher", python=True):
            text = _save(text.join(gopher_filter(text).filter(F.col("keep"))
                                   .select("doc_id"), "doc_id"), p("gopher"))
        with tracer.span("pii"):
            text = _save(pii_scrub_frame(text).select(
                "doc_id", F.col("text_scrubbed").alias("text")), p("pii"))
        with tracer.span("dedup.exact"):
            w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
            text = _save(text.withColumn("_rn", F.row_number().over(w))
                         .filter(F.col("_rn") == 1).drop("_rn"), p("exact"))
        with tracer.span("dedup.lsh", python=True):
            cands = _save(minhash_lsh_candidates(
                text, "doc_id", "text", max_bucket_size=1000), p("cands"))
        with tracer.span("dedup.verify", python=True):
            pairs = _save(verify_jaccard(cands, text, "doc_id", "text"),
                          p("pairs"))
        with tracer.span("dedup.cc"):
            canon = dedup_near_canonical(text, pairs, key="doc_id")
            text = _save(text.join(canon.filter(F.col("is_canonical"))
                                   .select("doc_id"), "doc_id"), p("near"))
        with tracer.span("dedup.lines"):
            text = _save(dedup_lines_corpus(text).select(
                "doc_id", F.col("text_clean").alias("text")), p("lines"))
        with tracer.span("packing"):
            _save(pack_sequences(text, budget=self.pack_budget, n_groups=64),
                  p("sequences"))

    def layer_counts(self, src, out, spans):
        p = lambda name: os.path.join(out, name)  # noqa: E731
        parsed_spans = _table(p("parsed"), ["spans"]).column("spans").to_pylist()
        seqs = _table(p("sequences"), ["fill_frac"]).column(
            "fill_frac").to_pylist()
        n_cands, n_pairs = _rows(p("cands")), _rows(p("pairs"))
        return {
            "rawbytes.docs": len(parsed_spans),
            "rawbytes.bytes_in": dir_size(src)[0],
            "rawbytes.spans_out": sum(len(s) for s in parsed_spans),
            "rawbytes.unparsed_frac":
                sum(not s for s in parsed_spans) / max(len(parsed_spans), 1),
            "pipeline.spans": sum(len(s) for s in _table(
                p("extract/data"), ["spans"]).column("spans").to_pylist()),
            "textstats.keep_frac": _rows(p("gopher")) / max(_rows(p("c4")), 1),
            "dedup.candidates": n_cands,
            "dedup.pairs": n_pairs,
            "dedup.verify_yield": n_pairs / max(n_cands, 1),
            "packing.sequences": len(seqs),
            "packing.fill_frac": sum(seqs) / max(len(seqs), 1),
            **checkpoint_metrics(p("extract"), spans),
        }

    def score(self, inp, out):
        with open(os.path.join(inp, "golden.json")) as f:
            golden = json.load(f)
        want = {
            name: None if g["spans"] is None
            else tuple((k, t, m) for k, t, m in g["spans"])
            for name, g in golden["files"].items()
        }
        got = {r["doc_id"]: score.span_key(r["spans"]) for r in _table(
            os.path.join(out, "extract", "data"),
            ["doc_id", "spans"]).to_pylist()}
        with open(os.path.join(out, "curate", "_audit", "funnel.json")) as f:
            funnel = json.load(f)["funnel"]
        kept = set(_table(os.path.join(out, "curate", "data"),
                          ["doc_id"]).column("doc_id").to_pylist())
        # Extracted rows enter the funnel and every later drop is a
        # recorded per-stage count, so a document is unaccounted only if
        # extraction lost it, the funnel lost it before counting, or
        # the written count disagrees with the data.
        accounted = (min(len(got.keys() & want.keys()), funnel["extracted"])
                     - abs(funnel["written"] - len(kept)))
        misses: dict[str, int] = {}
        for name, g in golden["files"].items():
            if score.span_exact_match(got, {name: want[name]}) < 1:
                tag = g["format"] + ("" if name in got else " (missing)")
                misses[tag] = misses.get(tag, 0) + 1
        if misses:
            print(f"perfbench: span mismatches by format: {misses}",
                  file=sys.stderr)
        return {
            "span_exact_match": score.span_exact_match(got, want),
            "contract_match": score.contract_match(set(), []),
            "near_dup_recall": score.near_dup_recall(golden["clusters"], kept),
            "delivered_frac": score.delivered_frac(len(want), accounted),
        }


def checkpoint_metrics(job: str, spans: list[dict]) -> dict:
    """Wave numbers from the committed manifests and a walk of the
    job's output directory, read after the run."""
    manifests = []
    for name in sorted(os.listdir(os.path.join(job, "_manifests"))):
        with open(os.path.join(job, "_manifests", name)) as f:
            manifests.append(json.load(f))
    wave_s = sorted({m["wave"]: m["wall_s"] for m in manifests}.values())
    size, files = dir_size(job)
    execs = sum(s["executions"] for s in spans if s["name"] == "checkpoint")
    return {
        "checkpoint.waves": len(wave_s),
        "checkpoint.wave_s_p50": statistics.median(wave_s),
        "checkpoint.wave_s_max": wave_s[-1],
        "checkpoint.executions_per_wave": execs / len(wave_s),
        "checkpoint.bytes_written": size,
        "checkpoint.files_written": files,
    }


WORKLOADS = {w.name: w for w in (DocsExtract(), RawCurate())}
