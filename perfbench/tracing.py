"""Spans around the public entry point of each layer, recorded from
outside the program.

Kernel layers are timed by running `pd.extract.extract_doc`'s page loop
as a sequence of public calls (document open, content decode, content
tokenize, font resolve, content eval, layout), single-thread in the
driver. Spark layers are timed by calling, one at a time, the public
functions that `pipeline.run.run_job` composes for `mode="pdf"`.
"""
from __future__ import annotations

import json
import time
import uuid
from collections import Counter
from contextlib import contextmanager

KERNEL_LAYERS = (("cos.doc", "open_us"), ("cos.filters", "decode_us"),
                 ("cos.lexer", "tokenize_us"), ("pd.fonts", "resolve_us"),
                 ("pd.content", "eval_us"), ("pd.layout", "layout_us"))
RUN_SPANS = ("run.resume_filter", "run.extract", "run.status_agg",
             "run.sink_write", "run.metrics_write")


class Tracer:
    """Spans in memory as [name, start_ns, end_ns, parent, doc], plus a
    call count and an error count per span name."""

    def __init__(self):
        self.spans: list[list] = []
        self.calls: Counter = Counter()
        self.errors: Counter = Counter()

    @contextmanager
    def span(self, name: str, parent: int | None = None, doc=None):
        rec = [name, time.perf_counter_ns(), 0, parent, doc]
        self.spans.append(rec)
        try:
            yield len(self.spans) - 1
        except Exception:
            self.errors[name] += 1
            raise
        finally:
            rec[2] = time.perf_counter_ns()
            self.calls[name] += 1

    def self_ns(self) -> Counter:
        """Span name -> summed self time: each span's duration minus the
        part its child spans cover."""
        child: Counter = Counter()
        for _name, start, end, parent, _doc in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: Counter = Counter()
        for i, (name, start, end, _parent, _doc) in enumerate(self.spans):
            out[name] += end - start - child[i]
        return out

    def seconds(self, name: str) -> float:
        return sum(e - s for n, s, e, _p, _d in self.spans
                   if n == name) / 1e9

    def dump(self, path: str) -> None:
        keys = ("name", "start_ns", "end_ns", "parent", "doc")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _n_elems(group) -> int:
    n = 0
    for obj in group.objs:
        n += 1
        sub = getattr(obj, "group", None)
        if sub is not None:
            n += _n_elems(sub)
    return n


def traced_extract(tr: Tracer, data: bytes, doc: str, counts: Counter):
    """extract_doc's text and status, with one span per layer call.

    Matches `pd.extract.extract_doc` for documents without an explicit
    page range: per non-empty page, the layout text and a newline; a
    failing page is skipped and marks the document partial."""
    from pdfio_spark.cos.crypt import UnsupportedEncryption
    from pdfio_spark.cos.lexer import Buf
    from pdfio_spark.pd.content import (Group, eval_content, load_objects,
                                        new_state)
    from pdfio_spark.pd.layout import show_text_layout
    from pdfio_spark.pd.pagetree import PDDoc

    with tr.span("kernel.doc", doc=doc) as root:
        try:
            with tr.span("cos.doc", root, doc):
                pdoc = PDDoc(data)
        except UnsupportedEncryption:
            return "", "unsupported_encryption"
        except Exception:
            return "", "error"
        texts, failed = [], 0
        for i in range(1, min(pdoc.page_count(), 10000) + 1):
            try:
                page = pdoc.get_page(i)
                if page.is_empty():
                    continue
                with tr.span("cos.filters", root, doc):
                    raw = page.content_bytes()
                with tr.span("cos.lexer", root, doc):
                    group = load_objects(Group(), Buf(raw))
                with tr.span("pd.fonts", root, doc):
                    page.get_fonts()
                with tr.span("pd.content", root, doc):
                    state = eval_content(group, new_state(), page)
                with tr.span("pd.layout", root, doc):
                    txt = show_text_layout(state)
            except Exception:
                failed += 1
                continue
            texts.append(txt + "\n")
            counts["kernel.pages"] += 1
            counts["kernel.content_bytes"] += len(raw)
            counts["kernel.content_elems"] += _n_elems(group)
            counts["kernel.text_runs"] += len(state["text_layout"])
    status = ("ok" if texts and not failed else "partial" if texts
              else "error" if failed else "empty")
    return "".join(texts), status


def kernel_layers(docs: list, tr: Tracer) -> tuple[dict, tuple, tuple]:
    """Run each of `docs` (list of (url, pdf bytes)) through `extract_doc`
    untraced and then through the traced page loop, back to back so both
    see the same caches and the same box state. Returns the per-layer
    metrics, then the (texts, statuses) of `extract_doc` and those of the
    traced loop."""
    from pdfio_spark.pd.extract import extract_doc

    counts: Counter = Counter()
    plain, traced_out = ([], []), ([], [])
    untraced = traced = 0.0
    for url, data in docs:
        t0 = time.perf_counter()
        r = extract_doc(data)
        t1 = time.perf_counter()
        text, status = traced_extract(tr, data, url, counts)
        untraced += t1 - t0
        traced += time.perf_counter() - t1
        plain[0].append(r["text"])
        plain[1].append(r["status"])
        traced_out[0].append(text)
        traced_out[1].append(status)

    self_ns = tr.self_ns()
    n = len(docs)
    m = {"kernel.docs": n, "kernel.untraced_s": untraced,
         "kernel.traced_s": traced,
         "kernel.glue_us": self_ns["kernel.doc"] / 1e3 / n}
    for layer, key in KERNEL_LAYERS:
        m[f"{layer}.{key}"] = self_ns[layer] / 1e3 / n
        m[f"{layer}.calls"] = tr.calls[layer]
        m[f"{layer}.errors"] = tr.errors[layer]
    m.update(counts)
    return m, plain, traced_out


def _identity(batches):
    yield from batches


def quantile(sorted_vals: list, q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    if not sorted_vals:
        return 0.0
    n = len(sorted_vals)
    return float(sorted_vals[min(n - 1, max(0, int(q * n + 0.5) - 1))])


def spark_layers(spark, tr: Tracer, input_path: str, out_path: str,
                 met_path: str, cpus: int,
                 resume: bool) -> tuple[dict, str]:
    """The public calls `run_job(mode="pdf")` makes, one span each, plus
    a scan probe and an identity Arrow round trip over the same input.
    Returns the per-layer metrics and the run id the traced calls wrote
    under."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pdfio_spark.pipeline.job import (extract_pdfs, extraction_metrics,
                                          resume_filter)

    m = {}
    src = spark.read.parquet(input_path)
    corpus = (src.select("url", "html")
              .withColumn("url", F.coalesce(F.col("url"), F.lit(""))))
    with tr.span("spark.scan"):
        m["spark.scan.partitions"] = corpus.rdd.getNumPartitions()
        m["spark.scan.partitions_nonempty"] = (
            corpus.select(F.spark_partition_id().alias("p"))
            .distinct().count())
    m["input.row_groups"] = sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in pq.ParquetDataset(input_path).files)
    n_input = src.count()

    with tr.span("spark.arrow"):
        (corpus.mapInArrow(_identity, "url string, html binary")
         .write.format("noop").mode("overwrite").save())
    m["spark.arrow.roundtrip_s"] = tr.seconds("spark.arrow")

    rid = uuid.uuid4().hex
    m["run.rows_skipped"] = 0
    if resume:
        with tr.span("run.resume_filter"):
            prev = spark.read.option("mergeSchema", True).parquet(out_path)
            corpus = resume_filter(corpus, prev.select("url"))
            corpus = corpus.localCheckpoint()
        m["run.rows_skipped"] = n_input - corpus.count()
    with tr.span("run.extract"):
        extracted = (extract_pdfs(corpus).withColumn("run_id", F.lit(rid))
                     .localCheckpoint())
    with tr.span("run.status_agg"):
        stats = {r["status"]: r["count"] for r in
                 extracted.groupBy("status").count().collect()}
    with tr.span("run.sink_write"):
        extracted.write.mode("append").parquet(out_path)
    with tr.span("run.metrics_write"):
        (extraction_metrics(extracted.drop("run_id"))
         .withColumn("run_id", F.lit(rid))
         .withColumn("reconciled", F.lit(False))
         .withColumn("ts", F.current_timestamp())
         .write.mode("append").parquet(met_path))
    for name in RUN_SPANS:
        m[name + "_s"] = tr.seconds(name)
    m["run.rows_written"] = sum(stats.values())

    durs = sorted(r["dur_us"] for r in extracted.select("dur_us").collect())
    m["spark.kernel_busy_share"] = (
        sum(durs) / 1e6 / (m["run.extract_s"] * cpus))
    m["spark.dur_us.p50"] = quantile(durs, 0.5)
    m["spark.dur_us.p99"] = quantile(durs, 0.99)
    m["spark.dur_us.max"] = quantile(durs, 1.0)
    per_part = [r["n_docs"] for r in spark.read.parquet(met_path)
                .filter(F.col("run_id") == rid).select("n_docs").collect()]
    n_parts = extracted.rdd.getNumPartitions()
    m["spark.partition_rows_max_over_mean"] = (
        max(per_part) * n_parts / sum(per_part) if per_part else 0.0)
    m["trace.run_s"] = sum(m[name + "_s"] for name in RUN_SPANS)
    return m, rid
