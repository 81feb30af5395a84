"""Batch job entrypoint — the spark-submit surface.

    spark-submit --py-files pdfio_spark.zip pdfio_spark/pipeline/run.py \
        --input  <parquet/iceberg of (url, warc_ts, html, text, lang)> \
        --output <results dir/table> --metrics <metrics dir/table> \
        [--resume] [--cpus N] [--mode MODE] [MODE's own flags]

Every job mode is one entry of `MODES` below: its operator, metrics,
scan columns, whether its decisions are corpus-global, the opts it
takes (and the CLI flags that feed them) and a one-line description.
`--mode pdf` (the default) runs the full PDF parse stack. All modes
share the resume/metrics/run_id-reconcile contract (corpus-global
resume re-derives the decisions and appends only unwritten rows — see
run_job).

Input is the Common-Crawl-style table of the north rule (the binary
`html` column carries PDF bytes). The job:
  1. scans with column pruning (each mode reads only its columns),
  2. resumes by anti-joining urls already present in the output,
  3. runs the mode's operator (pdf: the split-path skew topology of
     job.extract_pdfs),
  4. appends results + per-partition lineage metrics.

Idempotent: re-running with --resume after a crash processes only the
missing urls (exactly-once overall via append + anti-join; on Iceberg
the append itself is atomic per snapshot).
"""
from __future__ import annotations

import argparse
import json
import sys
import time
from dataclasses import dataclass
from typing import Callable


def _json_object(spec: str) -> dict:
    opts = json.loads(spec)
    if not isinstance(opts, dict):
        raise ValueError(f"expected a JSON object, got {spec!r}")
    return opts


def _blobs(key: str) -> Callable[[str], dict]:
    """os.pathsep-separated file paths, read on the driver and shipped
    into task closures (works on a real cluster where executors lack
    the driver's filesystem); an empty spec falls through to the
    executor-side $PDFIO_SPARK_* env lookup."""
    def read(spec: str) -> dict:
        from ..pd.signature import read_pathsep_blobs
        return {key: read_pathsep_blobs(spec)} if spec else {}
    return read


def _blocklist(path: str) -> dict:
    """A newline-separated entry file read on the DRIVER (a UT1-style
    list doesn't fit in argv)."""
    with open(path) as f:
        return {"blocked_domains": [ln.strip() for ln in f if ln.strip()
                                    and not ln.strip().startswith("#")]}


def _decontam_args(spark, opts: dict):
    kw = dict(opts)
    path = kw.pop("benchmark_path", None)
    texts = kw.pop("benchmark_texts", None)
    if (path is None) == (texts is None):
        raise ValueError("decontam needs exactly one of "
                         "benchmark_path / benchmark_texts")
    bench = (spark.read.parquet(path).select("text")
             if path is not None else texts)
    return (bench,), kw


def _dedupref_args(spark, opts: dict):
    if ("reference_path" in opts) == ("index_path" in opts):
        raise ValueError("mode='dedupref' needs opts with exactly one "
                         "of reference_path (frozen kept corpus, hashed "
                         "inline) / index_path (build_dedup_index "
                         "output — the amortized daily path)")
    ref = (spark.read.parquet(opts["reference_path"]).select("text")
           if "reference_path" in opts else None)
    return (ref,), {"index_path": opts.get("index_path")}


def _mix_cols(opts: dict) -> tuple:
    key = opts.get("key_col", "domain")
    return ("url",) if key == "domain" else ("url", key)


@dataclass(frozen=True)
class Mode:
    """One job mode.

    `op` / `metrics` name functions of this package ("job.dedup_metrics")
    and are imported only when the mode runs. `cols` is the scan
    projection, or a function of the opts where the columns depend on
    them. `keys` are the opts keys the mode accepts: () means it takes
    no opts, None means the operator's own keyword parameters (so a new
    threshold needs no second edit here). `prepare(spark, opts)` checks
    the opts and returns the operator's extra (args, kwargs); by default
    the opts pass through as keywords. `flags` are the CLI flags that
    feed the opts, each with the reader that turns its value into opts
    entries (later flags win)."""
    op: str
    metrics: str
    doc: str
    cols: tuple | Callable[[dict], tuple] = ("url", "html")
    corpus_global: bool = False
    keys: tuple | None = ()
    prepare: Callable | None = None
    flags: tuple = ()


_TEXT = ("url", "text")

# Order is the CLI's --mode choices order. A corpus-global mode's
# decisions depend on EVERY other doc, so its resume re-derives over the
# full input and appends only unwritten rows.
MODES: dict[str, Mode] = {
    "pdf": Mode("job.extract_pdfs", "job.extraction_metrics",
                "full PDF parse stack over (url, html binary)"),
    "html": Mode("html_extract.extract_html", "html_extract.html_metrics",
                 "web-page boilerplate strip (DOM block scoring)"),
    "wet": Mode("job.annotate_wet", "job.wet_metrics",
                "oracled analytics annotation of pre-extracted text "
                "(sources.read_wet)", _TEXT),
    "wat": Mode("job.annotate_wat", "job.wat_metrics",
                "typed columns from flattened crawl metadata "
                "(sources.read_wat)", ("url", "metadata", "nbytes")),
    "dedup": Mode("job.dedup_decisions", "job.dedup_metrics",
                  "exact + near-dup keep decisions", _TEXT,
                  corpus_global=True),
    # trust anchors and CRL/OCSP material; omitted, each executor reads
    # its $PDFIO_SPARK_* env. A typo'd key (say 'crls') must not audit
    # silently WITHOUT revocation checking.
    "sigaudit": Mode("job.validate_signatures_over", "job.sigaudit_metrics",
                     "corpus-scale signature audit, one row per "
                     "signature",
                     keys=("trust_pems", "crl_blobs", "ocsp_ders"),
                     flags=(("--trust-pems", _blobs("trust_pems")),
                            ("--crl-pems", _blobs("crl_blobs")),
                            ("--ocsp-ders", _blobs("ocsp_ders")))),
    # e.g. --filter-opts '{"min_words": 10, "langs": ["en", "de"]}'.
    # Defaults are tuned for real web text: a 100%-drop on a synthetic
    # short-text corpus is faithful, not a bug.
    "filter": Mode("job.quality_decisions", "job.filter_metrics",
                   "Gopher/C4-style quality gate with per-rule reason "
                   "tags", _TEXT, keys=None,
                   flags=(("--filter-opts", _json_object),)),
    "pii": Mode("job.pii_scrub_over", "job.pii_metrics",
                "PII redaction with per-category counters", _TEXT),
    # --blocked-domains entries override a blocked_domains opts key
    "urlfilter": Mode("job.url_filter_decisions", "job.urlfilter_metrics",
                      "URL gate before any byte of content is read",
                      ("url",), keys=None,
                      flags=(("--url-opts", _json_object),
                             ("--blocked-domains", _blocklist))),
    # e.g. --decontam-opts '{"benchmark_path": "/data/eval.parquet",
    # "k": 13}'
    "decontam": Mode("job.decontam_decisions", "job.decontam_metrics",
                     "drop docs sharing a k-token span with an eval set",
                     _TEXT, keys=("benchmark_path", "benchmark_texts",
                                  "k", "min_hits"),
                     prepare=_decontam_args,
                     flags=(("--decontam-opts", _json_object),)),
    # the token-budget variant weighs docs by their text
    "domaincap": Mode("job.domain_cap_decisions", "job.domaincap_metrics",
                      "cap docs (or tokens) per registrable domain",
                      lambda o: (_TEXT if o.get("max_tokens_per_domain")
                                 is not None else ("url",)),
                      corpus_global=True,
                      keys=("max_per_domain", "max_tokens_per_domain"),
                      flags=(("--domaincap-opts", _json_object),)),
    "linededup": Mode("job.linededup_decisions", "job.linededup_metrics",
                      "C4 corpus-level line dedup", _TEXT,
                      corpus_global=True),
    "substrdedup": Mode("job.substrdedup_decisions",
                        "job.substrdedup_metrics",
                        "ExactSubstr repeated-span removal", _TEXT,
                        corpus_global=True),
    # e.g. --semdedup-opts '{"k": 1024, "tau": 0.95, "train_frac": 0.1}'
    "semdedup": Mode("job.semdedup_decisions", "job.semdedup_metrics",
                     "embedding-cluster semantic dedup over "
                     "(url, embedding)", ("url", "embedding"),
                     corpus_global=True,
                     keys=("k", "iters", "tau", "train_frac", "nprobe"),
                     flags=(("--semdedup-opts", _json_object),)),
    # e.g. --mix-opts '{"weights": {"wikipedia.org": 3.0}}'; a
    # non-domain key_col (say lang) must reach the scan (_mix_cols)
    "mix": Mode("job.mix_decisions", "job.mix_metrics",
                "per-key deterministic down/upsampling",
                _mix_cols,
                keys=("weights", "default_rate", "seed", "key_col"),
                flags=(("--mix-opts", _json_object),)),
    # e.g. --dedupref-opts '{"reference_path": "/data/kept_corpus"}'
    "dedupref": Mode("job.dedup_against", "job.dedup_metrics",
                     "dedup a new crawl against a frozen kept corpus",
                     _TEXT, keys=("reference_path", "index_path"),
                     prepare=_dedupref_args,
                     flags=(("--dedupref-opts", _json_object),)),
    "urldedup": Mode("job.urldedup_decisions", "job.urldedup_metrics",
                     "collapse recrawls of one resource by normalized "
                     "url", ("url",), corpus_global=True),
}


def _load(ref: str):
    import importlib
    mod, name = ref.rsplit(".", 1)
    return getattr(importlib.import_module(f".{mod}", __package__), name)


def _operator(spark, mode: str, opts: dict | None):
    """MODES[mode] with `opts` checked: (extract_fn, metrics_fn, cols,
    corpus_global). Runs BEFORE any column select: an unknown mode used
    to surface as a misleading cannot-resolve-column AnalysisException
    on WET-shaped tables."""
    spec = MODES.get(mode)
    if spec is None:
        raise ValueError(f"unknown mode {mode!r} ({' | '.join(MODES)})")
    op = _load(spec.op)
    if spec.keys == () and opts is not None:
        takers = [m for m, s in MODES.items() if s.keys != ()]
        raise ValueError(f"mode={mode!r} takes no opts (opts are only "
                         f"valid with mode in {takers})")
    opts = dict(opts or {})
    if spec.keys is None:
        import inspect
        valid = set(inspect.signature(op).parameters) - {"corpus"}
    else:
        valid = set(spec.keys)
    if bad := set(opts) - valid:
        raise ValueError(f"unknown opts keys {sorted(bad)} for "
                         f"mode={mode!r} (valid: {sorted(valid)})")
    args, kw = (spec.prepare(spark, opts) if spec.prepare
                else ((), opts))
    cols = spec.cols(opts) if callable(spec.cols) else spec.cols
    return ((lambda c: op(c, *args, **kw)), _load(spec.metrics),
            list(cols), spec.corpus_global)


def make_cc_table(docs, classes=None):
    """documents(doc_id, text, lang, ...) -> the input_hint schema
    (url string, warc_ts timestamp, html binary, text string,
    lang string) with synthetic PDF bytes in `html`."""
    from pyspark.sql import functions as F
    from .job import gen_pdf_corpus
    corpus = gen_pdf_corpus(docs, classes=classes)
    meta = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"), F.col("lang"))
    return (corpus.join(meta, "url")
            .select("url", "warc_ts", "html", "text", "lang"))


def run_job(spark, input_path: str, output_path: str,
            metrics_path: str | None = None, resume: bool = False,
            mode: str = "pdf", run_id: str | None = None,
            opts: dict | None = None) -> dict:
    """Run one `MODES` entry over `input_path`. `opts` are the mode's
    options (see Mode.keys); a mode that takes none rejects any opts,
    even {}.

    Every run stamps its output AND metrics rows with a `run_id`; on
    --resume, any run_id present in the output but absent from the
    metrics table (= a crash landed between the two appends) gets its
    metrics RECOMPUTED from the committed output rows and appended
    with reconciled=true — metrics completeness without re-extraction
    (partition ids in reconciled rows reflect the resume read, the
    lineage counts are exact)."""
    import uuid
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    extract_fn, metrics_fn, cols, corpus_global = _operator(
        spark, mode, opts)

    rid = run_id or uuid.uuid4().hex
    src = spark.read.parquet(input_path)
    # column pruning reaches the scan: each mode reads only its columns
    corpus = src.select(*cols)
    # the resume contract keys on url, and a NULL key matches NOTHING
    # in the anti-join (SQL null equality) — a NULL-url row would be
    # reprocessed and its decision re-APPENDED on every resume no
    # matter what the operator writes (the operator-side coalesces
    # fix the OUTPUT row but sit on the wrong side of the anti-join).
    # Normalize the key once here, for every mode.
    corpus = corpus.withColumn("url",
                               F.coalesce(F.col("url"), F.lit("")))

    prev = None
    if resume:
        try:
            # mergeSchema: a dir mixing pre-run_id part-files with
            # stamped ones must surface the run_id column regardless
            # of which footer Spark samples (a hidden column made
            # EVERY run an "orphan" and double-counted lineage)
            prev = (spark.read.option("mergeSchema", True)
                    .parquet(output_path))
        except AnalysisException:
            pass  # no prior output -> fresh run
    # the try covers ONLY the output read: an AnalysisException thrown
    # by reconciliation (e.g. orphan rows written by a different
    # --mode) must surface, not silently skip it
    if prev is not None:
        if not corpus_global:
            # join strategy left to Spark (job.resume_filter): `done`
            # is the UNBOUNDED set of all previously-written urls — a
            # forced broadcast OOMs exactly on the crash-recovery path
            # it exists for
            from .job import resume_filter
            corpus = resume_filter(corpus, prev.select("url"))
        if metrics_path and "run_id" in prev.columns:
            _reconcile_metrics(spark, prev, metrics_path, metrics_fn)

    t0 = time.perf_counter()
    extracted = extract_fn(corpus)
    if corpus_global and prev is not None:
        # dedup decisions are corpus-GLOBAL: a doc's keep_id depends
        # on every other doc, so resume must NOT shrink the input
        # (deciding the missing docs against a partial corpus would
        # mark survivors whose twins are already decided). Instead the
        # deterministic decision set is re-derived over the full input
        # snapshot and only the rows a crash failed to write are
        # appended — exactly-once rows, globally correct decisions.
        # This contract assumes the input SNAPSHOT is unchanged since
        # the crashed run: rows appended to the input in between can
        # DISPLACE already-written decisions (a hash-smaller doc
        # becomes the dedup winner / enters a full domain cap), and
        # written rows are immutable — audit and warn rather than
        # silently violate the invariant.
        from .job import resume_filter
        # one checkpoint of the full re-derived set feeds both the
        # displacement audit and the anti-join (the decision plan
        # would otherwise evaluate twice)
        extracted = extracted.localCheckpoint()
        if "status" in prev.columns:
            n_displaced = (
                extracted.select("url", "status")
                .join(prev.select("url", F.col("status")
                                  .alias("_prev_status")), "url")
                .filter(F.col("status") != F.col("_prev_status"))
                .count())
            if n_displaced:
                import warnings
                warnings.warn(
                    f"corpus-global resume: {n_displaced} previously"
                    "-written decision(s) diverge from the set "
                    "re-derived over the current input — the input "
                    "grew since the interrupted run. Written rows "
                    "are immutable, so mode invariants (dedup "
                    "uniqueness / domain caps) may now be violated; "
                    "corpus-global resume is crash recovery over an "
                    "unchanged snapshot, not incremental ingest.")
        extracted = resume_filter(extracted, prev.select("url"))
    # localCheckpoint (not cache): the resume anti-join scans
    # output_path lazily, so ANY recomputation after the append —
    # cache eviction included — would see the job's own freshly
    # written rows and anti-join everything away. Checkpointing cuts
    # that lineage outright.
    extracted = (extracted
                 .withColumn("run_id", F.lit(rid)).localCheckpoint())
    stats = {r["status"]: r["count"] for r in
             extracted.groupBy("status").count().collect()}
    extracted.write.mode("append").parquet(output_path)
    # metrics AFTER the output append: a crash between the two writes
    # used to leave metrics rows for work the resume re-runs, double-
    # counting lineage (the anti-join dedups only the output table);
    # the reconcile pass above covers the opposite loss (output
    # committed, metrics not)
    if metrics_path:
        metrics_fn(extracted.drop("run_id")) \
            .withColumn("run_id", F.lit(rid)) \
            .withColumn("reconciled", F.lit(False)) \
            .withColumn("ts", F.current_timestamp()) \
            .write.mode("append").parquet(metrics_path)
    wall = time.perf_counter() - t0
    return {"written": sum(stats.values()), "by_status": stats,
            "run_id": rid, "wall_sec": round(wall, 2)}


def _reconcile_metrics(spark, prev_output, metrics_path: str,
                       metrics_fn) -> None:
    """Append recomputed metrics rows for run_ids whose output
    committed but whose metrics append never ran (crash in between).
    Exact, not estimated: output rows carry every column the metrics
    aggregate reads."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException
    try:
        met = (spark.read.option("mergeSchema", True)
               .parquet(metrics_path))
        covered = (met.select("run_id").distinct()
                   if "run_id" in met.columns
                   else met.sparkSession.createDataFrame(
                       [], "run_id string"))
    except AnalysisException:
        covered = spark.createDataFrame([], "run_id string")
    orphans = (prev_output.filter(F.col("run_id").isNotNull())
               .select("run_id").distinct()
               .join(covered, "run_id", "left_anti"))
    # orphan set = number of crashed runs — tiny; broadcast is safe
    rows = prev_output.join(F.broadcast(orphans), "run_id")
    per_run = rows.select("run_id").distinct().collect()
    for r in per_run:
        one = rows.filter(F.col("run_id") == r["run_id"]).drop("run_id")
        metrics_fn(one) \
            .withColumn("run_id", F.lit(r["run_id"])) \
            .withColumn("reconciled", F.lit(True)) \
            .withColumn("ts", F.current_timestamp()) \
            .write.mode("append").parquet(metrics_path)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="pdfio-spark extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--mode", choices=tuple(MODES), default="pdf")
    for spec in MODES.values():
        for flag, _ in spec.flags:
            ap.add_argument(flag, default=None)
    args = ap.parse_args(argv)

    # a per-mode flag under another --mode fails here, before any
    # session starts: `--mode pdf --crl-pems x.pem` must never drop
    # the revocation material silently
    opts = None
    for mode, spec in MODES.items():
        for flag, read in spec.flags:
            value = getattr(args, flag[2:].replace("-", "_"))
            if value is None:
                continue
            if mode != args.mode:
                raise ValueError(f"{flag} is only valid with "
                                 f"--mode {mode}")
            opts = {**(opts or {}), **read(value)}

    from .session import get_spark
    spark = get_spark(cpus=args.cpus, app="pdfio_spark_job")
    spark.sparkContext.setLogLevel("WARN")
    out = run_job(spark, args.input, args.output, args.metrics,
                  args.resume, mode=args.mode, opts=opts)
    print(out)
    spark.stop()


if __name__ == "__main__":
    if __package__ in (None, ""):
        # spark-submit runs this file as a bare script: re-enter through
        # the package (provided by --py-files or the repo checkout) so
        # relative imports resolve
        import os
        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))))
        from pdfio_spark.pipeline.run import main as _pkg_main
        _pkg_main()
    else:
        main()
