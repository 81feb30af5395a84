#!/usr/bin/env python3
"""Isolated per-query measurement harness for the optimization rounds.

bench.py is FROZEN (the driver times rounds with its round-start copy);
this file is the round's working instrument, per the optimization
guide §1: per-query noop-sink timing (guide §1.4) with measurement
isolation between queries (clearCache + JVM GC — the r6 verdict
measured in-sequence contamination of 2-3x on tail queries), labelled
jobs (§1.5), and `.explain("formatted")` capture into plans/<tag>/.

Usage:
  python3 bench_extra.py --tag r07 --suffix before --queries q_ann_ivf
  python3 bench_extra.py --tag r07 --suffix before --all --reps 3
  python3 bench_extra.py --plan-only --tag r07 --suffix after --all

Plans land in plans/<tag>/<query>_<suffix>.txt (the round deliverable).

Prints one JSON line {"queries": {name: best_sec}, "samples": {...}}.
"""
from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdfio_spark.pipeline.session import get_spark  # noqa: E402
from pdfio_spark.pipeline import queries as Q  # noqa: E402

ALL_QUERIES = [
    "q_pricing_summary", "q_top_customers", "q_order_priority_window",
    "q_events_sessionize", "q_dedup_pipeline", "q_text_analytics",
    "q_repetition_filter", "q_ann_bruteforce", "q_dedup_minhash",
    "q_ngram_jaccard", "q_asof_join", "q_time_rollup", "q_range_join",
    "q_ann_lsh_topk", "q_ann_ivf", "q_html_main", "q_line_dedup",
    "q_substr_dedup",
]


def capture_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def isolate(spark) -> None:
    """Between-query isolation so a query's timing does not depend on
    its sequence position (the r6 verdict's bench finding). NOTE:
    catalog.clearCache() only drops SQL-cached relations; the
    localCheckpoint blocks the heavy queries create are freed by the
    gc.collect() + System.gc() pair below (Python refs die -> JVM
    ContextCleaner unpersists) — that pair, not clearCache, is the
    load-bearing part. The caller drops its last DataFrame reference
    first; gc.collect() then releases the py4j handles, so the JVM
    collection that follows can find the blocks unreferenced."""
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--tag", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    names = ALL_QUERIES if args.all else [
        n for n in args.queries.split(",") if n]
    if not names:
        ap.error("pass --all or --queries")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus=cpus, app="pdfio_spark_bench_extra")
    spark.sparkContext.setLogLevel("ERROR")

    plan_dir = None
    if args.tag:
        plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "plans", args.tag)
        os.makedirs(plan_dir, exist_ok=True)

    results: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        fn = Q.QUERIES.get(name) or getattr(Q, name)
        if plan_dir:
            df = fn(spark, sf_dir)
            with open(os.path.join(plan_dir,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(capture_plan(df))
            del df
            isolate(spark)
        if args.plan_only:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        ts = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            del df
            isolate(spark)
        spark.sparkContext.setJobDescription(None)
        results[name] = min(ts)
        samples[name] = ts
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "queries": results,
                      "samples": samples}))


if __name__ == "__main__":
    main()
