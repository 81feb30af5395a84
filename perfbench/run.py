#!/usr/bin/env python3
"""Benchmark of the PDF extraction path that users run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of the repository. Workloads (see perfbench/README.md):

  kernel_small  single-thread `pd.extract.extract_doc` over small docs
  job_small     `pipeline.run.run_job(mode="pdf")` over a table of small docs
  job_resume    `run_job(resume=True)` over the same kind of table, its
                first half already committed

With `--trace 0` the run reports the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. Every output row is checked
against the closed form of its input. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Diagnostics (box-drift probe, set-up steps, spans) go to a line before
it and to perfbench/.work/results/.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, tracing  # noqa: E402
from perfbench.check import check_dir, check_rows  # noqa: E402
from perfbench.procmon import ProcMonitor  # noqa: E402

WORKLOADS = ("kernel_small", "job_small", "job_resume")
KERNEL_DOCS = 750         # kernel_small pool; a multiple of 25 classes
TABLE_DOCS = 600          # rows of the job_small / job_resume table
SETUP_REPEATS = 4         # input builds of a job workload's set-up
KERNEL_CHUNK = 25         # docs per timed chunk in kernel_small
WARM_CALLS = 2            # untimed run_job calls before a job's timed loop


def drift_probe(loops: int = 5) -> float:
    """Median seconds of a fixed pure-Python loop. The program cannot
    move it, so it tells box drift apart from program drift."""
    times = []
    for _ in range(loops):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Workspace:
    """Scratch space of one run, inside the checkout."""

    def __init__(self, workload: str, seed: int, trace: int):
        self.base = os.path.join(ROOT, "perfbench", ".work")
        self.name = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
        self.dir = os.path.join(self.base, self.name)
        os.makedirs(self.path("tmp"))

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def result_path(self, suffix: str) -> str:
        d = os.path.join(self.base, "results")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self.name}{suffix}")

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def start_spark(ws: Workspace, cpus: int):
    """A session from the program's own factory, with every temp and
    spill directory inside the workspace."""
    tmp, local = ws.path("tmp"), ws.path("local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: each JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.local.dir={local} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from pdfio_spark.pipeline.session import get_spark
    spark = get_spark(cpus=cpus, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------- input tables

def write_small_table(spark, docs: list, path: str) -> str:
    """Write a `make_cc_table` table in one file; returns `path`. Spark's
    own write of this plan lands as one file unless adaptive execution
    turns the join into a broadcast, which depends on which stage
    finishes first; the one file is pinned so the scan repeats."""
    from pdfio_spark.pipeline.run import make_cc_table
    df = spark.createDataFrame([(d.doc_id, d.text, d.lang) for d in docs],
                               "doc_id long, text string, lang string")
    make_cc_table(df).coalesce(1).write.parquet(path)
    return path


# ------------------------------------------------------------- workloads

class Run:
    """State and results of one benchmark run."""

    def __init__(self, args, ws: Workspace, mon: ProcMonitor):
        self.args = args
        self.ws = ws
        self.mon = mon
        self.cpus = len(os.sched_getaffinity(0))
        self.metrics: dict = {}
        self.diag: dict = {"cpus": self.cpus}
        self.exact = []          # Exactness of every checked output
        self.setup_fixed_s = 0.0  # set-up done once: session, commit
        self.build_laps = []     # piece times of every input build
        self.spark = None
        self.tracer = None
        self.timed_regions = 0   # memory regions of the timed loop

    def timed_loop(self, one_call, per_call: bool) -> list:
        """Call `one_call(i)` -> (docs, seconds) until the timed seconds
        reach --seconds (a call that would mostly run past the end is not
        started). Returns the calls' (docs, seconds).

        With `per_call`, each call starts from a collected JVM heap and
        gets its own memory region, so peak_rss_mb is the median of the
        calls' peaks; otherwise the timed loop is one region."""
        self.diag["drift_before_s"] = drift_probe()
        self.mon.mark()              # closes the set-up region
        calls, total_s, secs = [], 0.0, 0.0
        while total_s + secs / 2 < self.args.seconds or not calls:
            if per_call:
                self.spark.sparkContext._jvm.System.gc()
                self.mon.mark()
            docs, secs = one_call(len(calls))
            calls.append((docs, secs))
            total_s += secs
        self.mon.mark()
        self.diag["drift_after_s"] = drift_probe()
        self.diag.update(calls=len(calls), timed_s=total_s,
                         call_s=[s for _, s in calls])
        self.timed_regions = len(calls) if per_call else 1
        return calls

    def build_input(self, build, k: int):
        """Run `build(k, lap)`; `build` calls `lap()` at the end of each
        piece of its work, the same pieces every time. Returns its
        result."""
        marks = [time.perf_counter()]
        out = build(k, lambda: marks.append(time.perf_counter()))
        self.build_laps.append([b - a for a, b in zip(marks, marks[1:])])
        return out

    def setup_s(self) -> float:
        """Set-up done once, plus one input build taken as the sum over
        its pieces of each piece's fastest time: the box only ever adds
        time, and a piece is shorter than the box's slow phases."""
        self.diag["build_s"] = [sum(t) for t in self.build_laps]
        return self.setup_fixed_s + sum(map(min, zip(*self.build_laps)))

    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = start_spark(self.ws, self.cpus)
        self.diag["session_s"] = time.perf_counter() - t0
        self.setup_fixed_s += self.diag["session_s"]

    # ---- kernel_small

    def kernel_small(self) -> None:
        from pdfio_spark.pipeline.job import make_pdf_for_doc
        from pdfio_spark.pd.extract import extract_doc

        chunks = [range(c, c + KERNEL_CHUNK)
                  for c in range(0, KERNEL_DOCS, KERNEL_CHUNK)]

        def build(_k, lap):
            docs = inputs.small_docs(self.args.seed, KERNEL_DOCS)
            lap()
            pdfs = []
            for idx in chunks:
                pdfs += [make_pdf_for_doc(docs[j].doc_id, docs[j].text)
                         for j in idx]
                lap()
            return docs, pdfs

        docs, pdfs = self.build_input(build, 0)
        expected = {d.url: d.expected for d in docs}
        if self.args.trace:
            self.kernel_trace([(d.url, p) for d, p in zip(docs, pdfs)],
                              expected)
            return

        # Neighbours on the host only ever add time, and the box switches
        # between a fast and a slow state in phases longer than a chunk:
        # each chunk's fastest pass is the kernel's own speed on it. The
        # input is built again after each pass, untimed, so that set-up
        # is sampled across the run in the same way.
        best = [float("inf")] * len(chunks)

        def one_pass(i):
            outs, total = [], 0.0
            for c, idx in enumerate(chunks):
                t0 = time.perf_counter()
                outs += [extract_doc(pdfs[j]) for j in idx]
                secs = time.perf_counter() - t0
                best[c] = min(best[c], secs)
                total += secs
            self.exact.append(check_rows(
                expected, [d.url for d in docs], [r["text"] for r in outs],
                [r["status"] for r in outs]))
            self.build_input(build, i + 1)
            return len(outs), total

        self.timed_loop(one_pass, per_call=False)
        self.metrics["docs_per_s"] = KERNEL_DOCS / sum(best)

    def kernel_trace(self, docs: list, expected: dict) -> None:
        """Per-layer kernel metrics over `docs` (url, pdf bytes)."""
        if self.tracer is None:
            self.tracer = tracing.Tracer()
        m, plain, traced = tracing.kernel_layers(docs, self.tracer)
        # extract_doc's output and the traced loop's must both equal the
        # closed form, so a divergence of the traced loop is a mismatch
        urls = [u for u, _ in docs]
        self.exact.append(check_rows(expected, urls, *plain))
        self.exact.append(check_rows(expected, urls, *traced))
        self.metrics.update(m)
        self.metrics.setdefault("trace.overhead_share",
                                1 - m["kernel.untraced_s"]
                                / m["kernel.traced_s"])

    # ---- job workloads

    def job_small(self) -> None:
        self.small_job(resume=False)

    def job_resume(self) -> None:
        self.small_job(resume=True)

    def small_job(self, resume: bool) -> None:
        """`run_job` calls over a `make_cc_table` table. With `resume`,
        the first half of the seeded order is committed in set-up and
        every call resumes from a copy of that output."""
        from pdfio_spark.pipeline.job import make_pdf_for_doc
        from pdfio_spark.pipeline.run import run_job

        expected = {}
        self.start_session()

        def build(k, lap):
            docs = inputs.small_docs(self.args.seed, TABLE_DOCS)
            expected.update((d.url, d.expected) for d in docs)
            lap()
            write_small_table(self.spark, docs, self.ws.path(f"in{k}"))
            lap()
            return docs, self.ws.path(f"in{k}")

        docs, tables = zip(*(self.build_input(build, k)
                             for k in range(SETUP_REPEATS)))
        docs = docs[0]
        base = None
        if resume:
            t0 = time.perf_counter()
            half = write_small_table(self.spark, docs[:len(docs) // 2],
                                     self.ws.path("half"))
            base = self.ws.path("base_out"), self.ws.path("base_met")
            run_job(self.spark, half, *base)
            self.diag["commit_s"] = time.perf_counter() - t0
            self.setup_fixed_s += self.diag["commit_s"]

        def prepare(out, met):
            if base is not None:
                shutil.copytree(base[0], out)
                shutil.copytree(base[1], met)

        def one_call(i, label="call"):
            out = self.ws.path(f"{label}{i}_out")
            met = self.ws.path(f"{label}{i}_met")
            prepare(out, met)
            t0 = time.perf_counter()
            r = run_job(self.spark, tables[i % len(tables)], out, met,
                        resume=resume)
            secs = time.perf_counter() - t0
            self.exact.append(check_dir(expected, out, r["run_id"]))
            shutil.rmtree(out)
            shutil.rmtree(met)
            return r["written"], secs

        # The first run_job of a session pays the workers' imports, and
        # the JVM's just-in-time compilation keeps cutting call times for
        # several calls more.
        t0 = time.perf_counter()
        for i in range(WARM_CALLS):
            one_call(i, "warm")
        self.diag["warmup_s"] = time.perf_counter() - t0
        if not self.args.trace:
            calls = self.timed_loop(one_call, per_call=True)
            self.metrics["docs_per_s"] = statistics.median(
                d / secs for d, secs in calls)
            return

        # untraced calls before and after the traced one, so that the
        # JVM's continuing warm-up does not favour either side
        before = one_call(0, "untraced")
        out, met = self.ws.path("traced_out"), self.ws.path("traced_met")
        prepare(out, met)
        self.tracer = tracing.Tracer()
        m, rid = tracing.spark_layers(self.spark, self.tracer, tables[0],
                                      out, met, self.cpus, resume)
        self.exact.append(check_dir(expected, out, rid))
        after = one_call(1, "untraced")
        untraced_rate = (before[0] + after[0]) / (before[1] + after[1])
        traced_rate = m["run.rows_written"] / m.pop("trace.run_s")
        m["trace.overhead_share"] = 1 - traced_rate / untraced_rate
        self.metrics.update(m)
        self.kernel_trace([(d.url, make_pdf_for_doc(d.doc_id, d.text))
                           for d in docs], expected)


# ---------------------------------------------------------------- report

def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(run: Run, spec: dict, proc: dict) -> dict:
    """The result object: the metrics of BENCHMARK.json for this mode."""
    ex = run.exact
    attempted = sum(e.rows for e in ex)
    exact = sum(e.exact for e in ex) / max(1, sum(e.expected for e in ex))
    ok = sum(e.ok_rows for e in ex) / max(1, attempted)
    failed = sum(e.failures for e in ex)
    m = dict(run.metrics, setup_s=run.setup_s(), ok_share=ok,
             exact_share=exact)
    for part in ("driver", "jvm", "workers"):
        m[f"proc.peak_rss_mb.{part}"] = proc[f"peak_rss_mb.{part}"]
    marks = proc["marks"]
    if run.timed_regions:
        timed = marks[-run.timed_regions:]
        m["peak_rss_mb"] = statistics.median(r["peak_rss_mb"] for r in timed)
        m["proc.cpu_s"] = marks[-1]["cpu_s"] - marks[0]["cpu_s"]
    else:
        m["peak_rss_mb"] = proc["peak_rss_mb"]
        m["proc.cpu_s"] = proc["cpu_s"]
    wanted = spec["per_layer"] if run.args.trace else spec["end_to_end"]
    out = {}
    for metric in wanted:
        # a layer the workload does not run did no work: zero
        out[metric["name"]] = {"value": m.get(metric["name"], 0),
                               "unit": metric["unit"]}
    run.diag["other_metrics"] = {k: v for k, v in m.items()
                                 if k not in out}
    firsts = [e.first_mismatch for e in ex if e.first_mismatch]
    run.diag["first_mismatch"] = firsts[0] if firsts else None
    return {"correct": bool(ex) and all(e.correct for e in ex),
            "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    import pdfio_spark  # noqa: F401  (fail fast without the program)

    t_start = time.perf_counter()
    ws = Workspace(args.workload, args.seed, args.trace)
    mon = ProcMonitor()
    run = Run(args, ws, mon)
    try:
        getattr(run, args.workload)()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        proc = mon.stop()
        ws.cleanup()
    result = report(run, spec, proc)
    run.diag["proc"] = proc
    run.diag["run_s"] = time.perf_counter() - t_start
    with open(ws.result_path(".json"), "w") as f:
        json.dump({"result": result, "diagnostics": run.diag}, f, indent=1)
    if run.tracer is not None:
        run.tracer.dump(ws.result_path("-spans.json"))
    print("diagnostics: " + json.dumps(
        {k: v for k, v in run.diag.items()
         if k not in ("other_metrics", "call_s")}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
