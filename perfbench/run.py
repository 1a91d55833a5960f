"""Repository benchmark: seeded workloads through the public API.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run

1. builds (or reuses from ``.perfbench/corpora``) the workload's corpus for
   the seed, with its reference digests and corpus card;
2. starts a ``local[k]`` Spark session (k = min(4, usable cores)) and warms
   its Python workers, then restarts the session three times in the same
   JVM (``setup_s`` is the median restart) and runs one untimed job over
   the first ``WARM_DOCS`` documents;
3. runs the workload's job in a closed loop (one job at a time) until the
   jobs have taken ``--seconds`` seconds, checking every job's output;
4. with ``--trace 1``, also runs the layer ledger (prefix jobs, a traced
   job, for ``pdf_reports`` the docmeta and crawl suite parts one by one,
   direct kernel calls) with spans, writes the spans and prints the
   per-layer self-time table.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` untraced, its ``per_layer`` metrics traced, with the
units declared there. Results, corpus cards, host-noise records and traces
land in ``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_RESTARTS = 3
# The untimed warm job covers this many documents (all of a smaller
# corpus). A smaller warm job left pdf_reports' timed jobs on the JVM's
# warm-up curve and spread its docs_per_s three times wider from run to run;
# a larger one adds run time that the benchmark's time budget lacks.
WARM_DOCS = 800


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("html_crawl", "pdf_reports"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the workload's standard size)")
    return ap.parse_args(argv)


def warm_up_pages(n: int):
    """A fixed, seed-independent ``(url, html)`` table of ``n`` small HTML
    pages and PDFs."""
    import pyarrow as pa

    from pdf_extraction_spark.corpus import render_article
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    words = "warm up page for the python workers " * 8
    html = render_article("Warm Up", [words] * 3, variant=1).encode("utf-8")
    pdf = build_pdf(words, title="Warm Up", compress=True)
    return pa.table({
        "url": [f"https://warm-{i}.example.com/{i}" for i in range(n)],
        "html": pa.array([html if i % 2 else pdf for i in range(n)], pa.binary()),
    })


class Run:
    def __init__(self, args, corpus: dict, env, tracer, cores: int) -> None:
        self.args, self.corpus, self.env, self.tracer, self.k = args, corpus, env, tracer, cores
        self.dir = corpus["dir"]
        self.pages = os.path.join(self.dir, "pages.parquet")
        self.out = os.path.join(STATE, "work", "sink")
        self.partitions = 2 * cores
        self.attempted = self.failed = 0

    def job(self, pages: str | None = None) -> None:
        """One job of the workload over ``pages`` (default: the run's
        corpus)."""
        import jobs

        jobs.run_extraction(self.env.spark, pages or self.pages, self.out, self.partitions,
                            jobs.WAVE_SIZE[self.args.workload])

    def warm_job(self) -> None:
        """One untimed job over the first ``WARM_DOCS`` documents, so that
        first-run JVM costs (JIT, generated code, worker imports) stay out
        of the timed jobs."""
        import pyarrow.parquet as pq

        warm = os.path.join(STATE, "work", "warm.parquet")
        pq.write_table(pq.read_table(self.pages).slice(0, WARM_DOCS), warm)
        self.job(warm)

    def check(self) -> int:
        """Count the documents of the last job and return those whose
        committed output differs from the reference digests."""
        import jobs

        ref = self.corpus["reference"]
        failed = jobs.check_sink(jobs.sink_records(self.out), ref)
        self.attempted += len(ref)
        self.failed += failed
        return failed

    def loop(self) -> list[dict]:
        import jobs
        import probes

        done: list[dict] = []
        measured = 0.0
        while measured < self.args.seconds or not done:
            probes.reset_peak_rss(probes.python_workers())
            cpu0 = probes.tree_cpu_s()
            t0 = time.perf_counter()
            self.job()
            wall = time.perf_counter() - t0
            cpu = probes.tree_cpu_s() - cpu0
            rss = probes.peak_rss_mb(probes.python_workers())
            done.append({"wall_s": wall, "cpu_s": cpu, "worker_rss_mb": rss,
                         "sink_bytes": jobs.sink_bytes(self.out), "failed": self.check()})
            measured += wall
        return done

    def execute(self) -> dict:
        # cold: JVM launch, session and worker warm-up; then three session
        # restarts in the same JVM, whose median is setup_s
        sample = warm_up_pages(2 * self.k)
        cold = self.env.setup(sample)
        restarts = [self.env.restart(sample) for _ in range(SETUP_RESTARTS)]
        t0 = time.perf_counter()
        self.warm_job()
        warm_job = time.perf_counter() - t0
        done = self.loop()
        n = self.corpus["card"]["docs"]
        med = {key: statistics.median(j[key] for j in done)
               for key in ("wall_s", "cpu_s", "worker_rss_mb", "sink_bytes")}
        result = {
            "setup": {"cold_s": cold, "restarts_s": restarts, "warm_job_s": warm_job},
            "jobs": done,
            "end_to_end": {
                "docs_per_s": n / med["wall_s"],
                "cpu_s_per_kdoc": med["cpu_s"] / n * 1000.0,
                "worker_rss_mb": med["worker_rss_mb"],
                "sink_bytes_per_doc": med["sink_bytes"] / n,
                "setup_s": statistics.median(restarts),
            },
        }
        if self.args.trace:
            result["layers"] = self.layers(med["wall_s"], cold)
        return result

    def layers(self, untraced_wall: float, cold: float) -> dict:
        """The traced ledger; returns the per-layer metrics and table rows."""
        import jobs

        spark, tr, ref = self.env.spark, self.tracer, self.corpus["reference"]
        led = jobs.ledger(spark, tr, self.pages, self.out, self.args.workload, self.partitions)
        self.check()
        parts = {"part_s": {}, "python_stages": led["python_stages"]}
        if os.path.exists(os.path.join(self.dir, "documents.parquet")):
            oracle = jobs.SuiteOracle(ROOT, self.dir)
            parts = jobs.suite_parts(spark, tr, self.dir, oracle)
            self.attempted += len(oracle.parts)
            self.failed += len(parts["failed"])
        card = self.corpus["card"]
        with tr.span("kernels"):
            kp = jobs.kernel_pass(tr, self.pages, ref, card["pdf_pages"]["total"])
        self.attempted += len(ref)
        self.failed += kp.pop("mismatched")
        dispatch_wall = kp.pop("kernels.dispatch.wall_s")
        t_extract = led["prefix_s"]["extract"]
        metrics = {
            "setup.cold_s": cold,
            "sources.scan_s": led["self_s"]["sources.scan_s"],
            "sources.scan_mb": jobs.scan_mb(self.pages),
            "pipeline.shuffle_s": led["self_s"]["pipeline.shuffle_s"],
            "pipeline.partition_skew": led["partition_skew"],
            "pipeline.python_floor_s": led["self_s"]["pipeline.python_floor_s"],
            "pipeline.extract_self_s": led["self_s"]["pipeline.extract_self_s"],
            "pipeline.parallel_efficiency": dispatch_wall / (self.k * t_extract),
            **kp,
            "lineage.write_s": led["self_s"]["lineage.write_s"],
            "lineage.bookkeeping_s": led["self_s"]["lineage.bookkeeping_s"],
            "lineage.waves": led["lineage.waves"],
            "lineage.files_written": led["lineage.files_written"],
            "lineage.sink_mb": led["lineage.sink_mb"],
            "operators.python_stages": parts["python_stages"],
            "operators.parts": len(parts["part_s"]),
            "check.failed_frac": self.failed / max(self.attempted, 1),
            "trace.overhead_frac": led["run_resumable_wall_s"] / untraced_wall - 1.0,
        }
        table = [(name, led["self_s"][name]) for name in led["self_s"]]
        table += sorted(parts["part_s"].items())
        table += [(name, secs) for name, secs in sorted(tr.self_times().items())
                  if name.startswith("kernels.")]
        return {"metrics": metrics, "table": table, "untraced_wall_s": untraced_wall,
                "ledger_wall_s": led["run_resumable_wall_s"], "prefix_s": led["prefix_s"]}


def print_table(layers: dict, workload: str) -> None:
    print(f"per-layer self time ({workload}):")
    for name, secs in layers["table"]:
        print(f"  {name:<58} {secs:10.4f} s")
    summed = ("sources", "pipeline", "lineage")
    total = sum(v for n, v in layers["table"] if n.split(".")[0] in summed)
    print(f"  {' + '.join(summed) + ' (traced)':<58} {total:10.4f} s")
    print(f"  {'untraced job wall (median)':<58} {layers['untraced_wall_s']:10.4f} s")
    print(f"  {'tracing overhead (traced/untraced job wall - 1)':<58} "
          f"{layers['metrics']['trace.overhead_frac']:10.4f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import pdf_extraction_spark.lineage  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import corpora
    import probes
    from sparkenv import SparkEnv
    from spans import Tracer

    cores = min(4, len(os.sched_getaffinity(0)))
    n_docs = args.docs or corpora.DEFAULT_DOCS[args.workload]
    cache = os.path.join(STATE, "corpora")
    runs = os.path.join(STATE, "runs")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    # before the corpus pool starts: SparkEnv points temp files into the checkout
    env = SparkEnv(ROOT, os.path.join(STATE, "work"), cores)
    t0 = time.perf_counter()
    corpus = corpora.load_or_build(cache, args.workload, args.seed, n_docs, cores)
    corpus_s = time.perf_counter() - t0

    run_id = uuid.uuid4().hex[:10]
    tracer = Tracer(args.workload, args.seed, run_id)
    noise = probes.HostNoise()
    t_run = time.perf_counter()
    try:
        run = Run(args, corpus, env, tracer, cores)
        result = run.execute()
    finally:
        t_close = time.perf_counter()
        env.close()
    host = noise.finish()
    phases = {"corpus_s": corpus_s, "run_s": t_close - t_run,
              "close_s": time.perf_counter() - t_close}

    stem = os.path.join(runs, f"{args.workload}-n{n_docs}-s{args.seed}")
    with open(stem + "-card.json", "w") as f:
        json.dump(corpus["card"], f, indent=1)
    record = {"workload": args.workload, "seed": args.seed, "run_id": run_id,
              "trace": args.trace, "cores": cores, "phases": phases,
              "host_noise": host, "attempted": run.attempted, "failed": run.failed,
              **result}
    with open(f"{stem}-t{args.trace}-{run_id}.json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(f"{stem}-{run_id}-trace.jsonl")
        print_table(result["layers"], args.workload)
        values, declared = result["layers"]["metrics"], spec["per_layer"]
    else:
        values, declared = result["end_to_end"], spec["end_to_end"]

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for name, m in metrics.items():
        print(f"{name:<34} {m['value']:>16.6g} {m['unit']}")
    print(f"card: {json.dumps(corpus['card'])}")
    print(f"host noise: {json.dumps(host)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
