"""The timed job of both workloads, its output checks, and the traced
layer ledger.

Every timed job runs ``lineage.run_resumable`` over the page table read
with ``sources.iceberg.read_pages``. The traced run of ``pdf_reports`` also
collects each part of ``suites.q_docmeta_suite`` and ``suites.q_crawl_suite``
as its own job and checks it against the DuckDB oracle.
"""

from __future__ import annotations

import importlib.util
import os
import re
import shutil
import statistics

from corpora import digest, percentile, record_of

N_BUCKETS = 16
SALT = 8
WAVE_SIZE = {"html_crawl": 8, "pdf_reports": None}
LEDGER_REPS = 3

# Spark physical-plan nodes that run Python code
_PY_NODE = re.compile(
    r"\b(MapInArrow|MapInPandas|PythonMapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|"
    r"WindowInPandas|ArrowWindowPython|PythonUDTF|ArrowEvalPythonUDTF)\b"
)


def python_stages(df) -> int:
    """Python exec nodes in the physical plan of ``df``."""
    return len(_PY_NODE.findall(df._jdf.queryExecution().executedPlan().toString()))


def files_under(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for d, _dirs, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return out


# -- extraction workloads -----------------------------------------------------------


def run_extraction(spark, pages: str, out: str, partitions: int,
                   wave_size: int | None = None) -> dict:
    from pdf_extraction_spark.lineage import run_resumable
    from pdf_extraction_spark.sources.iceberg import read_pages

    shutil.rmtree(out, ignore_errors=True)
    return run_resumable(read_pages(spark, pages), out, n_buckets=N_BUCKETS,
                         partitions=partitions, salt=SALT, wave_size=wave_size)


def sink_records(out: str) -> list[tuple]:
    """``(url, record)`` per committed row of ``<out>/docs``."""
    import pyarrow.parquet as pq

    rows = []
    for path in files_under(os.path.join(out, "docs")):
        t = pq.read_table(path, columns=["url", "extracted_text", "spans", "method", "error"])
        for r in t.to_pylist():
            spans = [(s["elem_type"], s["page"], s["char_start"], s["char_end"], s["bbox"],
                      s["confidence"], s["hierarchy_level"], s["parent_id"])
                     for s in r["spans"] or ()]
            rows.append((r["url"], record_of({"text": r["extracted_text"], "spans": spans,
                                               "method": r["method"], "error": r["error"]})))
    return rows


def check_sink(rows: list[tuple], reference: dict) -> int:
    """Documents whose committed output is missing, duplicated or differs
    from the reference digest."""
    seen: dict[str, int] = {}
    bad = 0
    for url, rec in rows:
        seen[url] = seen.get(url, 0) + 1
        if reference.get(url) != digest(rec):
            bad += 1
    bad += sum(1 for url in reference if url not in seen)
    bad += sum(c - 1 for c in seen.values() if c > 1)
    return min(bad, len(reference))


def sink_bytes(out: str) -> int:
    return sum(os.path.getsize(p) for p in files_under(os.path.join(out, "docs")))


# -- suite parts -----------------------------------------------------------------------


def _check_oracles(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class SuiteOracle:
    """DuckDB oracle rows of both suites over the corpus documents table,
    grouped by part, compared with ``tools/check_oracles.py`` helpers."""

    COLS = ["part", "k", "v_str", "v_num"]

    def __init__(self, root: str, corpus_dir: str) -> None:
        import duckdb

        from pdf_extraction_spark.operators import suites

        self.co = _check_oracles(root)
        self.parts = [p[0] for p in suites.DOCMETA_PARTS + suites.CRAWL_PARTS]
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(corpus_dir, 'documents.parquet')}')")
            rows = []
            for sql in (suites.SQL_DOCMETA_SUITE, suites.SQL_CRAWL_SUITE):
                rel = con.sql(sql)
                cols = list(rel.columns)
                rows += [tuple(r[cols.index(c)] for c in self.COLS) for r in rel.fetchall()]
        finally:
            con.close()
        self.by_part: dict = {}
        for r in rows:
            self.by_part.setdefault(r[0], []).append(r)

    def failed_parts(self, rows: list[tuple], parts: list[str]) -> list[str]:
        """Parts among ``parts`` whose Spark rows differ from the oracle."""
        got: dict = {p: [] for p in parts}
        for r in rows:
            got.setdefault(r[0], []).append(r)
        bad = []
        for p in parts:
            want = self.by_part.get(p, [])
            if self.co.attribute_parts(self.COLS, got[p], self.COLS, want):
                bad.append(p)
        bad += [p for p in got if p not in parts]
        return bad


# -- traced ledger -------------------------------------------------------------------------


def _noop_batches(batches):
    """The Python-worker floor: receive every batch, return only its keys."""
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_arrays([b.column("url"), b.column("bucket")],
                                         names=["url", "bucket"])


def ledger(spark, tracer, pages: str, out: str, workload: str, partitions: int) -> dict:
    """Nested prefix jobs through a ``noop`` sink, scan ⊂ shuffle ⊂ floor ⊂
    extract, then a traced ``run_resumable``; each layer's self time is the
    difference between neighbouring prefixes."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.lineage import bucket_col
    from pdf_extraction_spark.pipeline import extract_corpus
    from pdf_extraction_spark.sources.iceberg import read_pages

    with tracer.span("sources.read_pages"):
        tagged = read_pages(spark, pages).select("url", "html").withColumn(
            "bucket", bucket_col(N_BUCKETS))
    exprs = [F.col("bucket"), F.pmod(F.xxhash64(F.col("url")), F.lit(SALT))]
    shuffled = tagged.repartition(partitions, *exprs)
    prefixes = {
        "scan": tagged,
        "shuffle": shuffled,
        "floor": shuffled.mapInArrow(_noop_batches, schema="url string, bucket int"),
        "extract": extract_corpus(tagged, partitions=partitions, salt=SALT,
                                  keep_cols=("bucket",), partition_exprs=exprs),
    }
    walls: dict[str, list[float]] = {k: [] for k in prefixes}
    for _rep in range(LEDGER_REPS):
        for name, df in prefixes.items():
            with tracer.span(f"ledger.{name}") as s:
                df.write.format("noop").mode("overwrite").save()
            walls[name].append(s["end"] - s["start"])
    t = {k: statistics.median(v) for k, v in walls.items()}

    counts = [r["n"] for r in shuffled.groupBy(F.spark_partition_id().alias("p"))
              .agg(F.count("*").alias("n")).collect()]
    skew = max(counts) / (sum(counts) / partitions) if counts else 0.0

    with tracer.span("lineage.run_resumable") as s:
        summary = run_extraction(spark, pages, out, partitions, WAVE_SIZE[workload])
    wall = s["end"] - s["start"]
    extract_phase = summary["extract_phase_s"]
    sink = files_under(os.path.join(out, "docs"))
    return {
        "prefix_s": t,
        "run_resumable_wall_s": wall,
        "self_s": {
            "sources.scan_s": t["scan"],
            "pipeline.shuffle_s": t["shuffle"] - t["scan"],
            "pipeline.python_floor_s": t["floor"] - t["shuffle"],
            "pipeline.extract_self_s": t["extract"] - t["floor"],
            "lineage.write_s": extract_phase - t["extract"],
            "lineage.bookkeeping_s": wall - extract_phase,
        },
        "partition_skew": skew,
        "python_stages": python_stages(prefixes["extract"]),
        "lineage.waves": -(-summary["buckets_run"] // (WAVE_SIZE[workload] or N_BUCKETS)),
        "lineage.files_written": len(sink) + len(files_under(os.path.join(out, "_lineage"))),
        "lineage.sink_mb": sum(os.path.getsize(p) for p in sink) / 1e6,
    }


def scan_mb(pages: str) -> float:
    """Compressed bytes of the ``url`` and ``html`` column chunks the scan reads."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(pages).metadata
    total = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema in ("url", "html"):
                total += col.total_compressed_size
    return total / 1e6


def suite_parts(spark, tracer, corpus_dir: str, oracle: SuiteOracle) -> dict:
    """Each suite part as its own job, under a span; returns per-part
    seconds, failed parts and the Python stages of the suites' plans."""
    from pdf_extraction_spark.operators import suites

    times, failed, stages = {}, [], 0
    for suite, parts in (("docmeta", suites.DOCMETA_PARTS), ("crawl", suites.CRAWL_PARTS)):
        stages += python_stages(suites.make_suite(parts)(spark, corpus_dir))
        for part in parts:
            with tracer.span(f"operators.{suite}.{part[0]}") as s:
                rows = [tuple(r) for r in suites.make_suite([part])(spark, corpus_dir).collect()]
            times[f"operators.{suite}.{part[0]}_s"] = s["end"] - s["start"]
            failed += oracle.failed_parts(rows, [part[0]])
    return {"part_s": times, "failed": failed, "python_stages": stages}


# -- kernel pass ----------------------------------------------------------------------------


def kernel_pass(tracer, pages: str, reference: dict, pdf_pages: int) -> dict:
    """Direct single-process kernel calls over every payload, with spans
    around ``dispatch.extract_document`` and, nested in it,
    ``extract_html`` / ``extract_pdf`` / ``html_extract.decode_payload``."""
    import pyarrow.parquet as pq

    from pdf_extraction_spark.kernels import dispatch, html_extract

    table = pq.read_table(pages, columns=["url", "html"])
    urls, payloads = table.column("url").to_pylist(), table.column("html").to_pylist()
    saved = (dispatch.extract_html, dispatch.extract_pdf, html_extract.decode_payload)
    dispatch.extract_html = tracer.wrap(saved[0], "kernels.html_extract.extract_html")
    dispatch.extract_pdf = tracer.wrap(saved[1], "kernels.pdf_extract.extract_pdf")
    html_extract.decode_payload = tracer.wrap(saved[2], "kernels.html_extract.decode_payload")
    first = len(tracer.spans)
    methods: dict[str, int] = {}
    disp_ms, disp_cpu, errors, mismatched = [], 0.0, 0, 0
    try:
        for url, payload in zip(urls, payloads):
            with tracer.span("kernels.dispatch.extract_document", url=url) as s:
                res = dispatch.extract_document(payload)
            disp_ms.append((s["end"] - s["start"]) * 1e3)
            disp_cpu += s["cpu"]
            methods[res["method"]] = methods.get(res["method"], 0) + 1
            errors += res["error"] is not None
            mismatched += reference.get(url) != digest(record_of(res))
    finally:
        dispatch.extract_html, dispatch.extract_pdf, html_extract.decode_payload = saved

    spans = tracer.spans[first:]
    by_id = {s["id"]: s for s in spans}

    def calls(name):
        return [s for s in spans if s["name"] == name]

    html_calls = calls("kernels.html_extract.extract_html")
    pdf_calls = calls("kernels.pdf_extract.extract_pdf")
    url_bytes = {u: len(p) if p is not None else 0 for u, p in zip(urls, payloads)}

    def kind_metrics(kind, cs):
        ms = [(s["end"] - s["start"]) * 1e3 for s in cs]
        total_s = sum(ms) / 1e3
        nbytes = sum(url_bytes[by_id[s["parent"]]["url"]] for s in cs)
        return {
            f"kernels.{kind}.mb_per_s": nbytes / 1e6 / total_s if total_s else 0.0,
            f"kernels.{kind}.doc_ms_p50": percentile(ms, 0.50),
            f"kernels.{kind}.doc_ms_p99": percentile(ms, 0.99),
            f"kernels.{kind}.samples": len(ms),
        }, total_s

    html_m, _ = kind_metrics("html", html_calls)
    pdf_m, pdf_s = kind_metrics("pdf", pdf_calls)
    out = {
        "kernels.dispatch.cpu_s": disp_cpu,
        "kernels.dispatch.doc_ms_p50": percentile(disp_ms, 0.50),
        "kernels.dispatch.doc_ms_p99": percentile(disp_ms, 0.99),
        "kernels.dispatch.samples": len(disp_ms),
        "kernels.dispatch.wall_s": sum(disp_ms) / 1e3,
        **{f"kernels.docs.{m}": methods.get(m, 0) for m in ("html", "pdf", "binary", "empty")},
        "kernels.error_docs": errors,
        **html_m,
        "kernels.html.charset_s": sum(s["end"] - s["start"]
                                      for s in calls("kernels.html_extract.decode_payload")),
        **pdf_m,
        "kernels.pdf.pages_per_s": pdf_pages / pdf_s if pdf_s else 0.0,
        "mismatched": mismatched,
    }
    return out
