"""Self-test of the benchmark (no timing assertions).

    python3 -m pytest perfbench/tests -q

Runs every workload of ``BENCHMARK.json`` at a tiny size, traced and
untraced, and checks the result line against the declared metrics; checks
that the output gates count a corrupted row.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
TINY_DOCS = {"html_crawl": 200, "pdf_reports": 40}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--docs", str(TINY_DOCS[workload])]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_declared_metric_is_emitted(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert NAME.match(m["name"])
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] == got["value"]


def _sink_with(tmp_path, payloads: dict[str, bytes]) -> str:
    """A one-file ``docs/`` sink holding the direct kernel output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.kernels.dispatch import extract_document

    rows = []
    for url, payload in payloads.items():
        r = extract_document(payload)
        rows.append({
            "url": url, "extracted_text": r["text"], "method": r["method"],
            "error": r["error"], "n_elements": r["n_elements"],
            "spans": [dict(zip(("elem_type", "page", "char_start", "char_end", "bbox",
                                "confidence", "hierarchy_level", "parent_id"), s))
                      for s in r["spans"]],
        })
    d = tmp_path / "out" / "docs" / "bucket=0"
    d.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), d / "part-0.parquet")
    return str(tmp_path / "out")


def test_extraction_gate_counts_one_corrupted_row(tmp_path):
    import corpora
    import jobs
    from pdf_extraction_spark.corpus import render_article
    from pdf_extraction_spark.kernels.dispatch import extract_document
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    payloads = {f"https://h{i}.example.com/{i}":
                render_article(f"Title {i}", [f"para {i} " * 20], variant=1 + i % 6).encode()
                for i in range(6)}
    payloads["https://h9.example.com/r.pdf"] = build_pdf("a small report", title="R")
    reference = {u: corpora.digest(corpora.record_of(extract_document(p)))
                 for u, p in payloads.items()}
    out = _sink_with(tmp_path, payloads)
    rows = jobs.sink_records(out)
    assert jobs.check_sink(rows, reference) == 0

    url, (text, spans, method, error) = rows[2]
    rows[2] = (url, (text + "!", spans, method, error))
    assert jobs.check_sink(rows, reference) == 1
    assert jobs.check_sink(rows[:-1], reference) == 2  # plus one missing document


def test_suite_gate_counts_one_corrupted_row(tmp_path):
    import corpora
    import jobs

    corpus = corpora.load_or_build(str(tmp_path), "pdf_reports", 3, 20, 2)
    oracle = jobs.SuiteOracle(ROOT, corpus["dir"])
    rows = [r for part in oracle.by_part.values() for r in part]
    parts = oracle.parts
    assert oracle.failed_parts(rows, parts) == []
    i = next(i for i, r in enumerate(rows) if r[2] is not None)
    rows[i] = rows[i][:2] + (rows[i][2] + "x",) + rows[i][3:]
    assert oracle.failed_parts(rows, parts) == [rows[i][0]]


@pytest.mark.xfail(strict=True, reason=(
    "known defect: the zero-copy Arrow path hands kernels signed-byte "
    "memoryviews, so a payload starting with a byte >= 0x80 raises and a "
    "gzip payload is not unwrapped"))
def test_zero_copy_signed_bytes_defect():
    import pyarrow as pa

    from pdf_extraction_spark.kernels.dispatch import extract_document
    from pdf_extraction_spark.pipeline import _iter_binary_views

    page = b"<html><body><p>hello world</p></body></html>"
    for payload in (b"\xef\xbb\xbf" + page, gzip.compress(page, mtime=0)):
        view = next(_iter_binary_views(pa.array([payload], pa.binary())))
        assert extract_document(view) == extract_document(payload)
