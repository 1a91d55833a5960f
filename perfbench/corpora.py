"""Seeded workload corpora, their reference digests and corpus cards.

Every corpus is a pure function of ``(workload, seed, n_docs)``. Size,
charset-lane, host and page-count mixes are *stratified*: the multiset of
those properties is fixed by ``n_docs`` and only their assignment to
documents (and the words inside them) depends on the seed. Two seeds
therefore give different documents with the same size profile, which keeps
throughput comparable from seed to seed.

A built corpus lives in ``<cache>/<workload>-n<n_docs>-s<seed>/``:

* ``pages.parquet`` - the page table ``(url, warc_ts, html, text, lang)``
  that ``sources.iceberg.read_pages`` scans;
* ``documents.parquet`` - ``pdf_reports`` only: a ``documents`` table with
  the schema of the repository's test tables, over which the traced run
  times the docmeta and crawl suite parts;
* ``reference.json`` - per url, the digest of ``(extracted_text, spans,
  method, error)`` from direct ``dispatch.extract_document`` calls;
* ``card.json`` - the corpus card.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import multiprocessing
import os
import random
import shutil
import statistics

WORKLOADS = ("html_crawl", "pdf_reports")
DEFAULT_DOCS = {"html_crawl": 4000, "pdf_reports": 400}
SUITE_DOCUMENTS = 500  # rows of pdf_reports' documents table
KEEP_CORPORA = 30  # most recently used corpora kept in the cache

_WORDS = (
    "data spark table scan filter join merge sort window batch stream row "
    "column key value hash group query order part line agg fast slow small "
    "big vector customer dup the a"
).split()
_KO_WORDS = "데이터 분석 추출 문서 표 그림 수식 제목 단락 목록".split()
_JA_WORDS = ("データ ぶんせき 抽出 ぶんしょ ひょう 図 すうしき だいもく "
             "だんらく もくろく").split()
# cp1252-only punctuation (em dash, euro) and a latin-1-safe phrase
_CP1252_PHRASE = "café crème — déjà vu € naïve ±façade"
_LATIN1_PHRASE = "café crème déjà vu naïve ±façade ©"
EPOCH = datetime.datetime(2025, 1, 1)

PDF_FONT_LANES = (
    ("simple", "Times-Roman"), ("simple", "Courier"), ("simple", "Helvetica"),
    ("type0", "Helvetica"), ("type0-ttf", "Helvetica"),
    ("differences", "Helvetica"), ("type1-builtin", "Helvetica"),
    ("type1c", "Helvetica"), ("type1c-otf", "Helvetica"),
)
# Binary rows start with a ZIP header (first byte below 0x80) and the corpus
# has no gzip-wrapped payloads: on the zero-copy Arrow path the pipeline
# hands kernels signed-byte memoryviews, so a payload whose first byte is
# 0x80 or above aborts the Spark task and a gzip payload is not unwrapped
# (tests/test_selftest.py::test_zero_copy_signed_bytes_defect).
BINARY_HEAD = b"PK\x03\x04"
LINES_PER_PAGE = 55  # pdf_write: (PAGE_H - 2*MARGIN) / LEADING + 1
CHARS_PER_WORD = 5.6  # mean word length of _WORDS plus the space


def stratified(n: int, quantile) -> list:
    """``n`` values at the mid-quantiles ``(i + 0.5) / n`` of a distribution."""
    return [quantile((i + 0.5) / n) for i in range(n)]


def pareto_quantile(lo: float, hi: float, alpha: float):
    """Quantile function of a Pareto(alpha) truncated to ``[lo, hi]``."""
    span = 1.0 - (lo / hi) ** alpha

    def q(u: float) -> float:
        return lo / (1.0 - u * span) ** (1.0 / alpha)

    return q


def fixed_counts(n: int, shares: dict) -> list:
    """A list of ``n`` labels, ``floor(n * share)`` of each label after the
    first; the first label takes the rest."""
    labels = list(shares)
    counts = {k: int(n * shares[k]) for k in labels[1:]}
    counts[labels[0]] = n - sum(counts.values())
    out = []
    for k in labels:
        out += [k] * counts[k]
    return out


def _words(rng: random.Random, n: int, lang: str) -> str:
    pool = _JA_WORDS if lang == "ja" else _KO_WORDS if lang == "ko" else _WORDS
    return " ".join(rng.choices(pool, k=n))


# -- per-document builders (run in a process pool; pure functions of args) ----


def _html_page(doc_seed: int, target_bytes: int, variant: int, lang: str, lane: str):
    from pdf_extraction_spark.corpus import render_article

    rng = random.Random(doc_seed)
    title = _words(rng, 4, lang).title()
    paras: list[str] = []
    size = 400
    while size < target_bytes or not paras:
        p = _words(rng, rng.randint(20, 60), lang)
        paras.append(p)
        size += len(p.encode("utf-8")) + 7
    if lane == "cp1252":
        paras.append(_CP1252_PHRASE)
    elif lane == "latin-1":
        paras.append(_LATIN1_PHRASE)
    html = render_article(title, paras, variant=variant)
    codec = {"utf-8": "utf-8", "cp1252": "cp1252", "latin-1": "latin-1",
             "cp949": "cp949", "euc-jp": "euc-jp",
             "iso-2022-jp": "iso-2022-jp"}.get(lane, "utf-8")
    try:
        payload = html.encode(codec)
    except UnicodeEncodeError:
        payload, lane = html.encode("utf-8"), "utf-8"
    return payload, " ".join([title] + paras), lane


def _pdf_doc(doc_seed: int, index: int, pages: int = 1):
    """A PDF of about ``pages`` full pages; ``index`` rotates the font lane
    and the structure options, and every 10th is cut in half (a typed row
    error, not a crash)."""
    from pdf_extraction_spark.kernels import pdf_write

    rng = random.Random(doc_seed)
    columns = 2 if index % 5 == 1 else 1
    width = pdf_write.COL_LINE_CHARS if columns == 2 else pdf_write.LINE_CHARS
    lines = pages * columns * LINES_PER_PAGE - 2
    n_words = max(8, int(lines * width / CHARS_PER_WORD))
    text = _words(rng, n_words, "en")
    title = _words(rng, 4, "en").title()
    if index % 10 == 9:
        return pdf_write.build_truncated_pdf(text), text, 1
    encoding, base_font = PDF_FONT_LANES[index % len(PDF_FONT_LANES)]
    kw = dict(
        columns=columns, title=title, encoding=encoding, base_font=base_font,
        compress=index % 3 != 0, xref_stream=index % 4 == 2,
        objstm=index % 4 == 3 and index % 3 != 0,
        encrypt="aes-128" if index % 7 == 3 else None,
        tj_kerning=index % 4 == 0,
        rotate=(0, 90, 180, 270)[index % 4] if index % 6 == 5 else 0,
        form_xobject=index % 8 == 6, split_runs=index % 9 == 4,
    )
    if index % 11 == 10:
        # table documents carry a single grid page and no body text
        rows = [["name", "value"]] + [[_words(rng, 2, "en"), str(rng.randint(1, 999))]
                                      for _ in range(rng.randint(3, 12))]
        return pdf_write.build_pdf("", table_rows=rows), "", 1
    lines = len(pdf_write.wrap_words(text, width)) + 2
    n_pages = math.ceil(lines / (LINES_PER_PAGE * columns))
    return pdf_write.build_pdf(text, **kw), text, n_pages


def _build_one(spec: tuple):
    kind = spec[0]
    if kind == "html":
        return _html_page(*spec[1:])
    if kind == "pdf":
        return _pdf_doc(*spec[1:])
    raise ValueError(kind)


def record_of(res: dict) -> tuple:
    """The compared output of one document, as a hashable tuple."""
    spans = tuple(
        (s[0], s[1], s[2], s[3], tuple(s[4]), s[5], s[6], s[7]) for s in res["spans"]
    )
    return (res["text"], spans, res["method"], res["error"])


def digest(record: tuple) -> str:
    return hashlib.sha256(repr(record).encode("utf-8")).hexdigest()[:32]


def _reference_one(payload):
    from pdf_extraction_spark.kernels.dispatch import extract_document

    res = extract_document(payload)
    return digest(record_of(res)), res["method"], res["error"] is not None


# -- corpus specs ---------------------------------------------------------------


def _zipf_hosts(n: int, hosts: list, heavy_share: float) -> list:
    """Host per doc: ``heavy_share`` on hosts[0], the rest Zipf over the pool."""
    rest = hosts[1:]
    weights = [1.0 / (r + 1) for r in range(len(rest))]
    shares = {hosts[0]: heavy_share}
    total = sum(weights)
    for h, w in zip(rest, weights):
        shares[h] = (1.0 - heavy_share) * w / total
    return fixed_counts(n, shares)


_LANG_CYCLE = ("en",) * 12 + ("de",) * 3 + ("ko",) * 3 + ("ja",) * 2


def _html_lane(h: int, lang: str, variant: int) -> str:
    """The synth_rows charset lanes, each on text it can encode (variant 5
    carries Hangul and variant 6 is a truncated page, so both stay UTF-8)."""
    if variant in (5, 6):
        return "utf-8"
    r = (h // 20) % 10
    if lang in ("en", "de"):
        return "cp1252" if r == 3 else "latin-1" if r == 7 else "utf-8"
    if lang == "ko":
        return "cp949" if r % 3 == 0 else "utf-8"
    return "euc-jp" if r % 2 == 0 else "iso-2022-jp" if r % 4 == 1 else "utf-8"


def _html_crawl_specs(n: int, seed: int):
    """Per-document properties are fixed by index; the seed picks the words,
    the document order and the host of each document."""
    from pdf_extraction_spark.corpus import HOSTS

    rng = random.Random(seed)
    kinds = fixed_counts(n, {"html": 0, "pdf": 0.01, "binary": 0.005, "null": 0.0025})
    n_html = kinds.count("html")
    sizes = stratified(n_html, pareto_quantile(1024, 300 * 1024, 1.1))
    rng.shuffle(kinds)
    hosts = _zipf_hosts(n, HOSTS, 0.30)
    rng.shuffle(hosts)
    specs, meta = [], []
    h = p = 0
    for i, kind in enumerate(kinds):
        url = f"https://{hosts[i]}/page/{i}"
        if kind == "html":
            lang, variant = _LANG_CYCLE[h % 20], 1 + (h % 6)
            specs.append(("html", rng.getrandbits(48), int(sizes[h]), variant, lang,
                          _html_lane(h, lang, variant)))
            meta.append({"url": url, "kind": kind, "lang": lang})
            h += 1
        elif kind == "pdf":
            specs.append(("pdf", rng.getrandbits(48), p))
            meta.append({"url": url, "kind": kind, "lang": "en"})
            p += 1
        else:
            specs.append(None)
            # binary rows open with a ZIP local-file header: see BINARY_HEAD
            payload = BINARY_HEAD + rng.randbytes(2044) if kind == "binary" else None
            meta.append({"url": url, "kind": kind, "lang": "en", "payload": payload})
    return specs, meta


def _documents(n: int, seed: int) -> list[dict]:
    """A ``documents`` table shaped like the repository's test tables."""
    rng = random.Random(seed)
    lengths = [int(x) for x in stratified(n, lambda u: 10 + 91 * u)]
    rng.shuffle(lengths)
    langs = fixed_counts(n, {"en": 0, "fr": 0.15, "es": 0.15, "zh": 0.15, "de": 0.15})
    rng.shuffle(langs)
    docs = []
    for i in range(n):
        text = _words(rng, lengths[i], "en")
        docs.append({"doc_id": i, "text": text, "lang": langs[i],
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return docs


def _pdf_reports_specs(n: int, seed: int):
    """PDFs of 1 to 30 pages on uniform hosts. The index fixes each
    document's page count (stratified, heavy-tailed) and, through
    ``_pdf_doc``, its font lane and structure options; the seed picks the
    words, the document order and the hosts."""
    from pdf_extraction_spark.corpus import HOSTS

    rng = random.Random(seed)
    pages = [round(x) for x in stratified(n, pareto_quantile(1, 30, 1.0))]
    order = list(range(n))
    rng.shuffle(order)
    hosts = fixed_counts(n, {h: 1.0 / len(HOSTS) for h in HOSTS})
    rng.shuffle(hosts)
    specs = [("pdf", rng.getrandbits(48), i, pages[i]) for i in order]
    meta = [{"url": f"https://{hosts[j]}/report/{j}.pdf", "kind": "pdf", "lang": "en"}
            for j in range(n)]
    return specs, meta


# -- build, cache, card -----------------------------------------------------------


def corpus_dir(cache: str, workload: str, seed: int, n_docs: int) -> str:
    return os.path.join(cache, f"{workload}-n{n_docs}-s{seed}")


def load_or_build(cache: str, workload: str, seed: int, n_docs: int, procs: int) -> dict:
    """Return the corpus description, building and caching it if needed."""
    d = corpus_dir(cache, workload, seed, n_docs)
    card_path = os.path.join(d, "card.json")
    if os.path.exists(card_path):
        os.utime(d)
        with open(card_path) as f:
            card = json.load(f)
        with open(os.path.join(d, "reference.json")) as f:
            ref = json.load(f)
        return {"dir": d, "card": card, "reference": ref}
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    card, ref = _build(tmp, workload, seed, n_docs, procs)
    with open(os.path.join(tmp, "reference.json"), "w") as f:
        json.dump(ref, f)
    with open(os.path.join(tmp, "card.json"), "w") as f:
        json.dump(card, f, indent=1)
    os.replace(tmp, d)
    _evict(cache)
    return {"dir": d, "card": card, "reference": ref}


def _evict(cache: str) -> None:
    entries = [os.path.join(cache, e) for e in os.listdir(cache)]
    entries = sorted((e for e in entries if os.path.isdir(e) and not e.endswith(".tmp")),
                     key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CORPORA:]:
        shutil.rmtree(e, ignore_errors=True)


def _in_pool(procs: int, todo: list, meta: list):
    """Build the documents, then their reference digests, in a spawn pool."""
    import gc
    from multiprocessing import resource_tracker

    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        built = pool.map(_build_one, [s for _, s in todo], chunksize=4)
        payloads = [m.get("payload") for m in meta]
        for (i, _), b in zip(todo, built):
            payloads[i] = b[0]
        refs = pool.map(_reference_one, payloads, chunksize=8)
    finally:
        pool.close()
        pool.join()
    # release the pool's semaphores, then end the tracker process that the
    # spawn context started for them
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return built, refs


def _build(out: str, workload: str, seed: int, n: int, procs: int):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = None
    if workload == "html_crawl":
        specs, meta = _html_crawl_specs(n, seed)
    elif workload == "pdf_reports":
        docs = _documents(SUITE_DOCUMENTS, seed)
        specs, meta = _pdf_reports_specs(n, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")

    todo = [(i, s) for i, s in enumerate(specs) if s is not None]
    built, refs = _in_pool(procs, todo, meta)
    for (i, _), (payload, text, extra) in zip(todo, built):
        meta[i]["payload"] = payload
        meta[i]["text"] = text
        if isinstance(extra, str):
            meta[i]["lane"] = extra
        elif extra is not None:
            meta[i]["pages"] = extra

    table = pa.table({
        "url": [m["url"] for m in meta],
        "warc_ts": pa.array([EPOCH + datetime.timedelta(minutes=i) for i in range(len(meta))],
                            pa.timestamp("us")),
        "html": pa.array([m.get("payload") for m in meta], pa.binary()),
        "text": [m.get("text", "") for m in meta],
        "lang": [m["lang"] for m in meta],
    })
    pq.write_table(table, os.path.join(out, "pages.parquet"), row_group_size=256)
    if docs is not None:
        pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ])), os.path.join(out, "documents.parquet"))

    ref = {m["url"]: r[0] for m, r in zip(meta, refs)}
    card = _card(workload, seed, meta, refs, docs)
    return card, ref


def percentile(values: list, q: float):
    """Nearest-rank ``q`` quantile (0 for no values)."""
    if not values:
        return 0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _card(workload: str, seed: int, meta: list, refs: list, docs) -> dict:
    import collections

    sizes = [len(m["payload"]) if m.get("payload") is not None else 0 for m in meta]
    hosts = collections.Counter(m["url"].split("/")[2] for m in meta)
    methods = collections.Counter(r[1] for r in refs)
    pages = [m["pages"] for m in meta if m.get("pages")]
    card = {
        "workload": workload, "seed": seed, "docs": len(meta),
        "payload_mb": round(sum(sizes) / 1e6, 3),
        "size_bytes": {"p50": percentile(sizes, 0.5), "p99": percentile(sizes, 0.99), "max": max(sizes)},
        "kinds": dict(collections.Counter(m["kind"] for m in meta)),
        "method_mix": dict(methods),
        "error_docs": sum(r[2] for r in refs),
        "charset_lanes": dict(collections.Counter(m["lane"] for m in meta if "lane" in m)),
        "hosts": len(hosts),
        "top_host_share": round(hosts.most_common(1)[0][1] / len(meta), 4),
        "pdf_pages": {
            "docs": len(pages), "total": sum(pages),
            "p50": percentile(pages, 0.5), "p99": percentile(pages, 0.99),
            "max": max(pages, default=0),
            "mean": round(statistics.fmean(pages), 3) if pages else 0.0,
        },
    }
    if docs is not None:
        card["documents"] = len(docs)
        card["document_words_p50"] = percentile([len(d["text"].split()) for d in docs], 0.5)
    return card
