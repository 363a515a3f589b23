"""The `pdfcore` layer measured from outside: one process walks a sample
of documents through the public functions in `extract._run_page_text`
order and times each phase; a spawn pool gives the coordination-free
multiprocessing ceiling (the `bench._mp_ceiling` shape) and the
reference text hashes the Spark outputs are checked against."""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import time


def phase_pass(docs: list[bytes], spans, trace_prefix: str) -> dict:
    """Per-phase times and counts over docs, single process, as
    {metric: (value, unit)}; one trace id per document. Annotation appearance
    streams (which `_run_page_text` runs after the page content) are not
    run here: the bench docs have none."""
    from delphi_pdf_parser_spark.pdfcore import lexer as lx
    from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
    from delphi_pdf_parser_spark.pdfcore.interp import CSI, IDENTITY, run_buffer
    from delphi_pdf_parser_spark.pdfcore.pages import count_pages, load_page, load_page_tree
    from delphi_pdf_parser_spark.pdfcore.textdev import TextDevice

    clock = time.perf_counter
    acc = dict(open=0.0, page_load=0.0, lex=0.0, interp=0.0, textdev=0.0)
    pages = tokens = failed = repaired = decode_failures = 0
    for d, data in enumerate(docs):
        trace = f"{trace_prefix}doc{d}"
        w0 = time.time()
        t0 = clock()
        try:
            doc = PdfDocument(data)
            load_page_tree(doc)
            npages = count_pages(doc)
        except Exception:  # noqa: BLE001 - a failed open is a counted outcome
            failed += 1
            continue
        t1 = clock()
        acc["open"] += t1 - t0
        root = spans.add(trace, "pdfcore", "document", w0, w0, bytes=len(data))
        spans.add(trace, "pdfcore", "open", w0, w0 + (t1 - t0), root)
        font_cache: dict = {}
        for i in range(npages):
            marks = [clock()]
            try:
                page = load_page(doc, i)
                marks.append(clock())
                lex = lx.ContentTokens(lx.Lexer(page.contents))
                while lex.lex()[0] != lx.TOK_EOF:
                    tokens += 1
                marks.append(clock())
                dev = TextDevice()
                csi = CSI(doc, dev, IDENTITY)
                csi.font_cache = font_cache
                run_buffer(csi, page.resources, page.contents)
                csi.flush_text()
                marks.append(clock())
                dev.close()
                dev.to_text()
                marks.append(clock())
            except Exception:  # noqa: BLE001 - extract counts a page error too
                decode_failures += 1
                continue
            for name, a, b in zip(("page_load", "lex", "interp", "textdev"), marks, marks[1:]):
                acc[name] += b - a
                spans.add(trace, "pdfcore", name, w0 + (a - t0), w0 + (b - t0), root, page=i)
            pages += 1
        spans.spans[root - 1]["end"] = w0 + (clock() - t0)
        repaired += bool(doc.repaired)
        decode_failures += sum(v for k, v in doc.failures.items() if k != "repaired")
    per_page = 1e3 / max(pages, 1)
    return {
        "pdfcore.open_ms_per_doc": (acc["open"] * 1e3 / max(len(docs) - failed, 1), "ms"),
        "pdfcore.page_load_ms_per_page": (acc["page_load"] * per_page, "ms"),
        "pdfcore.lex_ms_per_page": (acc["lex"] * per_page, "ms"),
        "pdfcore.interp_ms_per_page": (acc["interp"] * per_page, "ms"),
        "pdfcore.textdev_ms_per_page": (acc["textdev"] * per_page, "ms"),
        "pdfcore.tokens_per_page": (tokens / max(pages, 1), "count"),
        "pdfcore.failed_docs": (failed, "count"),
        "pdfcore.repaired_docs": (repaired, "count"),
        "pdfcore.decode_failures": (decode_failures, "count"),
    }


def one_process_rate(docs: list[bytes]) -> float:
    """docs/s of plain extract_text in this process, no instrumentation."""
    t0 = time.perf_counter()
    _extract_count(docs)
    return len(docs) / (time.perf_counter() - t0)


def _extract_count(docs: list[bytes]) -> int:
    from delphi_pdf_parser_spark.pdfcore import extract_text

    for data in docs:
        extract_text(data)
    return len(docs)


def _text_sha(data: bytes) -> str:
    from delphi_pdf_parser_spark.pdfcore import extract_text

    return hashlib.sha256(extract_text(data).text.encode("utf-8")).hexdigest()


def _pool(procs: int):
    return mp.get_context("spawn").Pool(procs)


def mp_ceiling(docs: list[bytes], procs: int) -> float:
    """docs/s of plain extract_text over `procs` spawn workers, one
    contiguous slice each, timed after the workers have imported pdfcore."""
    step = len(docs) // procs
    chunks = [docs[i * step : (i + 1) * step] for i in range(procs)]
    pool = _pool(procs)
    try:
        pool.map(_extract_count, [docs[:1]] * procs)  # import + warm
        t0 = time.perf_counter()
        n = sum(pool.map(_extract_count, chunks))
        return n / (time.perf_counter() - t0)
    finally:
        pool.close()
        pool.join()


def reference_shas(docs: list[bytes], procs: int) -> list[str]:
    """SHA-256 of single-process extract_text(doc).text, doc by doc."""
    pool = _pool(procs)
    try:
        return pool.map(_text_sha, docs, chunksize=max(1, len(docs) // (procs * 8)))
    finally:
        pool.close()
        pool.join()
