"""In-process, single-threaded decomposition of ``udfs.page_to_rows``.

The public parts are called in ``page_to_rows`` order (extract_jsonld →
expand_document → expanded_to_quads → canonicalize_quads →
salt_quad_to_row) under a per-page parent span, and the composed rows
must equal ``page_to_rows`` on the same page.  ``page_to_rows`` itself
is timed over the same pages, so the sum of the parts' self times can
be checked against the whole.
"""

from __future__ import annotations

import time
from types import SimpleNamespace

from jsonld_spark import udfs
from jsonld_spark.canon import canonicalize_quads
from jsonld_spark.errors import JsonLdError
from jsonld_spark.expand import expand_document
from jsonld_spark.sources.html_jsonld import extract_jsonld
from jsonld_spark.to_rdf import expanded_to_quads

from spans import Spans

LAYERS = (
    "extract_jsonld",
    "expand_document",
    "expanded_to_quads",
    "canonicalize_quads",
    "salt_quad_to_row",
)

# page_to_rows' own defaults, restated for the composed path
MAX_QUADS_PER_DOC = 100_000


def _err(url, msg):
    return (url, None, None, None, None, None, None, None, msg)


def _has_bnode(quads) -> bool:
    return any(
        q.subj.startswith("_:")
        or (not q.obj_is_literal and q.obj.startswith("_:"))
        or (q.graph or "").startswith("_:")
        for q in quads
    )


def composed_rows(url, html, cache, spans: Spans, funnel: dict) -> list[tuple]:
    """``page_to_rows(url, html, cache)`` rebuilt from its public parts,
    each call under its own span.  Counts land in ``funnel``."""
    rows: list[tuple] = []
    with spans.span("page"):
        if html is None:
            return rows
        with spans.span("extract_jsonld"):
            docs = extract_jsonld(html, url)
        funnel["pages_scripted"] += bool(docs)
        funnel["scripts"] += len(docs)
        for d in docs:
            if d.error:
                rows.append(_err(url, d.error))
                continue
            warnings: list = []
            try:
                with spans.span("expand_document"):
                    expanded = expand_document(
                        d.parsed, base=d.base or url, cache=cache, warnings_out=warnings
                    )
                with spans.span("expanded_to_quads"):
                    quads = expanded_to_quads(expanded)
            except JsonLdError as e:
                rows.append(_err(url, e.code))
                continue
            if len(quads) > MAX_QUADS_PER_DOC:
                rows.append(_err(url, "document too large"))
                continue
            funnel["docs_ok"] += 1
            for w in dict.fromkeys(warnings):
                rows.append(_err(url, f"warning: {w}"))
            funnel["canon_docs"] += 1
            funnel["canon_useful"] += _has_bnode(quads)
            with spans.span("canonicalize_quads"):
                quads = canonicalize_quads(quads)
            si = d.script_index
            salted: dict[str, str] = {}

            def salt(label, _si=si, _m=salted):
                s = _m.get(label)
                if s is None:
                    s = _m[label] = udfs.salt_bnode(url, _si, label)
                return s

            with spans.span("salt_quad_to_row"):
                for q in quads:
                    rows.append(udfs.salt_quad_to_row(url, si, q, salt))
            funnel["quads"] += len(quads)
    return rows


def measure(pages, cache, entries, rounds: int = 3) -> tuple[dict, Spans]:
    """Per-layer numbers, as name -> (value, unit), over ``pages`` (a
    list of (url, html)), and the spans they came from.

    Raises AssertionError if a composed page differs from page_to_rows."""
    spans = Spans()
    whole_ns = 0
    funnel = dict.fromkeys(
        ("pages_scripted", "scripts", "docs_ok", "quads", "canon_docs", "canon_useful"), 0
    )
    # also warms the context cache before anything is timed
    expected = [udfs.page_to_rows(url, html, cache) for url, html in pages]
    for r in range(rounds):
        counts = dict.fromkeys(funnel, 0)
        for i, (url, html) in enumerate(pages):
            # whole and composed back to back on each page, the order
            # alternating, so cache warmth and machine drift fall on both
            for composed in ((False, True) if (i + r) % 2 else (True, False)):
                if composed:
                    got = composed_rows(url, html, cache, spans, counts)
                    if got != expected[i]:
                        raise AssertionError(
                            f"composed rows differ from page_to_rows on {url}"
                        )
                else:
                    t0 = time.perf_counter_ns()
                    udfs.page_to_rows(url, html, cache)
                    whole_ns += time.perf_counter_ns() - t0
        funnel = counts
    totals = spans.totals()
    n_pages = len(pages) * rounds
    parts_s = sum(totals.get(name, {}).get("self_s", 0.0) for name in LAYERS)
    whole_s = whole_ns / 1e9

    def per(name, denom):
        t = totals.get(name)
        return t["self_s"] * 1e6 / denom if t and denom else 0.0

    def per_call(name):
        t = totals.get(name)
        return per(name, t["calls"]) if t else 0.0

    error_rows = sum(1 for rows in expected for row in rows if row[8] is not None)
    warning_rows = sum(
        1 for rows in expected for row in rows if (row[8] or "").startswith("warning:")
    )
    us, frac, count = "us", "frac", "count"
    out = {
        "html_jsonld.extract_jsonld.us_per_page": (per("extract_jsonld", n_pages), us),
        "expand.expand_document.us_per_doc": (per_call("expand_document"), us),
        "to_rdf.expanded_to_quads.us_per_doc": (per_call("expanded_to_quads"), us),
        "canon.canonicalize_quads.us_per_doc": (per_call("canonicalize_quads"), us),
        "canon.useful_frac": (
            funnel["canon_useful"] / max(1, funnel["canon_docs"]), frac
        ),
        "udfs.salt_quad_to_row.us_per_quad": (
            per("salt_quad_to_row", funnel["quads"] * rounds), us
        ),
        "udfs.page_to_rows.us_per_page": (whole_s * 1e6 / n_pages, us),
        "udfs.page_to_rows.glue_frac": ((whole_s - parts_s) / whole_s, frac),
        "udfs.pages_per_s_1proc": (n_pages / whole_s, "1/s"),
        "udfs.batch.pandas_out_us_per_row": (pandas_out_us_per_row(pages, entries), us),
        "funnel.pages": (len(pages), count),
        "funnel.pages_scripted": (funnel["pages_scripted"], count),
        "funnel.scripts": (funnel["scripts"], count),
        "funnel.docs_ok": (funnel["docs_ok"], count),
        "funnel.quads": (funnel["quads"], count),
        "funnel.error_rows": (error_rows - warning_rows, count),
        "funnel.warning_rows": (warning_rows, count),
    }
    return out, spans


def pandas_out_us_per_row(pages, entries, batch_rows: int = 10_000) -> float:
    """Time of the ``make_pages_to_triples`` batch function minus its
    ``page_to_rows`` calls, per output row.  The batch function looks
    ``page_to_rows`` up in its module at call time, so a timing wrapper
    swapped in there sees every call."""
    import pandas as pd

    fn = udfs.make_pages_to_triples(SimpleNamespace(value=entries), "v1")
    batches = [
        pd.DataFrame(pages[i:i + batch_rows], columns=["url", "html"])
        for i in range(0, len(pages), batch_rows)
    ]
    orig = udfs.page_to_rows
    inner = [0]

    def timed(*args, **kwargs):
        t0 = time.perf_counter_ns()
        try:
            return orig(*args, **kwargs)
        finally:
            inner[0] += time.perf_counter_ns() - t0

    for _ in fn(iter(batches)):  # warm the batch function's own cache
        pass
    udfs.page_to_rows = timed
    try:
        t0 = time.perf_counter_ns()
        n_rows = sum(len(out) for out in fn(iter(batches)))
        total = time.perf_counter_ns() - t0
    finally:
        udfs.page_to_rows = orig
    return (total - inner[0]) / 1e3 / max(1, n_rows)
