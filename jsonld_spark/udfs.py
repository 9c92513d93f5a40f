"""Arrow-batched UDFs: the JVM↔Python boundary of the engine.

One fused ``mapInPandas`` stage takes Common-Crawl-style page rows and
emits triple rows: extract ld+json scripts → parse → expand → node map →
emit quads → salt blank-node labels.  Each document crosses the Arrow
boundary exactly once (SURVEY.md §4 item 5); everything downstream of
this stage is relational (JVM-side, whole-stage codegen).

Blank-node identity at cluster scale: doc-local labels (``_:b0``…) are
rewritten to ``_:h<sha256(url ‖ script_index ‖ label)>`` inside the UDF.
Deterministic given the row, so re-running a partition after failure
produces identical triples — the idempotence the resume path relies on
(north rule).  Replaces the reference's global mutable namer
(/root/reference/lib/json/ld/utils.rb:283-309), which cannot exist
cluster-wide.
"""

from __future__ import annotations

import hashlib
import json
import re as _re
import sys
import zipimport
from typing import Iterator

from pyspark.sql import types as T

from .canon import canonicalize_quads
from .context import ContextCache
from .errors import JsonLdError
from .rdf_model import XSD_STRING, Quad
from .sources.html_jsonld import extract_jsonld
from .to_rdf import doc_to_quads

# Output schema of the fused page→triples stage.  ``error`` is NULL on
# triple rows; error rows carry NULL subj/pred/obj.
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("obj_is_literal", T.BooleanType(), True),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("graph", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]

# Per-executor cache singleton: rebuilding ContextCache from the
# broadcast dict once per python worker, not once per batch.  Keyed by
# (version, id(entries)) AND retaining the entries dict itself: a bare
# id() key goes stale when CPython reuses a garbage-collected dict's
# address for a different broadcast in a reused worker, silently
# expanding documents against the wrong contexts.
_CACHE_BY_KEY: dict[tuple, tuple[dict, ContextCache]] = {}


def _get_cache(entries: dict | None, version: str) -> ContextCache:
    if entries is None:
        return ContextCache()
    key = (version, id(entries))
    hit = _CACHE_BY_KEY.get(key)
    if hit is not None and hit[0] is entries:
        return hit[1]
    cache = ContextCache(entries, version=version)
    _CACHE_BY_KEY.clear()  # only ever one live broadcast per job
    _CACHE_BY_KEY[key] = (entries, cache)
    return cache


def salt_bnode(url: str, script_index: int, label: str) -> str:
    h = hashlib.sha256(f"{url}|{script_index}|{label}".encode()).hexdigest()
    return "_:h" + h[:24]


def _salt_quoted_term(url: str, script_index: int, term: str) -> str:
    """Salt bnode labels INSIDE an N-Triples-star quoted term so the
    labels referenced by an annotation triple match the salted global
    ids of the asserted triple.  Uses canon's escape-aware segment scan
    and full label charset — a regex lookbehind misreads a closing
    quote preceded by an ESCAPED backslash, and a narrower token regex
    would tokenize '_:x-1' as phantom '_:x' (see canon.py:47-78)."""
    from .canon import _map_quoted

    return _map_quoted(term, lambda b: salt_bnode(url, script_index, b))


def salt_quad_to_row(url: str, si: int, q: "Quad", salt) -> tuple:
    """One output row with doc-scoped bnode salting — the SINGLE
    definition of the salting rules; the batch UDF (page_to_rows) and
    the streaming reader both call this so batch/streaming parity
    cannot drift.  Schema convention: NULL obj_datatype + obj_is_literal
    ⇒ xsd:string (a validity bit instead of a 40-byte string per row
    through Arrow, shuffle and parquet)."""
    dt = None if q.obj_datatype == XSD_STRING else q.obj_datatype
    s = salt(q.subj) if q.subj.startswith("_:") else q.subj
    if s.startswith("<<"):
        s = _salt_quoted_term(url, si, s)
    p = salt(q.pred) if q.pred.startswith("_:") else q.pred
    o = (
        salt(q.obj)
        if (not q.obj_is_literal and q.obj.startswith("_:"))
        else q.obj
    )
    if not q.obj_is_literal and o.startswith("<<"):
        o = _salt_quoted_term(url, si, o)
    g = (
        salt(q.graph)
        if (q.graph is not None and q.graph.startswith("_:"))
        else q.graph
    )
    return (url, s, p, o, q.obj_is_literal, dt, q.obj_lang, g, None)


def page_to_rows(
    url: str,
    html,
    cache: ContextCache,
    rdf_direction: str | None = None,
    max_quads_per_doc: int = 100_000,
    produce_generalized_rdf: bool = False,
    canonical_bnodes: bool = True,
    emit_warnings: bool = True,
    max_html_bytes: int = 64_000_000,
    rdfstar: bool = False,
) -> list[tuple]:
    """All triple/error rows for one page (pure Python — unit-testable
    without Spark).  Expansion warnings (dropped keys, malformed
    language tags) become ``warning:``-prefixed error rows alongside the
    page's triples — observability without suppressing output."""
    rows: list[tuple] = []
    if html is None:
        return rows
    n_bytes = len(html)
    if isinstance(html, str) and n_bytes > max_html_bytes // 4:
        # str input measures CHARS; a mostly-multibyte page could be up
        # to 4x the char count in bytes.  chars <= budget/4 provably
        # fits; only the gray zone pays an encode to measure exactly.
        n_bytes = len(html.encode("utf-8", "replace"))
    if n_bytes > max_html_bytes:
        # cheap pre-parse gate: a pathological multi-hundred-MB page would
        # otherwise be JSON-parsed wholesale inside the worker (the
        # max_quads_per_doc guard fires only AFTER the memory is spent)
        return [
            (url, None, None, None, None, None, None, None,
             f"document too large: {n_bytes} bytes > {max_html_bytes}")
        ]
    try:
        docs = extract_jsonld(html, url)
    except Exception as e:  # noqa: BLE001 — malformed page must not kill executor
        return [(url, None, None, None, None, None, None, None, f"extract: {e}")]
    for d in docs:
        if d.error:
            rows.append((url, None, None, None, None, None, None, None, d.error))
            continue
        try:
            doc = d.parsed if d.parsed is not None else json.loads(d.json_text)
            warnings: list = []
            quads = doc_to_quads(
                doc,
                base=d.base or url,
                cache=cache,
                rdf_direction=rdf_direction,
                produce_generalized_rdf=produce_generalized_rdf,
                warnings_out=warnings,
                rdfstar=rdfstar,
            )
        except JsonLdError as e:
            rows.append((url, None, None, None, None, None, None, None, e.code))
            continue
        except RecursionError:
            rows.append(
                (url, None, None, None, None, None, None, None, "recursion limit")
            )
            continue
        except Exception as e:  # noqa: BLE001
            rows.append((url, None, None, None, None, None, None, None, f"internal: {e}"))
            continue
        if len(quads) > max_quads_per_doc:
            rows.append(
                (url, None, None, None, None, None, None, None, "document too large")
            )
            continue
        if emit_warnings:
            for w in dict.fromkeys(warnings):  # dedup, keep order
                rows.append(
                    (url, None, None, None, None, None, None, None, f"warning: {w}")
                )
        if canonical_bnodes:
            # URDNA2015-style relabel: labels become a function of the
            # graph, not the JSON key order → the salted global ID of a
            # bnode is stable across re-serializations of the same content
            quads = canonicalize_quads(quads)
        si = d.script_index
        # one sha256 per DISTINCT label per doc, not per occurrence — a
        # bnode typically appears in several quads
        salted: dict[str, str] = {}

        def _salt(label: str, _u=url, _si=si, _m=salted) -> str:
            s = _m.get(label)
            if s is None:
                s = salt_bnode(_u, _si, label)
                _m[label] = s
            return s

        for q in quads:
            rows.append(salt_quad_to_row(url, si, q, _salt))
    return rows


def _drop_zip_finders() -> None:
    """Forget cached zip finders (pyspark.zip, the spark-core jar).  A
    reused worker calls ``importlib.invalidate_caches()`` before every
    task, which on CPython 3.10-3.12 re-reads each cached zipimporter's
    whole archive directory (~0.2 s a task on a 4-core VM, Spark
    4.1.2).  Loaded modules keep their loaders; a later import rebuilds
    its finder from zipimport's directory cache without re-reading the
    archive."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def make_pages_to_triples(
    cache_bc,
    cache_version: str = "v0",
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    canonical_bnodes: bool = True,
    max_html_bytes: int = 64_000_000,
    rdfstar: bool = False,
):
    """Build the mapInPandas function.  ``cache_bc`` is a Spark broadcast
    of the raw context-cache dict (url → context JSON)."""
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        _drop_zip_finders()
        entries = cache_bc.value if cache_bc is not None else None
        cache = _get_cache(entries, cache_version)
        for pdf in batches:
            out: list[tuple] = []
            urls = pdf["url"].to_numpy()
            htmls = pdf["html"].to_numpy()
            for url, html in zip(urls, htmls):
                out.extend(
                    page_to_rows(
                        url,
                        html,
                        cache,
                        rdf_direction,
                        produce_generalized_rdf=produce_generalized_rdf,
                        canonical_bnodes=canonical_bnodes,
                        max_html_bytes=max_html_bytes,
                        rdfstar=rdfstar,
                    )
                )
            yield pd.DataFrame(out, columns=TRIPLE_COLS)

    return fn


def rows_to_quads(rows) -> list[Quad]:
    """Triple rows (without url/error) back into Quad tuples — test helper.
    Restores the NULL-datatype ⇒ xsd:string convention."""
    return [
        Quad(
            r.subj,
            r.pred,
            r.obj,
            r.obj_is_literal,
            (r.obj_datatype if r.obj_datatype is not None else XSD_STRING)
            if r.obj_is_literal and r.obj_lang is None
            else r.obj_datatype,
            r.obj_lang,
            r.graph,
        )
        for r in rows
        if r.subj is not None
    ]
