"""Golden digests of the spine's output bytes.

``page_to_rows`` is the fused Python stage every pipeline path runs.
This test pins its current output over two deterministic corpora: the
stock generator and a 30%-scriptless mix, 2 000 pages each, malformed
and unresolvable-context scripts included.  For every ``(url,
script_index)`` the golden holds the sha256 of the sorted N-Quads lines
of that script's rows; error rows count as lines too, and their texts
are kept verbatim.

Goldens pin behaviour, not truth: they catch drift, not old bugs.  A
change that is meant to alter the emitted bytes regenerates them in the
same commit and says why:

    python tests/test_spine_goldens.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jsonld_spark import udfs  # noqa: E402
from jsonld_spark.context import ContextCache  # noqa: E402
from jsonld_spark.rdf_model import Quad, quad_to_nquads  # noqa: E402
from jsonld_spark.sources.pages import (  # noqa: E402
    build_context_cache_entries,
    generate_pages,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens", "spine_rows.json")
CORPORA = {
    "stock": dict(n_rows=2_000, seed=2024, scriptless_frac=0.0),
    "scriptless30": dict(n_rows=2_000, seed=2025, scriptless_frac=0.3),
}


def _line(row: tuple) -> str:
    url, s, p, o, is_lit, dt, lang, g, err = row
    if err is not None:
        return f"error\t{err}"
    return quad_to_nquads(Quad(s, p, o, is_lit, dt, lang, g))


def _script_rows(url: str, html: bytes, cache: ContextCache) -> dict[int, list]:
    """The page's rows split by script: each script runs through
    ``page_to_rows`` alone (the scanner narrowed to that one block), and
    the scripts' rows, concatenated, must equal the whole-page rows."""
    whole = udfs.page_to_rows(url, html, cache)
    real = udfs.extract_jsonld
    indices = [d.script_index for d in real(html, url)]
    per: dict[int, list] = {}
    for k, si in enumerate(indices):
        with mock.patch.object(udfs, "extract_jsonld", lambda h, u, _k=k: [real(h, u)[_k]]):
            per[si] = udfs.page_to_rows(url, html, cache)
    assert [r for si in indices for r in per[si]] == whole, url
    return per


def derive() -> dict:
    entries = build_context_cache_entries()
    out: dict = {}
    for name, spec in CORPORA.items():
        cache = ContextCache(entries, version="v1")
        digests: dict[str, str] = {}
        errors: dict[str, list[str]] = {}
        for url, _ts, html, _text, _lang in generate_pages(**spec):
            for si, rows in _script_rows(url, html, cache).items():
                key = f"{url}#{si}"
                lines = sorted(_line(r) for r in rows)
                digests[key] = hashlib.sha256("\n".join(lines).encode()).hexdigest()
                errs = [r[8] for r in rows if r[8] is not None]
                if errs:
                    errors[key] = errs
        out[name] = {**spec, "digests": digests, "errors": errors}
    return out


def test_spine_rows_match_goldens():
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = derive()
    assert set(got) == set(golden)
    for name in golden:
        g, d = golden[name], got[name]
        assert {k: g[k] for k in CORPORA[name]} == CORPORA[name]
        changed = sorted(
            k for k in g["digests"].keys() | d["digests"].keys()
            if g["digests"].get(k) != d["digests"].get(k)
        )
        assert not changed, f"{name}: {len(changed)} scripts drifted, first {changed[:5]}"
        assert d["errors"] == g["errors"], name


def test_goldens_cover_error_pages():
    """The pinned corpora exercise the error rows, not only clean scripts."""
    with open(GOLDEN) as f:
        golden = json.load(f)
    texts = [e for c in golden.values() for errs in c["errors"].values() for e in errs]
    assert any(e == "invalid script element" for e in texts)  # malformed JSON
    assert any("remote context" in e for e in texts)  # unresolvable context


if __name__ == "__main__":
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(derive(), f, indent=0, sort_keys=True)
        f.write("\n")
    print(GOLDEN)
