"""Seeded corpus builders for the three benchmark workloads.

Every corpus starts from ``jsonld_spark.sources.pages.generate_pages``;
the shaping below (bulky padding, recrawl duplicates, alias chains) is
the benchmark's own.  The same (workload, seed, size) always gives the
same bytes, and a built corpus is cached on disk under that key.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil

from jsonld_spark.sources.pages import FIXTURE_CTX_PRODUCT, generate_pages

# Generator pages per workload.  The extract corpora are sized so one
# timed pass takes one to two seconds at local[4], so several passes fit
# in a run.  A build_linked pass is mostly per-job overhead (dedup, the
# connected-components rounds, write, lineage) and takes several seconds
# at any small size.
SIZES = {"extract_stock": 20_000, "extract_bulky": 8_000, "build_linked": 3_000}
# Input files (one scan split each).  The extract passes get several
# tasks per core, so a core slowed by other tenants holds up only a small
# share of a pass; run() pays per-task overhead in every stage of its many
# jobs, so build_linked gets one file per core.
FILES = {"extract_stock": 16, "extract_bulky": 16, "build_linked": 4}

BULKY_SCRIPTLESS_FRAC = 0.7
BULKY_PAD_BYTES = 30_000
RECRAWL_FRAC = 0.2
ALIAS_CHAINS_PER_1K = 8
ALIAS_MAX_CHAIN = 8

_WORDS = (
    "home about contact products services news blog careers privacy terms "
    "support help account login search cart checkout shipping returns faq "
    "store locations press partners investors community events gallery"
).split()


def _boilerplate_blocks(rng: random.Random, n: int = 64) -> list[str]:
    """Crawl-shaped markup fragments of about 1 KB: navigation, link
    lists and prose.  They hold no ``<script>``, comment or ``<base>``,
    so padding a page with them leaves its extracted rows unchanged."""
    blocks = []
    for b in range(n):
        links = "".join(
            f'<li class="nav-item"><a href="/{w}/{rng.randrange(1000)}" '
            f'title="{w}">{w.title()}</a></li>'
            for w in rng.sample(_WORDS, 8)
        )
        prose = " ".join(rng.choice(_WORDS) for _ in range(40))
        blocks.append(
            f'<div class="section s{b}"><ul class="menu">{links}</ul>'
            f'<p class="copy">{prose}.</p></div>'
        )
    return blocks


def _pad(html: bytes, rng: random.Random, blocks: list[str]) -> bytes:
    parts = []
    size = 0
    while size < BULKY_PAD_BYTES:
        blk = blocks[rng.randrange(len(blocks))]
        parts.append(blk)
        size += len(blk)
    head, sep, tail = html.rpartition(b"</body>")
    return head + "".join(parts).encode() + sep + tail


def _alias_page(i: int, k: int, prev_ent: str, ts: datetime.datetime):
    ent = f"https://alias.example.org/chain{i}/entity/{k}"
    url = f"https://alias.example.org/chain{i}/page/{k}"
    body = json.dumps(
        {
            "@context": FIXTURE_CTX_PRODUCT,
            "@id": ent,
            "@type": "Product",
            "name": f"Alias {i}.{k}",
            "sameAs": prev_ent,
        }
    )
    html = (
        f"<!DOCTYPE html><html><head><title>Alias {i}.{k}</title>"
        f'<script type="application/ld+json">{body}</script>'
        f"</head><body><p>Alias page {i}.{k}</p></body></html>"
    ).encode()
    return url, ts, html, f"Alias page {i}.{k}", "en"


def build_rows(workload: str, seed: int, n_pages: int) -> list[tuple]:
    """Page tuples ``(url, warc_ts, html, text, lang)`` for a workload."""
    if workload == "extract_stock":
        return list(generate_pages(n_pages, seed))
    rng = random.Random(f"perfbench:{workload}:{seed}")
    if workload == "extract_bulky":
        blocks = _boilerplate_blocks(rng)
        rows = []
        for url, ts, html, text, lang in generate_pages(
            n_pages, seed, scriptless_frac=BULKY_SCRIPTLESS_FRAC
        ):
            if b"ld+json" in html:
                html = _pad(html, rng, blocks)
            rows.append((url, ts, html, text, lang))
        return rows
    if workload == "build_linked":
        rows = list(generate_pages(n_pages, seed))
        # recrawls: same html at a later warc_ts, half under the same url
        # and half under a mirror url
        for j in sorted(rng.sample(range(n_pages), int(n_pages * RECRAWL_FRAC))):
            url, ts, html, text, lang = rows[j]
            later = ts + datetime.timedelta(days=1 + rng.randrange(30))
            if rng.random() < 0.5:
                url = f"https://mirror{rng.randrange(10)}.example.net/copy/{j}"
            rows.append((url, later, html, text, lang))
        # alias chains: each page's entity is sameAs the previous link's
        # entity; the first link points at a stock page's entity, so
        # connected components needs several rounds to converge
        n_chains = max(1, n_pages * ALIAS_CHAINS_PER_1K // 1000)
        ts = datetime.datetime(2024, 6, 1)
        for c in range(n_chains):
            root = rows[rng.randrange(n_pages)][0].replace("/page/", "/entity/")
            prev = root
            for k in range(rng.randint(2, ALIAS_MAX_CHAIN)):
                page = _alias_page(c, k, prev, ts)
                rows.append(page)
                prev = page[0].replace("/page/", "/entity/")
        rng.shuffle(rows)
        return rows
    raise ValueError(f"unknown workload: {workload}")


def _table(rows: list[tuple]):
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * 5
    return pa.table(
        {
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(cols[3], pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        }
    )


def write_corpus(path: str, rows: list[tuple], n_files: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        pq.write_table(
            _table(chunk), os.path.join(path, f"part-{f:05d}.parquet")
        )
    meta = {
        "pages": len(rows),
        "files": n_files,
        "pages_scripted": sum(b"ld+json" in r[2] for r in rows),
    }
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump(meta, fh)


def ensure_corpus(cache_dir: str, workload: str, seed: int, n_pages: int | None = None):
    """Path and metadata of the cached corpus, built first if missing.

    The corpus is written under a temporary name and renamed into place,
    so an interrupted build is never mistaken for a complete one."""
    n_pages = n_pages or SIZES[workload]
    n_files = FILES[workload]
    path = os.path.join(cache_dir, f"{workload}-s{seed}-n{n_pages}-f{n_files}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus(tmp, build_rows(workload, seed, n_pages), n_files)
        try:
            os.rename(tmp, path)
        except OSError:  # another process finished the same corpus first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(path, "_meta.json")) as fh:
        return path, json.load(fh)
