"""Correctness references, run after the timed region.

Extraction: every page is parsed again with ``extract_rows_for_page`` in
plain Python (spread over a process pool of nproc workers; each worker is
single-process, single-thread Python with no Spark), and the sink's
committed rows are compared with it as a multiset of full rows per url, plus
a byte-level check of ``extracted_text`` per url. Both sides are reduced to
per-url digests inside the pool, so the parent compares two dicts."""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import multiprocessing
import os

import pandas as pd
import pyarrow.parquet as pq

from maxx_spark.schema import CODE_UNITS

COLS = [f.name for f in CODE_UNITS.fields]
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def canon(v):
    """Hashable, representation-independent form of one cell value."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, pd.Timestamp):
        return int(v.value // 1000)
    if isinstance(v, dt.datetime):
        v = v if v.tzinfo else v.replace(tzinfo=dt.timezone.utc)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    raise TypeError(f"cannot canonicalize {type(v).__name__}")


def canon_row(row: dict) -> tuple:
    out = []
    for c in COLS:
        v = row[c]
        if c == "attributes" and isinstance(v, list):  # arrow map -> [(k, v)]
            v = dict(v)
        out.append(canon(v))
    return tuple(out)


def _digests(rows_by_url: dict[str, list[dict]]) -> dict[str, tuple[str, str, int]]:
    out = {}
    for url, rows in rows_by_url.items():
        full = sorted(repr(canon_row(r)) for r in rows)
        texts = sorted((r["extracted_text"] or "").encode("utf-8") for r in rows)
        out[url] = (
            hashlib.sha256("\n".join(full).encode("utf-8")).hexdigest(),
            hashlib.sha256(b"\0".join(texts)).hexdigest(),
            len(rows),
        )
    return out


def reference_digests(pages: list[tuple]) -> dict:
    from maxx_spark.extract import extract_rows_for_page

    by_url: dict[str, list[dict]] = {}
    for url, ts, html, text, _lang in pages:
        by_url.setdefault(url, []).extend(extract_rows_for_page(url, ts, html, text))
    return _digests(by_url)


def sink_digests(path: str) -> dict:
    by_url: dict[str, list[dict]] = {}
    for r in pq.read_table(path).to_pylist():
        by_url.setdefault(r["url"], []).append(r)
    return _digests(by_url)


def admitted(url: str, lang: str | None) -> bool:
    """The documented extraction prefilter (extract.matlab_pages): MATLAB
    pages by lang or extension, plus README.md folder docstrings."""
    return lang == "matlab" or url.endswith((".m", ".mlx", "/README.md", "/readme.md"))


def check_extraction(pages: list[tuple], sink_dir: str, committed: list[int], nproc: int) -> tuple[int, list[str]]:
    """Compare the committed rows of `sink_dir` with the reference for the
    MATLAB pages in `pages` (pages the prefilter drops must yield no rows).
    Returns (failed page count, a few failing urls)."""
    files = [
        f for b in committed for f in sorted(glob.glob(os.path.join(sink_dir, "data", f"batch_id={b}", "*.parquet")))
    ]
    pages = [p for p in pages if admitted(p[0], p[4])]
    chunks = [pages[k::nproc] for k in range(nproc)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(nproc) as pool:
        ref_parts = pool.map_async(reference_digests, chunks)
        got_parts = pool.map_async(sink_digests, files)
        ref = {u: d for part in ref_parts.get() for u, d in part.items() if d[2]}
        got: dict[str, tuple] = {}
        dup = set()
        for part in got_parts.get():
            for u, d in part.items():
                if u in got:  # one page's rows always come from one task
                    dup.add(u)
                got[u] = d
    bad = sorted(dup | {u for u in ref.keys() | got.keys() if ref.get(u) != got.get(u)})
    return len(bad), bad[:5]
