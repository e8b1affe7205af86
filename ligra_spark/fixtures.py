"""Deterministic fixture generators (FIXTURES.md F1-F3).

Everything here is a pure function of (scale, page id) — no RNG state
is threaded between rows, so generation is order-independent and
reproducible shard-by-shard (the property a 10^12-row generator needs).

- `edge_fixture(scale)`       — rMat link graph (F2), Ligra-exact
  generator semantics (`ligra_spark.rmat`); `tiny` is
  `sample_graph_edges()`, an rMat multigraph generated with the shape
  of Ligra's ``rMatGraph_J_5_100`` sample (n=128, m=708, seed 5).
- `pages_table(n, src, dst)`  — Common-Crawl-style pages (F1) with
  (url, warc_ts, html, text, lang); `text` is byte-identical to
  `extract_text_py(html)` by construction.
- `skew_edges()`              — hub-stress graph (F3).

The HTML template and extractor spec (title + paragraphs + anchor
texts, newline-joined) are THE reference semantics for the byte-
identity invariant (BASELINE.json input_hint); `ligra_spark.extract`
implements the same extraction JVM-side with Spark regexes.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

from .hashing import hash_int32
from .rmat import make_symmetric, rmat_edges

__all__ = [
    "SCALES",
    "sample_graph_edges",
    "edge_fixture",
    "pages_rows",
    "skew_edges",
    "url_for",
    "make_html",
    "extract_text_py",
    "write_graph_fixture",
]

SCALES = {"tiny": 128, "small": 1 << 12, "bench": 1 << 17}
_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_VOCAB = (
    "graph vertex edge frontier rank label component triangle crawl web "
    "page link anchor spark shuffle partition join degree sparse dense "
    "push pull superstep converge iterate hash salt skew hub broadcast"
).split()

_LANGS = ["en", "de", "fr"]


def sample_graph_edges() -> tuple[int, np.ndarray, np.ndarray]:
    """The tiny directed sample graph: n=128, m=708 rMat edges, seed 5
    (duplicates and self-loops kept)."""
    return 128, *rmat_edges(128, 708, seed=5)


def edge_fixture(scale: str, seed: int = 1) -> tuple[int, np.ndarray, np.ndarray]:
    """Directed rMat edge multiset at a named scale (m = 10·n)."""
    n = SCALES[scale]
    src, dst = rmat_edges(n, 10 * n, seed=seed)
    return n, src, dst


def skew_edges(n: int = 1 << 14) -> tuple[int, np.ndarray, np.ndarray]:
    """F3 hub-stress graph: every even vertex links to hub 0, plus an
    rMat background of 5·n edges."""
    evens = np.arange(2, n, 2, dtype=np.int64)
    bs, bd = rmat_edges(n, 5 * n, seed=7)
    src = np.concatenate([evens, bs])
    dst = np.concatenate([np.zeros(evens.size, dtype=np.int64), bd])
    return n, src, dst


def url_for(ids: np.ndarray) -> np.ndarray:
    """url = https://host{id>>4:05d}.example/p/{id:06d} (16 pages/host)."""
    ids = np.asarray(ids, dtype=np.int64)
    return np.array(
        [f"https://host{int(i) >> 4:05d}.example/p/{int(i):06d}" for i in ids],
        dtype=object,
    )


def _words(page_id: int, para: int, count: int) -> str:
    base = np.uint32(page_id) * np.uint32(1000003) + np.uint32(para) * np.uint32(10007)
    with np.errstate(over="ignore"):
        hs = hash_int32(base + np.arange(count, dtype=np.uint32))
    return " ".join(_VOCAB[h % len(_VOCAB)] for h in hs.tolist())


def _paragraphs(page_id: int) -> list[str]:
    k = 1 + int(hash_int32(np.uint32(page_id) ^ np.uint32(0x9E3779B9))) % 3
    return [_words(page_id, j, 12 + (page_id + j) % 9) for j in range(k)]


def make_html(page_id: int, out_urls: list[str]) -> bytes:
    paras = _paragraphs(page_id)
    parts = [f"<html><head><title>Doc {page_id}</title></head><body>"]
    parts += [f"<p>{p}</p>" for p in paras]
    parts += [
        f'<a href="{u}">anchor {page_id}-{j}</a>' for j, u in enumerate(out_urls)
    ]
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def extract_text_py(html: bytes) -> str:
    """THE extractor spec (single-node reference): title, then each
    <p> body, then each <a> anchor text, '\\n'-joined.  The Spark
    extractor (`ligra_spark.extract.extract_text_col`) must be
    byte-identical to this per url."""
    import re

    s = html.decode("utf-8")
    title = re.findall(r"<title>(.*?)</title>", s)
    paras = re.findall(r"<p>(.*?)</p>", s)
    anchors = re.findall(r"<a href=\"[^\"]*\">(.*?)</a>", s)
    return "\n".join(title + paras + anchors)


def pages_rows(n: int, src: np.ndarray, dst: np.ndarray):
    """Yield pages-table rows (url, warc_ts, html, text, lang) for the
    graph (src, dst).  Out-links of page i appear in edge-multiset
    order (duplicates preserved — a page can link twice)."""
    order = np.argsort(src, kind="stable")
    s_sorted, d_sorted = src[order], dst[order]
    bounds = np.searchsorted(s_sorted, np.arange(n + 1, dtype=np.int64))
    urls = url_for(np.arange(n, dtype=np.int64))
    for i in range(n):
        outs = d_sorted[bounds[i] : bounds[i + 1]]
        out_urls = [urls[t] for t in outs.tolist()]
        html = make_html(i, out_urls)
        lang = "en" if (i % 100) < 97 else _LANGS[1 + (i % 2)]
        yield {
            "url": urls[i],
            "warc_ts": _EPOCH + _dt.timedelta(seconds=i),
            "html": html,
            "text": extract_text_py(html),
            "lang": lang,
        }


def write_graph_fixture(out_dir: str, scale: str = "tiny", with_pages: bool = True) -> dict:
    """Materialize a scale's fixture as parquet: edges_directed,
    edges_sym, and (optionally) pages.  Returns paths + sizes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    if scale == "tiny":
        n, src, dst = sample_graph_edges()
    else:
        n, src, dst = edge_fixture(scale)
    ssym, dsym = make_symmetric(src, dst)
    pq.write_table(
        pa.table({"src": src, "dst": dst}), f"{out_dir}/edges_directed.parquet"
    )
    pq.write_table(pa.table({"src": ssym, "dst": dsym}), f"{out_dir}/edges_sym.parquet")
    info = {
        "n": n,
        "m_directed": int(len(src)),
        "m_sym": int(len(ssym)),
        "dir": out_dir,
    }
    if with_pages:
        rows = list(pages_rows(n, src, dst))
        tbl = pa.table(
            {
                "url": [r["url"] for r in rows],
                "warc_ts": pa.array(
                    [r["warc_ts"] for r in rows], type=pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array([r["html"] for r in rows], type=pa.binary()),
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
            }
        )
        pq.write_table(tbl, f"{out_dir}/pages.parquet")
        info["pages"] = n
    return info
