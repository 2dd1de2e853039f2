"""Seeded link-graph generator for the benchmark.

One seed gives one graph, written in two forms:

- ``pages.parquet``: a Common-Crawl-style pages table (url, warc_ts, html,
  text, lang) whose html anchors encode the graph. It is the input of the
  ``ingest`` workload.
- ``edges.parquet`` / ``vertices.parquet``: the same graph as the program's
  edge and vertex tables, so the rank and structure workloads never depend on
  the ingest code path.

The graph structure is drawn with vectorised numpy:

- three weakly connected components (75/20/5 %) plus isolated singleton pages;
  a random recursive backbone (each page links to a uniformly chosen earlier
  page of its component) keeps every component connected;
- power-law in-degree: the remaining links pick targets in proportion to a
  Pareto attractiveness;
- a heavy out-degree tail (Pareto), plus a few hub pages with more than 1000
  distinct out-links so the program's default hub salting runs;
- about 1 % dangling pages (no out-links);
- about 5 % external links (targets outside the crawl);
- duplicated links, so some edge weights are above 1.

Anchors are written in several spellings (upper-case scheme and host, default
port, fragment, relative path, single quotes) that canonicalise to the same
url, and pages carry ``#top`` / ``mailto:`` anchors that extraction skips.

The generated stats are stored in ``graph.json`` next to the tables.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
COMPONENT_SHARES = (0.75, 0.20, 0.05)
SINGLETON_SHARE = 0.004
DANGLING_SHARE = 0.006  # dangling pages inside components (singletons add to it)
EXTERNAL_SHARE = 0.05
DUPLICATE_SHARE = 0.04
HUB_COUNT = 3
HUB_OUT_DEGREE = (1050, 1300)
OUT_ALPHA = 1.6  # Pareto tail of the out-degree
IN_ALPHA = 1.5  # Pareto tail of the target attractiveness
MAX_OUT = 300
N_FILES = 4
_VOCAB = np.array(
    "link graph page crawl rank web node edge shuffle partition data query "
    "join scan batch the a and of to in for with fast slow".split()
)


def _distinct_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct positive int64 ids in random order (hash-like, as xxhash64
    ids are in the program)."""
    while True:
        cand = np.unique(rng.integers(1, 2**62, size=n + n // 8 + 16, dtype=np.int64))
        if cand.size >= n:
            return rng.permutation(cand)[:n]


def generate(n_pages: int, seed: int) -> dict:
    """Graph arrays for ``n_pages`` pages. Page ``j`` has url
    ``urls[j]`` and id ``ids[j]``; ``src``/``dst`` are in-corpus link page
    indices (duplicates kept, no self-links); ``ext_src`` lists pages that
    carry one external link each."""
    if n_pages < 50:
        raise ValueError("generate: n_pages must be at least 50")
    rng = np.random.default_rng(seed)
    n = n_pages
    n_single = max(2, round(SINGLETON_SHARE * n))
    n_comp_pages = n - n_single
    sizes = np.floor(np.array(COMPONENT_SHARES) * n_comp_pages).astype(np.int64)
    sizes[0] += n_comp_pages - sizes.sum()
    # `order` lays pages out component by component; position i of a
    # component is its i-th page in backbone order
    order = rng.permutation(n)
    comp_of_pos = np.repeat(np.arange(len(sizes)), sizes)
    comp_lo = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    pos = np.arange(n_comp_pages)
    rank_in_comp = pos - comp_lo[comp_of_pos]

    # dangling pages: never the first page of a component
    eligible = np.flatnonzero(rank_in_comp > 0)
    n_dang = max(1, round(DANGLING_SHARE * n))
    dangling_pos = rng.choice(eligible, size=n_dang, replace=False)
    is_dangling = np.zeros(n_comp_pages, dtype=bool)
    is_dangling[dangling_pos] = True
    # hubs: non-dangling pages of the largest component
    hub_pool = np.flatnonzero((comp_of_pos == 0) & ~is_dangling)
    n_hubs = HUB_COUNT if sizes[0] > 2 * HUB_OUT_DEGREE[1] else 0
    hub_pos = rng.choice(hub_pool, size=n_hubs, replace=False)

    # out-degree: Pareto tail, at least 1 (the backbone link)
    u = rng.random(n_comp_pages)
    deg = np.minimum(np.floor(2.0 * (1.0 - u) ** (-1.0 / OUT_ALPHA)), MAX_OUT).astype(
        np.int64
    ) - 1
    deg[is_dangling] = 0
    deg[hub_pos] = 0

    # backbone: position i > 0 links to a uniform earlier position
    has_bb = (rank_in_comp > 0) & ~is_dangling
    bb_src = pos[has_bb]
    bb_dst = comp_lo[comp_of_pos[bb_src]] + np.floor(
        rng.random(bb_src.size) * rank_in_comp[bb_src]
    ).astype(np.int64)

    # preferential links: target ∝ attractiveness, within the component
    attract = (1.0 - rng.random(n_comp_pages)) ** (-1.0 / IN_ALPHA)
    cw = np.concatenate([[0.0], np.cumsum(attract)])
    pf_src = np.repeat(pos, deg)
    c = comp_of_pos[pf_src]
    lo_w = cw[comp_lo[c]]
    hi_w = cw[comp_lo[c] + sizes[c]]
    pf_dst = np.searchsorted(cw, lo_w + rng.random(pf_src.size) * (hi_w - lo_w), "right") - 1
    pf_dst = np.clip(pf_dst, comp_lo[c], comp_lo[c] + sizes[c] - 1)

    # hubs: distinct uniform targets in their component
    hub_src, hub_dst = [], []
    for h in hub_pos:
        k = int(rng.integers(HUB_OUT_DEGREE[0], HUB_OUT_DEGREE[1] + 1))
        hub_src.append(np.full(k, h))
        hub_dst.append(rng.choice(sizes[0], size=k, replace=False) + comp_lo[0])

    # every dangling page gets one in-link from a non-dangling page of its
    # component (it has no backbone link of its own)
    d_src = np.empty(n_dang, dtype=np.int64)
    for i, p in enumerate(dangling_pos):
        cc = comp_of_pos[p]
        while True:
            q = comp_lo[cc] + int(rng.integers(0, sizes[cc]))
            if not is_dangling[q]:
                d_src[i] = q
                break

    src = np.concatenate([bb_src, pf_src, *hub_src, d_src])
    dst = np.concatenate([bb_dst, pf_dst, *hub_dst, dangling_pos])
    keep = src != dst
    src, dst = src[keep], dst[keep]
    # explicit duplicates of non-hub links
    dup = rng.random(src.size) < DUPLICATE_SHARE
    dup &= ~np.isin(src, hub_pos)
    src = np.concatenate([src, src[dup]])
    dst = np.concatenate([dst, dst[dup]])
    # external links from non-dangling pages
    senders = np.flatnonzero(~is_dangling)
    n_ext = round(EXTERNAL_SHARE / (1.0 - EXTERNAL_SHARE) * src.size)
    ext_src = rng.choice(senders, size=n_ext)

    # shuffle link order (document order of anchors within a page)
    perm = rng.permutation(src.size)
    src, dst = src[perm], dst[perm]

    # map positions → page index; singletons are the pages not in `order[:m]`
    page_of_pos = order[:n_comp_pages]
    n_domains = max(4, n // 200)
    domain = np.floor(n_domains * rng.random(n) ** 2.5).astype(np.int64)
    urls = np.array([f"https://site{d}.example/p{j}" for j, d in enumerate(domain)])
    return {
        "n_pages": n,
        "ids": _distinct_ids(rng, n),
        "urls": urls,
        "domain": domain,
        "src": page_of_pos[src],
        "dst": page_of_pos[dst],
        "ext_src": page_of_pos[ext_src],
        "spelling": rng.random(src.size),
        "ext_spelling": rng.integers(0, 10**6, size=n_ext),
        "words": rng.integers(0, _VOCAB.size, size=(n, 12)),
        "lang": rng.random(n),
        "component_sizes": sizes,
        "n_singletons": n_single,
    }


def edge_table(g: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(src id, dst id, weight) with duplicate links collapsed into weight,
    sorted by (src, dst)."""
    ids = g["ids"]
    key = np.stack([ids[g["src"]], ids[g["dst"]]], axis=1)
    uniq, counts = np.unique(key, axis=0, return_counts=True)
    return uniq[:, 0], uniq[:, 1], counts.astype(np.float64)


def _href(url: str, page_path: str, s: float, domain_same: bool) -> str:
    """One anchor spelling of a canonical url; every spelling canonicalises
    back to ``url``."""
    if s < 0.06:
        scheme, rest = url.split("://", 1)
        host, path = rest.split("/", 1)
        return f'"{scheme.upper()}://{host.upper()}/{path}"'
    if s < 0.10:
        host_end = url.index("/", 8)
        return f'"{url[:host_end]}:443{url[host_end:]}"'
    if s < 0.14:
        return f'"{url}#s{int(s * 1000)}"'
    if s < 0.20 and domain_same:
        return f'"{page_path}"'
    if s < 0.25:
        return f"'{url}'"
    return f'"{url}"'


def pages_frame(g: dict) -> pd.DataFrame:
    n = g["n_pages"]
    urls, domain = g["urls"], g["domain"]
    anchors: list[list[str]] = [[] for _ in range(n)]
    for s, d, sp in zip(g["src"].tolist(), g["dst"].tolist(), g["spelling"].tolist()):
        href = _href(urls[d], f"/p{d}", sp, domain[s] == domain[d])
        anchors[s].append(f"<a href={href}>to {d}</a>")
    for s, k in zip(g["ext_src"].tolist(), g["ext_spelling"].tolist()):
        anchors[s].append(f'<a class="x" href="https://ext{k % 97}.example/x{k}">out</a>')
    html, text = [], []
    for j in range(n):
        words = " ".join(_VOCAB[g["words"][j]])
        extra = '<a href="#top">top</a> <a href="mailto:w@site.example">mail</a>' if j % 5 == 0 else ""
        html.append(
            (
                f"<html><head><title>Page {j}</title><style>p {{color: black}}</style>"
                f"</head><body><p>{words}</p>\n" + "\n".join(anchors[j]) + extra
                + "</body></html>"
            ).encode()
        )
        text.append(f"Page {j} {words}")
    lang = np.where(g["lang"] < 0.8, "en", np.where(g["lang"] < 0.92, "de", "fr"))
    base = datetime(2025, 1, 1, tzinfo=timezone.utc)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(base) + pd.to_timedelta(np.arange(n), unit="s"),
            "html": html,
            "text": text,
            "lang": lang,
        }
    )


def stats(g: dict) -> dict:
    """Shape of the generated graph (in-corpus links; weights after dedup)."""
    n = g["n_pages"]
    src, dst, w = edge_table(g)
    ids = g["ids"]
    idx = np.searchsorted(np.sort(ids), src)
    out_deg = np.bincount(idx, minlength=n)
    in_deg = np.bincount(np.searchsorted(np.sort(ids), dst), minlength=n)
    tail = np.sort(in_deg)[::-1]
    n_links = int(g["src"].size)
    return {
        "pages": n,
        "links_in_corpus": n_links,
        "links_external": int(g["ext_src"].size),
        "external_share": round(g["ext_src"].size / (n_links + g["ext_src"].size), 4),
        "edges": int(src.size),
        "edges_weight_gt_1": int((w > 1).sum()),
        "max_weight": float(w.max()),
        "dangling_pages": int((out_deg == 0).sum()),
        "dangling_share": round(float((out_deg == 0).mean()), 4),
        "singletons": int(g["n_singletons"]),
        "components": [int(s) for s in g["component_sizes"]],
        "max_out_degree": int(out_deg.max()),
        "pages_out_degree_ge_1000": int((out_deg >= 1000).sum()),
        "max_in_degree": int(tail[0]),
        "in_degree_top1pct_share": round(float(tail[: max(1, n // 100)].sum() / src.size), 4),
    }


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        table = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
EDGES_ARROW = pa.schema(
    [
        pa.field("src", pa.int64(), nullable=False),
        pa.field("dst", pa.int64(), nullable=False),
        pa.field("weight", pa.float64(), nullable=False),
        pa.field("etype", pa.int32(), nullable=False),
    ]
)
VERTICES_ARROW = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("type", pa.string(), nullable=False),
    ]
)


def ensure(root: str, n_pages: int, seed: int) -> str:
    """Write the graph for (n_pages, seed) under ``root`` unless it is
    already there; returns its directory. A ``graph.json`` written last marks
    a complete set."""
    out = os.path.join(root, f"v{GENERATOR_VERSION}_n{n_pages}_s{seed}")
    if os.path.exists(os.path.join(out, "graph.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    g = generate(n_pages, seed)
    _write(pages_frame(g), os.path.join(tmp, "pages.parquet"), PAGES_ARROW)
    src, dst, w = edge_table(g)
    _write(
        pd.DataFrame({"src": src, "dst": dst, "weight": w, "etype": np.ones(src.size, np.int32)}),
        os.path.join(tmp, "edges.parquet"),
        EDGES_ARROW,
    )
    _write(
        pd.DataFrame({"id": g["ids"], "url": g["urls"], "type": "page"}),
        os.path.join(tmp, "vertices.parquet"),
        VERTICES_ARROW,
    )
    np.savez(
        os.path.join(tmp, "links.npz"),
        src=g["src"], dst=g["dst"], ids=g["ids"], urls=g["urls"],
    )
    with open(os.path.join(tmp, "graph.json"), "w") as fh:
        json.dump({"n_pages": n_pages, "seed": seed, "version": GENERATOR_VERSION,
                   "stats": stats(g)}, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <root> <n_pages> <seed>")
    print(ensure(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
