"""Seeded input generators: the seed-URL sample, the search query mix and
the link graph.

Every generator is a pure function of its arguments, so one seed always
yields the same inputs.  The synthetic web itself (page URLs, HTML, fault
mix, robots rules) is the engine's ``sources.webgen`` fixture, used as is;
this module only decides which of its pages seed the crawl and what the
search client asks.
"""

from __future__ import annotations

import random

from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen


def seed_urls(n: int, n_seeds: int, n_hosts: int, seed: int) -> list[str]:
    """A seeded sample of ``n_seeds`` distinct page URLs of webgen's
    ``n``-page web, in sample order."""
    ids = random.Random(seed).sample(range(n), n_seeds)
    return [webgen.url_of(i, n_hosts) for i in ids]


QUERY_KINDS = ("bm25_broad", "bm25_selective", "multifield", "snippets", "url_search")
BROAD_TERMS = ("frontier", "crawl", "index", "spark", "bloom", "host", "link", "text")


def query_mix(n_queries: int, n_pages: int, n_hosts: int, seed: int) -> list[dict]:
    """A seeded closed-loop query sequence, cycling through the five kinds
    so every kind gets an equal share of any prefix of the loop.

    - ``bm25_broad``: two common words (every page has some of them);
    - ``bm25_selective``: a page id plus a host token (a handful of docs);
    - ``multifield``: content + url over a host token and a page id;
    - ``snippets``: a BM25 top-10 shaped with snippets;
    - ``url_search``: a URL substring.
    """
    rng = random.Random(seed)
    out = []
    for q in range(n_queries):
        kind = QUERY_KINDS[q % len(QUERY_KINDS)]
        page, host = rng.randrange(n_pages), rng.randrange(n_hosts)
        if kind in ("bm25_broad", "snippets"):
            terms = rng.sample(BROAD_TERMS, 2)
        elif kind == "bm25_selective":
            terms = [str(page), f"h{host}"]
        elif kind == "multifield":
            terms = [f"h{host}", str(page)]
        else:
            terms = [f"h{host}.test/p/{page % 100}"]
        out.append({"kind": kind, "terms": terms})
    return out


def link_graph(n_nodes: int, avg_degree: int, seed: int) -> list[tuple[int, int]]:
    """A seeded directed graph with a heavy-tailed in-degree (edges aim at
    low node ids more often), no self loops, no duplicate edges."""
    rng = random.Random(seed)
    edges = set()
    for src in range(n_nodes):
        for _ in range(avg_degree):
            dst = int(n_nodes * rng.random() ** 2)
            if dst != src:
                edges.add((src, dst))
    return sorted(edges)
