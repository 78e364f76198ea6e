"""Independent pure-Python references the benchmark checks the engine
against.  Nothing here calls the engine: the crawl follows the documented
reference semantics (politeness window, processed-set selection dedup,
robots gate before fetch, timeout retries, canonical enqueue dedup), and
search is BM25 over tokens counted in pandas.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from html.parser import HTMLParser
from urllib.parse import urljoin, urlparse
from urllib.robotparser import RobotFileParser

import pandas as pd

USER_AGENT = "MyDistributedCrawler/1.0 (+http://example.com/botinfo)"
_HREF = re.compile(r'<a href="([^"]*)"')


def _clean(u: str) -> str:
    return u.strip().replace("\r", "").replace("\n", "")


def canonical(u: str) -> str:
    p = urlparse(_clean(u))
    out = f"{p.scheme}://{p.netloc}{p.path}"
    if p.query:
        out += f"?{p.query}"
    return out.lower().rstrip("/")


def crawl(seeds, web, robots, max_depth, budget, max_attempts, max_rounds):
    """Reference crawl of one seed job.  ``web`` maps url → fixture row,
    ``robots`` host → rules.  Returns ``(seen, frontier rows)``."""
    frontier = [
        {"url": _clean(u), "canon": canonical(u), "host": urlparse(_clean(u)).netloc.lower(),
         "depth": 0, "status": "pending", "attempts": 0}
        for u in dict.fromkeys(seeds) if _clean(u).startswith("http")
    ]
    seen: set[str] = set()
    processed: set[str] = set()
    parsers: dict[str, RobotFileParser | None] = {}

    def allowed(host: str, url: str) -> bool:
        if host not in parsers:
            txt = robots.get(host)
            rp = None
            if txt is not None:
                rp = RobotFileParser()
                rp.parse(txt.splitlines())
            parsers[host] = rp
        rp = parsers[host]
        return rp is None or rp.can_fetch(USER_AGENT, url)

    for _round in range(max_rounds):
        live = [r for r in frontier if r["status"] == "pending"
                or (r["status"] == "timeout" and r["attempts"] < max_attempts)]
        if not live:
            break
        live.sort(key=lambda r: (r["depth"], r["url"]))
        taken: Counter = Counter()
        batch = []
        for r in live:
            if taken[r["host"]] < budget:
                taken[r["host"]] += 1
                batch.append(r)
        go = []
        for r in batch:
            if r["status"] == "timeout":
                go.append(r)
            elif r["canon"] in processed:
                r["status"] = "skipped_seen"
            else:
                processed.add(r["canon"])
                seen.add(r["canon"])
                go.append(r)
        children: dict[str, tuple] = {}
        for r in go:
            if not allowed(r["host"], r["url"]):
                r["status"] = "skipped_robots"
                continue
            page = web.get(r["url"])
            if page is None or page["status"] >= 400:
                r["status"] = "failed"
                continue
            if page["status"] == -1:
                r["status"] = "timeout"
                r["attempts"] += 1
                continue
            if "html" not in (page["content_type"] or "").lower():
                r["status"] = "skipped_non_html"
                continue
            r["status"] = "fetched"
            if r["depth"] >= max_depth:
                continue
            base = page["final_url"] or r["url"]
            for pos, href in enumerate(_HREF.findall(page["html"])):
                new = urljoin(base, _clean(href))
                p = urlparse(new)
                if p.scheme not in ("http", "https") or not p.netloc:
                    continue
                c = canonical(new)
                if c in seen:
                    continue
                key = (r["depth"] + 1, r["canon"], pos)
                if c not in children or key < children[c]:
                    children[c] = key
        for c, (depth, _parent, _pos) in children.items():
            seen.add(c)
            frontier.append({"url": c, "canon": c, "host": urlparse(c).netloc.lower(),
                             "depth": depth, "status": "pending", "attempts": 0})
    return seen, frontier


def crawl_summary(seen, status_counts: dict) -> dict:
    """What the crawl check compares: fetched and scheduled counts plus
    digests of the seen set and of the status multiset."""
    counts = sorted((k, int(v)) for k, v in status_counts.items() if v)
    return {
        "fetched": dict(counts).get("fetched", 0),
        "scheduled": sum(v for _, v in counts),
        "seen_digest": hashlib.sha256("\n".join(sorted(seen)).encode()).hexdigest(),
        "status_digest": hashlib.sha256(repr(counts).encode()).hexdigest(),
    }


# -- search ------------------------------------------------------------------


class _Text(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []

    def handle_data(self, data):
        s = data.strip()
        if s:
            self.parts.append(s)


def page_text(html: str) -> str:
    p = _Text()
    p.feed(html)
    p.close()
    return " ".join(p.parts)


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


def postings(docs: pd.DataFrame, field: str) -> pd.DataFrame:
    """(term, doc, tf) over whitespace tokens of the normalized ``text``
    field, or over lowercase alphanumeric runs of the ``url`` field."""
    if field == "url":
        toks = docs["url"].str.lower().str.split(r"[^a-z0-9]+", regex=True)
    else:
        toks = docs["text"].map(_norm).str.split(" ")
    p = pd.DataFrame({"doc": docs["doc_id"], "term": toks}).explode("term")
    p = p[p["term"].notna() & (p["term"] != "")]
    return p.groupby(["term", "doc"]).size().rename("tf").reset_index()


def bm25_scores(post: pd.DataFrame, terms, k1=1.2, b=0.75) -> pd.Series:
    dl = post.groupby("doc")["tf"].sum()
    n_docs, avgdl = len(dl), dl.mean()
    hits = post[post["term"].isin(set(terms))]
    df = hits.groupby("term")["doc"].nunique()
    idf = (1.0 + (n_docs - df + 0.5) / (df + 0.5)).map(math.log)
    h = hits.assign(idf=hits["term"].map(idf), dl=hits["doc"].map(dl))
    norm = 1.0 - b + b * h["dl"] / avgdl
    w = h["idf"] * h["tf"] * (k1 + 1.0) / (h["tf"] + k1 * norm)
    return w.groupby(h["doc"]).sum()


def topk(scores: pd.Series, k: int = 10) -> list[tuple[str, float]]:
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(d, float(s)) for d, s in ranked[:k]]


def snippet(text: str, terms, window: int = 30) -> str:
    t = _norm(text)
    pos = 0
    for term in terms:
        if pos == 0:
            pos = t.find(term) + 1
    if pos == 0:
        return "No preview available"
    start = max(pos - window, 1)
    w = t[start - 1: start - 1 + 2 * window + 1]
    pat = r"\b(" + "|".join(re.escape(q) for q in terms) + r")\b"
    return re.sub(pat, r"<em>\1</em>", w)


def same_ranking(got, want, rel: float = 1e-9) -> bool:
    """Top-k equality with float tolerance.  ``got``/``want`` are
    ``[(doc, score)]`` in rank order.  Scores must agree rank by rank;
    docs whose scores tie (within ``rel``) may appear in any order, but a
    tie group that ends inside the list must hold the same docs."""
    if len(got) != len(want):
        return False
    if any(not math.isclose(g[1], w[1], rel_tol=rel, abs_tol=1e-12)
           for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i
        while j + 1 < len(want) and math.isclose(
                want[j + 1][1], want[i][1], rel_tol=rel, abs_tol=1e-12):
            j += 1
        g = {d for d, _ in got[i:j + 1]}
        w = {d for d, _ in want[i:j + 1]}
        if j + 1 < len(want) and g != w:
            return False
        i = j + 1
    return True
