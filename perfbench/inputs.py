"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and of the size
parameters): the same seed writes byte-identical tables and the same
crawl plan. Row counts do not depend on the seed, so throughput numbers
stay comparable across seeds; only values, orders and which items are
duplicated or broken move.

Table shapes mirror the engine's synthetic star schema (TPC-H-style
dimensions and facts plus ``events``, ``documents`` and ``embeddings``),
so every registered query and its DuckDB oracle run on them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class TableSizes:
    """Row counts of one generated star-schema instance."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int
    dim: int = 64


# about a fiftieth of TPC-H sf1 for the fact tables: a warm pass over
# the star queries stays a few seconds on a 4-core host
STAR_SIZES = TableSizes(
    customers=3_000, suppliers=200, parts=4_000, orders=30_000,
    lineitems=120_000, events=20_000, users=300, documents=1_000,
    embeddings=500,
)
# curation runs are bound by plan construction and per-row Python work,
# not by scan volume; a small corpus keeps a pass inside the run window
CURATION_SIZES = TableSizes(
    customers=150, suppliers=10, parts=200, orders=1_500,
    lineitems=6_000, events=1_000, users=15, documents=500,
    embeddings=500,
)


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sizes: TableSizes) -> dict[str, pa.Table]:
    """All ten tables, values drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    s = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(SEGMENTS, s.customers),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(P_ADJ, s.parts), rng.choice(P_NOUN, s.parts))
    ]
    t["part"] = pa.table({
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(P_TYPES, s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
    })
    odays = rng.integers(0, 2405, s.orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts("1995-01-01", odays * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders),
    })
    n = s.lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, n),
        "l_partkey": rng.integers(0, s.parts, n),
        "l_suppkey": rng.integers(0, s.suppliers, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n) * _DAY_US),
    })
    ev = s.events
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ev))
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": _ts("2024-01-01", offs),
        "user_id": rng.integers(0, s.users, ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    t["documents"] = _documents(rng, s.documents)
    t["embeddings"] = _embeddings(rng, s.embeddings, s.dim)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # a near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    x = centers[labels] * 0.15 + rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One ``<name>.parquet`` file per table; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# crawl_ingest: a seeded site graph served through DictFetcher
# ---------------------------------------------------------------------------
ARTICLE_WORDS = [
    f"{c}{v}{e}" for c in "bcdfgklmnprstvz" for v in "aeiou" for e in ("n", "r", "st")
]


@dataclass
class CrawlRound:
    """One round's inputs and the counters the engine must report."""

    seeds: list[tuple[str, str]]
    pages: dict[str, str]
    drop_rows: list[tuple[str, str, str, str, str]]
    new_urls: list[str]  # fetchable, never stored before this round
    relinked: int  # links to URLs already in the store
    failed_fetches: int  # linked URLs the fetcher cannot serve
    near_dups: int  # new articles whose body copies an earlier one
    drop_new: int  # distinct drop rows whose URL the store lacks
    doc_bytes: int  # user text bytes (title + content) that land


@dataclass
class CrawlPlan:
    domains: list[str]
    rounds: list[CrawlRound] = field(default_factory=list)


def _article_html(title: str, paras: list[str], published: str) -> str:
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        f"<html><head><title>{title}</title></head><body>"
        f'<nav class="menu"><a href="/">home</a></nav><h1>{title}</h1>'
        f'{body}<time datetime="{published}">{published[:10]}</time>'
        "</body></html>"
    )


def _listing_html(hrefs: list[str]) -> str:
    blocks = "".join(
        f'<article><h2>item</h2><a href="{h}">read</a></article>' for h in hrefs
    )
    return (
        "<html><body><header>site</header>"
        f"{blocks}<article><span>sponsored, no link</span></article>"
        "</body></html>"
    )


def crawl_plan(
    seed: int,
    rounds: int,
    n_domains: int = 12,
    new_per_round: int = 240,
    drop_per_round: int = 120,
) -> CrawlPlan:
    """A seeded site graph and per-round crawl/drop inputs.

    Domains get Zipf-like uneven shares of the ``new_per_round`` fresh
    articles. Every listing also re-links a few stored URLs (dropped by
    the store anti-join) and a few dead URLs (fetch returns None); about
    one in ten fresh articles copies an earlier body with one word
    changed. Each round's stream drop carries fresh feed rows, repeats of
    stored URLs and a within-drop duplicate. ``CrawlRound`` records what
    must land.
    """
    rng = np.random.default_rng(seed)
    domains = [f"site{d:02d}" for d in range(n_domains)]
    weights = 1.0 / np.arange(1, n_domains + 1) ** 0.8
    rng.shuffle(weights)
    shares = np.floor(weights / weights.sum() * new_per_round).astype(int)
    shares[np.argmax(shares)] += new_per_round - shares.sum()
    stored: dict[str, list[str]] = {d: [] for d in domains}
    bodies: list[list[str]] = []
    stored_urls: list[str] = []
    next_id = 0
    plan = CrawlPlan(domains=domains)
    for r in range(rounds):
        pages: dict[str, str] = {}
        seeds: list[tuple[str, str]] = []
        new_urls: list[str] = []
        relinked = failed = near = doc_bytes = 0
        for d, dom in enumerate(domains):
            base = f"https://{dom}.example/"
            seeds.append((dom, base))
            hrefs: list[str] = []
            for _ in range(int(shares[d])):
                next_id += 1
                url = f"{base}posts/{next_id}"
                title = f"{dom} story {next_id}"
                if bodies and rng.random() < 0.1:
                    paras = list(bodies[int(rng.integers(0, len(bodies)))])
                    words = paras[0].split()
                    words[int(rng.integers(0, len(words)))] = "revised"
                    paras[0] = " ".join(words)
                    near += 1
                else:
                    paras = [
                        " ".join(rng.choice(ARTICLE_WORDS, int(rng.integers(12, 40))))
                        for _ in range(int(rng.integers(2, 6)))
                    ]
                bodies.append(paras)
                day = int(rng.integers(0, 90))
                published = (
                    f"{np.datetime64('2024-01-01') + np.timedelta64(day, 'D')}"
                    f"T{next_id % 24:02d}:{next_id % 60:02d}:00"
                )
                pages[url] = _article_html(title, paras, published)
                hrefs.append(f"/posts/{next_id}")
                new_urls.append(url)
                doc_bytes += len(title.encode()) + len("\n".join(paras).encode())
            for old in rng.permutation(stored[dom])[:3]:
                hrefs.append(old[len(base) - 1:])
                relinked += 1
            for _ in range(2):
                next_id += 1
                hrefs.append(f"/gone/{next_id}")
                failed += 1
            order = rng.permutation(len(hrefs))
            pages[base] = _listing_html([hrefs[i] for i in order])
        # the drop: fresh pre-crawled feed rows, stored repeats, one in-drop dup
        drop: list[tuple[str, str, str, str, str]] = []
        for _ in range(drop_per_round):
            next_id += 1
            url = f"https://feed.example/items/{next_id}"
            content = " ".join(rng.choice(ARTICLE_WORDS, int(rng.integers(20, 60))))
            drop.append((url, "feed", f"feed item {next_id}", content,
                         f"2024-02-{1 + next_id % 28:02d}T06:00:00"))
            doc_bytes += len(f"feed item {next_id}".encode()) + len(content.encode())
        fresh_drop = len(drop)
        drop.append(drop[0])
        for old in rng.permutation(stored_urls)[:10]:
            drop.append((str(old), "feed", "stale copy", "already stored", None))
        plan.rounds.append(CrawlRound(
            seeds=seeds, pages=pages, drop_rows=drop, new_urls=new_urls,
            relinked=relinked, failed_fetches=failed, near_dups=near,
            drop_new=fresh_drop, doc_bytes=doc_bytes,
        ))
        for url in new_urls:
            stored[url.split("//")[1].split(".")[0]].append(url)
        stored_urls += new_urls + [row[0] for row in drop[:fresh_drop]]
    return plan
