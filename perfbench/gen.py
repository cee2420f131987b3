"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: inputs are written as parquet before any
timing, and the engine under test only ever sees those files. Values are a
pure function of the seed, so the same seed gives byte-identical inputs.

The generators are deliberately independent of the package's own datagen
module, so a change to the package cannot change the benchmark's inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),  # no tz -> Spark TIMESTAMP_NTZ
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

N_DOMAINS = 50
# p(domain k) ∝ 1/(k+1)^1.2 over 50 domains: domain 0 holds ~30% of pages
DOMAIN_P = 1.0 / np.arange(1, N_DOMAINS + 1) ** 1.2
DOMAIN_P /= DOMAIN_P.sum()
LANGS = np.array(["en", "en", "en", "en", "de", "fr", "es", "zh", "ru", "pt"])
BASE_TS_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20
DAY_US = 86_400 * 1_000_000
# each crawl generation is stamped inside its own 35-day window, so a later
# generation's warc_ts is always newer than every earlier one
GEN_SPAN_US = 35 * DAY_US
# html body length in words: log-normal, clipped so html lands in 0.5-50 KB
WORDS_MU, WORDS_SIGMA, WORDS_MIN, WORDS_MAX = np.log(900.0), 0.8, 60, 6000


class PageFactory:
    """Crawl-generation factory for one seed.

    Bodies are slices of a seeded pool of pseudo-words (4096-word vocabulary),
    so html compresses like text does, and making a row costs a slice rather
    than a per-word join. ``text`` is what the package's html→text extraction
    yields for this html shape: the title, one space, the body.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
        lens = rng.integers(3, 11, 4096)
        vocab = [
            bytes(letters[rng.integers(0, 26, n)]).decode() for n in lens
        ]
        words = rng.integers(0, len(vocab), 1 << 20)
        self.pool = " ".join(vocab[w] for w in words)
        self.domain = rng.choice(N_DOMAINS, size=1 << 22, p=DOMAIN_P)

    def domain_of(self, idx: np.ndarray) -> np.ndarray:
        return self.domain[idx % len(self.domain)]

    def url_of(self, idx: np.ndarray) -> list[str]:
        dom = self.domain_of(idx)
        return [f"https://site{d:03d}.example.com/p/{i}" for d, i in zip(dom, idx)]

    def pages(self, idx: np.ndarray, generation: int) -> pa.Table:
        """One row per page index, as crawled in ``generation`` (0 = base)."""
        idx = np.asarray(idx, dtype=np.int64)
        rng = np.random.default_rng([self.seed, 2, generation, int(idx[0]) if len(idx) else 0, len(idx)])
        urls = self.url_of(idx)
        ts = (
            BASE_TS_US + generation * GEN_SPAN_US
            + rng.integers(0, 30 * DAY_US, len(idx))
        )
        nwords = np.clip(
            rng.lognormal(WORDS_MU, WORDS_SIGMA, len(idx)), WORDS_MIN, WORDS_MAX
        ).astype(np.int64)
        offs = rng.integers(0, len(self.pool) - 8 * WORDS_MAX, len(idx))
        lang = LANGS[(idx * 2654435761 + self.seed) % len(LANGS)]
        pool = self.pool
        htmls, texts = [], []
        for url, off, n in zip(urls, offs, nwords):
            start = pool.index(" ", off) + 1
            end = pool.index(" ", start + 7 * int(n))
            title = f"g{generation} {url}"
            body = pool[start:end]
            htmls.append(
                f"<html><head><title>{title}</title></head>"
                f"<body><p>{body}</p></body></html>".encode()
            )
            texts.append(f"{title} {body}")
        return pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(lang, pa.string()),
            },
            schema=PAGES_SCHEMA,
        )


def write(table: pa.Table, path: str, rows_per_file: int | None = None) -> int:
    """Write ``table`` as a parquet directory (snappy, like Spark writes);
    returns the bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = rows_per_file or max(1, table.num_rows)
    total = 0
    for part, lo in enumerate(range(0, table.num_rows, step)):
        f = os.path.join(path, f"part-{part:05d}.parquet")
        pq.write_table(table.slice(lo, step), f, compression="snappy")
        total += os.path.getsize(f)
    return total


# ---------------------------------------------------------------- medallion

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_WORDS = np.array(["hot", "large", "ring", "bolt", "steel", "red", "blue", "nut"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DATE0_US = 788_918_400_000_000  # 1995-01-01


def medallion_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-ish star schema + events stream, in the testdata layout the
    query registry reads (``<dir>/<name>.parquet``). ``scale`` 0.1 gives
    600k lineitem rows."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_part, n_ord = int(150_000 * scale), int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev, n_users = int(6_000_000 * scale), int(1_000_000 * scale), int(15_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(lo, hi, n):
        return pa.array(DATE0_US + rng.integers(lo, hi, n) * DAY_US, pa.timestamp("us"))

    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(PART_WORDS[rng.integers(0, 8, n_part)],
                                                PART_WORDS[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": money(900.0, 1000.0, n_part),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days(0, 2404, n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, 1000, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days(1, 2499, n_li),
    })
    ev_ts = np.sort(1_704_067_200_000_000 + rng.integers(0, 30 * DAY_US, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": money(0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"customer": cust, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}
