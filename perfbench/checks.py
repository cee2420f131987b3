"""Output checks. Every expectation is computed by DuckDB from the
workload's own generated input files, independently of the engine."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter

import duckdb


def diff_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when the two row multisets are equal, else a short reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    g, w = Counter(got), Counter(want)
    if g == w:
        return None
    extra, missing = list((g - w).elements()), list((w - g).elements())
    return f"{len(extra)} unexpected rows (e.g. {extra[:1]}), {len(missing)} missing (e.g. {missing[:1]})"


def rows_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash of a row multiset."""
    acc = 0
    for r in rows:
        acc = (acc + int.from_bytes(hashlib.md5(repr(r).encode()).digest()[:8], "big")) % (1 << 64)
    return f"{acc:016x}"


def planted_check_fires(rows: list[tuple]) -> bool:
    """Plant one wrong row in a copy of ``rows`` and confirm diff_rows
    notices it; run on every real check so a check that cannot fail
    counts as a failed check."""
    if not rows:
        return True
    bad = list(rows)
    first = list(bad[0])
    first[-1] = f"planted-{first[-1]}"
    bad[0] = tuple(first)
    return diff_rows(bad, rows) is not None


def _pq_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/*.parquet'" for p in paths) + "]"


# ------------------------------------------------------------ crawl_upsert

PAGE_KEY_SQL = "url, epoch_us(warc_ts) AS ts_us, md5(text) AS text_md5"


def latest_per_url(paths: list[str]) -> list[tuple]:
    """(url, warc_ts µs, md5(text)) of the newest crawl of every url over the
    base and every delta merged."""
    con = duckdb.connect()
    return con.execute(
        f"""SELECT {PAGE_KEY_SQL} FROM (
              SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
              FROM read_parquet({_pq_list(paths)}))
            WHERE rn = 1"""
    ).fetchall()


def engine_page_keys(df) -> list[tuple]:
    """The same projection computed by the engine on a scan DataFrame."""
    from pyspark.sql import functions as F

    return [
        tuple(r)
        for r in df.select(
            "url",
            F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("ts_us"),
            F.md5("text").alias("text_md5"),
        ).collect()
    ]


# --------------------------------------------------------- clustered_serve


class LiveSet:
    """The expected live row set of the served table, kept in DuckDB and
    moved by the same appends, upserts and deletes the engine receives."""

    def __init__(self, base_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE live AS SELECT url, warc_ts, lang, md5(text) AS text_md5 "
            f"FROM read_parquet({_pq_list([base_path])})"
        )

    def append(self, path: str):
        self.con.execute(
            f"INSERT INTO live SELECT url, warc_ts, lang, md5(text) "
            f"FROM read_parquet({_pq_list([path])})"
        )

    def upsert(self, path: str):
        src = f"read_parquet({_pq_list([path])})"
        self.con.execute(f"DELETE FROM live WHERE url IN (SELECT url FROM {src})")
        self.append(path)

    def delete(self, urls: list[str]):
        self.con.execute("DELETE FROM live WHERE url IN (SELECT unnest(?))", [urls])

    def rows(self, where: str, params: list) -> list[tuple]:
        return self.con.execute(
            f"SELECT url, epoch_us(warc_ts), lang, text_md5 FROM live WHERE {where}", params
        ).fetchall()

    def lang_agg(self, lang: str) -> list[tuple]:
        return self.con.execute(
            "SELECT lang, count(*), epoch_us(max(warc_ts)) FROM live WHERE lang = ? GROUP BY lang",
            [lang],
        ).fetchall()


# ------------------------------------------------------- medallion_queries


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return v


def canonical(tbl) -> list[tuple]:
    """Rows of an Arrow table with columns in name order and cells made
    comparable across engines (floats compared exactly by repr)."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return [tuple(_cell(v) for v in row) for row in zip(*data)] if data else []


def oracle(sql: str, data_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con.execute(sql).arrow()
