"""Self-test of the benchmark's output checks; needs no Spark session.

    python3 perfbench/selftest.py

For each check it builds the expected rows from small generated inputs,
confirms an independent recomputation passes, then plants one wrong row
(changed text, missing row, duplicated row, changed value) and confirms the
check fires. It also confirms BENCHMARK.json names exactly the metrics the
runs report. Exits 0 when every case behaves.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import checks, gen  # noqa: E402


def _planted(rows: list[tuple]) -> dict[str, list[tuple]]:
    first = list(rows[0])
    first[-1] = "0" * 32
    return {
        "changed text": [tuple(first)] + rows[1:],
        "missing row": rows[1:],
        "duplicated row": rows + rows[:1],
    }


def _expect(name: str, good: list[tuple], want: list[tuple], failures: list[str]):
    if checks.diff_rows(good, want) is not None:
        failures.append(f"{name}: correct rows rejected: {checks.diff_rows(good, want)}")
    for kind, bad in _planted(good).items():
        if checks.diff_rows(bad, want) is None:
            failures.append(f"{name}: planted {kind} not detected")
    if not checks.planted_check_fires(good):
        failures.append(f"{name}: planted_check_fires missed")


def crawl_case(work: str, failures: list[str]):
    fac = gen.PageFactory(7)
    base = os.path.join(work, "base")
    gen.write(fac.pages(np.arange(300), 0), base)
    d1 = os.path.join(work, "d1")
    gen.write(pa.concat_tables([fac.pages(np.arange(0, 300, 3), 1),
                                fac.pages(np.arange(300, 350), 1)]), d1)
    want = checks.latest_per_url([base, d1])
    # independent recomputation in Python: the newest crawl of every url
    epoch = datetime.datetime(1970, 1, 1)
    latest = {}
    for path in (base, d1):
        for r in pq.read_table(path).to_pylist():
            ts = (r["warc_ts"] - epoch) // datetime.timedelta(microseconds=1)
            if r["url"] not in latest or latest[r["url"]][1] < ts:
                latest[r["url"]] = (r["url"], ts, hashlib.md5(r["text"].encode()).hexdigest())
    good = list(latest.values())
    if len(want) != 350:
        failures.append(f"crawl: expected 350 urls, oracle gave {len(want)}")
    _expect("crawl", good, want, failures)


def serve_case(work: str, failures: list[str]):
    fac = gen.PageFactory(8)
    base = os.path.join(work, "sbase")
    gen.write(fac.pages(np.arange(200), 0), base)
    patch = os.path.join(work, "spatch")
    gen.write(fac.pages(np.array([3, 5, 8]), 2), patch)
    live = checks.LiveSet(base)
    live.upsert(patch)
    live.delete(fac.url_of(np.array([4, 5])))
    urls = {r[0] for r in live.rows("true", [])}
    expected_urls = set(fac.url_of(np.arange(200))) - set(fac.url_of(np.array([4, 5])))
    if urls != expected_urls:
        failures.append("serve: live set urls wrong after upsert and delete")
    rows = live.rows("true", [])
    patched = {r[0]: r for r in rows if r[0] in set(fac.url_of(np.array([3, 8])))}
    if any(r[1] < gen.BASE_TS_US + 2 * gen.GEN_SPAN_US for r in patched.values()):
        failures.append("serve: upsert kept the old version")
    _expect("serve", rows, live.rows("true", []), failures)


def medallion_case(work: str, failures: list[str]):
    for name, tb in gen.medallion_tables(9, 0.001).items():
        pq.write_table(tb, os.path.join(work, f"{name}.parquet"))
    sql = "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem GROUP BY 1"
    want = checks.canonical(checks.oracle(sql, work, ["lineitem"]))
    # same rows, other column order and row order, as another engine returns
    again = checks.oracle(sql + " ORDER BY 1 DESC", work, ["lineitem"]).select(["q", "n", "l_returnflag"])
    good = checks.canonical(again)
    if checks.diff_rows(good, want) is not None:
        failures.append("medallion: canonical form depends on column or row order")
    bad = list(good)
    bad[0] = tuple(x + 1 if isinstance(x, int) else x for x in bad[0])
    if checks.diff_rows(bad, want) is None:
        failures.append("medallion: planted wrong value not detected")


def benchmark_json_case(failures: list[str]):
    from perfbench.metrics import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if [(m["name"], m["unit"]) for m in bench["end_to_end"]] != END_TO_END:
        failures.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if [(m["name"], m["unit"]) for m in bench["per_layer"]] != PER_LAYER:
        failures.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")


def main() -> int:
    failures: list[str] = []
    scratch = os.path.join(ROOT, ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as work:
        crawl_case(work, failures)
        serve_case(work, failures)
        medallion_case(work, failures)
    benchmark_json_case(failures)
    for f in failures:
        print("FAIL", f)
    print("selftest", "ok" if not failures else f"failed ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
