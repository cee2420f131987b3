"""The three workloads. Each drives the package from outside, one client in
a closed loop: the next operation starts when the previous one returns.

Work per run is fixed by ``--seconds`` through a nominal cost per unit of
work (measured on a 4-core x86 machine), so two commits compared with the
same arguments do identical work; the timings say how long it took.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen
from .harness import Meter, Tracer, attribute_spark, jvm_pid, read_event_log, start_spark, stop_jvm, vm_hwm_mb

# The merge's broadcast decision compares 4 × the source's parquet bytes
# with 256 MiB; crawl deltas are sized to clear that with a margin.
BROADCAST_BUDGET = 256 * 2**20
PARQUET_INFLATION = 4

HEADLINE = [
    "sessionize", "watermark_scan", "daily_sales_summary", "interval_join_pit",
    "affected_keys_reagg", "topk_rank", "ltv_segments", "hourly_traffic",
    "dedup_latest_wins", "scd2_window_chain",
]
MEDALLION_TABLES = ["customer", "part", "orders", "lineitem", "events"]

# span name → layer; spans named otherwise are the benchmark's own
LAYERS = {
    "merge_into": "merge", "compact": "compact", "zorder_by": "zorder",
    "rewrite_delete_vectors": "rewrite_deletes", "delete_where": "deletes",
    "rewrite_manifests": "manifests", "expire_snapshots": "expire",
}


def layer_of(name: str) -> str | None:
    if name.startswith("IcehouseTable."):
        return "table"
    if name.startswith("query."):
        return "queries"
    return LAYERS.get(name)


class Run:
    """State of one benchmark run: the session, the tracer, the samples and
    the failure count."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool, cores: int):
        self.root, self.seed, self.seconds, self.trace = root, seed, seconds, trace
        self.cores = cores
        self.work = os.path.join(root, ".bench_work", "run")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(trace)
        self.meter = Meter()
        # per operation kind: seconds (``Clock.s`` for the kinds timed with
        # ``measure``, which ``clocks`` breaks into wall, CPU and stolen
        # seconds; wall seconds for the per-kind breakdowns recorded with
        # ``sample``, such as probe.<kind> and query.<name>)
        self.samples: dict[str, list[float]] = {}
        self.clocks: dict[str, dict[str, list[float]]] = {"wall": {}, "cpu": {}, "steal": {}}
        self.layer: dict[str, float] = {}
        self.setup: dict[str, float] = {}
        self.setup_wall: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict = {}
        self.spark = None
        self.untimed = False

    # -- bookkeeping --------------------------------------------------------

    @contextmanager
    def untimed_phase(self):
        """Set-up work on the timed code paths: its operations and checks
        count as attempted (and failed), but their spans are named
        ``setup.*`` and they add no samples or counters."""
        self.untimed = True
        try:
            yield
        finally:
            self.untimed = False

    def sample(self, key: str, seconds: float):
        if not self.untimed:
            self.samples.setdefault(key, []).append(seconds)

    @contextmanager
    def measure(self, key: str):
        """Times the block as one sample of operation kind ``key``."""
        if self.untimed:
            yield
            return
        with self.meter.clock() as c:
            yield
        self.samples.setdefault(key, []).append(c.s)
        for field, by_key in self.clocks.items():
            by_key.setdefault(key, []).append(getattr(c, field))

    @contextmanager
    def setup_step(self, key: str):
        """Times a set-up step into ``setup[key]``."""
        with self.meter.clock() as c:
            yield
        self.setup[key] = c.s
        self.setup_wall[key] = c.wall

    def add(self, key: str, value: float):
        if not self.untimed:
            self.layer[key] = self.layer.get(key, 0.0) + value

    def op(self, name: str, fn, op: int | None = None):
        """Run one operation inside a span; an exception counts as a failed
        operation and the run goes on. Returns (result, seconds)."""
        self.attempted += 1
        if self.untimed:
            name = "setup." + name
        with self.tracer.span(name, op) as s:
            try:
                out = fn()
            except Exception:
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc(limit=4)}")
                out = None
        return out, s.dur

    def result(self, name: str, fut):
        """The result of an operation run on a pool thread; an exception
        counts as a failed operation."""
        self.attempted += 1
        try:
            return fut.result()
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=4)}")
            return None

    def check(self, name: str, got: list[tuple], want: list[tuple]):
        """One output check: counts as an attempted operation, and as a
        failed one when the rows differ or a planted wrong row goes
        unnoticed."""
        self.attempted += 1
        why = checks.diff_rows(got, want)
        if why is None and not checks.planted_check_fires(got):
            why = "planted wrong row not detected"
        if why is not None:
            self.failed += 1
            self.errors.append(f"check {name}: {why}")

    # -- session ------------------------------------------------------------

    def start(self):
        """Start Spark. Each workload then warms up on its own operations
        (untimed), which covers what the package's
        ``session.warm_python_workers`` would warm."""
        with self.setup_step("session.start_s"), self.tracer.span("session.start"):
            self.spark = start_spark(self.work, self.cores, event_log=self.trace)

    def finish(self) -> dict:
        """Stop Spark and fold the event log into the per-layer counters."""
        peak = vm_hwm_mb()
        pid = jvm_pid(self.spark) if self.spark is not None else None
        jvm_peak = vm_hwm_mb(pid) if pid is not None else 0.0
        self.report["peak_rss_parts_mb"] = {"python": peak, "jvm": jvm_peak}
        peak += jvm_peak
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            stop_jvm(gateway)
        self.report["peak_rss_mb"] = peak
        spark_layers, plans = {}, {}
        if self.trace:
            spark_layers, plans = attribute_spark(
                self.tracer, read_event_log(self.work), layer_of, self.cores
            )
        return {"spark": spark_layers, "plans": plans}


# ------------------------------------------------------------------ helpers


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed while walking
    return out


class ByteLedger:
    """Bytes of every file that appears under the table directory, seen at
    operation boundaries (write amplification), and the user input bytes
    delivered to the engine in the measured loop."""

    def __init__(self, path: str):
        self.path = path
        self.seen = _dir_files(path)
        self.written = 0
        self.user = 0

    def observe(self):
        now = _dir_files(self.path)
        self.written += sum(s for p, s in now.items() if p not in self.seen)
        self.seen.update(now)

    def space_amp(self, tbl) -> float:
        live = sum(f.size_bytes for f in tbl.live_files())
        return sum(_dir_files(self.path).values()) / max(1, live)


def _table_state(run: Run, tbl):
    """Table-format gauges at the end of the run (traced run only)."""
    snap = tbl.current_snapshot()
    run.layer["table.live_files"] = len(tbl.live_files())
    run.layer["table.manifests"] = len(tbl.manifests_of(snap))
    run.layer["table.metadata_bytes"] = sum(
        _dir_files(tbl.meta_dir).values()) + sum(_dir_files(tbl.manifest_dir).values())
    reg = tbl.delete_registry_full(snap)["entries"]
    run.layer["deletes.live_dv_files"] = len({d for e in reg.values() for d in e["dvs"]})


def _merge_counters(run: Run, tbl, res):
    """Per-layer merge counters from the MergeResult and the snapshot
    summary (traced run only)."""
    if res is None or res.snapshot is None:
        return
    sm = res.snapshot.summary
    upd, ins, pas = sm.get("merge_updated", 0), sm.get("merge_inserted", 0), sm.get("merge_passthrough", 0)
    run.add("merge.rows_updated", upd)
    run.add("merge.rows_inserted", ins)
    run.add("merge.rows_passthrough", pas)
    run.add("merge.rows_written", upd + ins + pas)
    run.add("merge.files_rewritten", res.files_rewritten)
    run.add("merge.candidates_global", sm.get("merge_candidates_global", 0))
    run.add("merge.candidates_scanned", sm.get("merge_candidates_scanned", 0))
    run.add("merge.discovery_exact", 1 if sm.get("merge_discovery") == "exact" else 0)
    sid = res.snapshot.snapshot_id
    run.add("merge.bytes_rewritten", sum(f.size_bytes for f in tbl.live_files() if f.added_by == sid))


def _maintenance(run: Run, tbl, ledger: ByteLedger, target: int, zorder: bool, op: int):
    """One maintenance cycle."""
    from ecommerce_lakehouse_spark.maintenance import compact, expire_snapshots, rewrite_delete_vectors, rewrite_manifests, zorder_by

    with run.measure("maint"), run.tracer.span("maintenance", op):
        snap, dur = run.op("compact", lambda: compact(tbl, target_file_bytes=target, max_concurrency=run.cores))
        run.sample("compact", dur)
        if run.trace and snap is not None:
            sm = snap.summary
            run.add("compact.files_in", sm.get("compacted_input_files", 0))
            run.add("compact.files_out", sm.get("compacted_output_files", 0))
            run.add("compact.bytes_rewritten", sm.get("compacted_bytes", 0))
        if zorder:
            snap, dur = run.op("zorder_by", lambda: zorder_by(
                tbl, curve="morton", url_coord="prefix", scope="incremental",
                target_file_bytes=target))
            run.sample("zorder", dur)
            if run.trace and snap is not None:
                run.add("zorder.bytes_rewritten", snap.summary.get("cluster_bytes", 0))
                run.add("zorder.files_out", snap.summary.get("cluster_files_out", 0))
            snap, dur = run.op("rewrite_delete_vectors", lambda: rewrite_delete_vectors(tbl))
            run.sample("rewrite_deletes", dur)
            if run.trace and snap is not None:
                run.add("rewrite_deletes.dv_files_in", snap.summary.get("dv_files_before", 0))
        before = len(tbl.manifests_of(tbl.current_snapshot())) if run.trace else 0
        snap, dur = run.op("rewrite_manifests", lambda: rewrite_manifests(tbl))
        run.sample("manifests", dur)
        if run.trace and snap is not None:
            run.add("manifests.count_before", before)
            run.add("manifests.count_after", snap.summary.get("manifests_after", 0))
        res, dur = run.op("expire_snapshots", lambda: expire_snapshots(tbl, keep_last=2))
        run.sample("expire", dur)
        if run.trace and res is not None:
            run.add("expire.snapshots_expired", len(res.expired_snapshots))
            run.add("expire.files_deleted", res.deleted_data_files + res.deleted_manifests)
            run.add("expire.bytes_reclaimed", res.freed_bytes)
        ledger.observe()


def _units(seconds: int, nominal_s: float, least: int) -> int:
    return max(least, round(seconds / nominal_s))


# ------------------------------------------------------------- crawl_upsert

CRAWL_BASE_ROWS = 6000
CRAWL_DELTA_RECRAWL = 3400
CRAWL_DELTA_NEW = 1700
CRAWL_MERGE_FILE_ROWS = 1000
CRAWL_MERGES_PER_MAINT = 2
CRAWL_NOMINAL_MERGE_S = 3.5


def crawl_upsert(run: Run):
    from ecommerce_lakehouse_spark.operators.merge import merge_into
    from ecommerce_lakehouse_spark.table import IcehouseTable

    n_merges = _units(run.seconds, CRAWL_NOMINAL_MERGE_S, 2)
    inputs = os.path.join(run.work, "inputs")
    with run.setup_step("datagen.s"), run.tracer.span("datagen"):
        fac = gen.PageFactory(run.seed)
        base = os.path.join(inputs, "base")
        base_bytes = gen.write(fac.pages(np.arange(CRAWL_BASE_ROWS), 0), base, 1000)
        rng = np.random.default_rng([run.seed, 10])
        hi, deltas = CRAWL_BASE_ROWS, []
        # deltas[0] is merged in the untimed warm-up
        for d in range(n_merges + 1):
            # recrawls sample existing urls uniformly, so they carry the
            # base's hot-domain skew; new urls extend the index range
            rec = np.sort(rng.choice(hi, CRAWL_DELTA_RECRAWL, replace=False))
            new = np.arange(hi, hi + CRAWL_DELTA_NEW)
            hi += CRAWL_DELTA_NEW
            path = os.path.join(inputs, f"delta{d:02d}")
            nbytes = gen.write(pa.concat_tables([fac.pages(rec, d + 1), fac.pages(new, d + 1)]), path, 1000)
            if nbytes * PARQUET_INFLATION < 1.1 * BROADCAST_BUDGET:
                raise RuntimeError(f"delta {d} is {nbytes} bytes: too small to exceed the broadcast budget")
            deltas.append((path, nbytes))
    run.report["inputs"] = {"base_rows": CRAWL_BASE_ROWS, "base_bytes": base_bytes,
                            "delta_rows": CRAWL_DELTA_RECRAWL + CRAWL_DELTA_NEW,
                            "delta_bytes": [b for _, b in deltas], "merges": n_merges}

    run.start()
    spark = run.spark
    path = os.path.join(run.work, "table", "pages")
    # merges write files of CRAWL_MERGE_FILE_ROWS rows (~16 MB); the
    # compaction target is scaled to the table (2/3 of the base) so those
    # files fall under the small-file ratio and maintenance has work
    target = max(1 << 20, base_bytes * 2 // 3)
    merged = [base]

    def merge(dpath: str, nbytes: int, ledger: ByteLedger, op: int | None):
        src = spark.read.parquet(dpath)
        with run.measure("merge"):
            res, _ = run.op("merge_into", lambda: merge_into(tbl, src, "url", target_file_rows=CRAWL_MERGE_FILE_ROWS), op=op)
        if res is not None:
            merged.append(dpath)
            ledger.user += nbytes
            run.add("rows_merged", CRAWL_DELTA_RECRAWL + CRAWL_DELTA_NEW)
            if run.trace:
                _merge_counters(run, tbl, res)
        ledger.observe()

    with run.setup_step("build_s"):
        with run.tracer.span("setup.IcehouseTable.create"):
            tbl = IcehouseTable.create(spark, path, spark.read.parquet(base))
        # one untimed (but checked) merge and maintenance cycle, so the
        # timed operations do not pay first-execution costs
        with run.untimed_phase(), run.tracer.span("setup.cycle"):
            merge(*deltas[0], ByteLedger(path), None)
            _maintenance(run, tbl, ByteLedger(path), target, zorder=False, op=None)
    ledger = ByteLedger(path)

    loop0 = time.perf_counter()
    for i, (dpath, nbytes) in enumerate(deltas[1:]):
        merge(dpath, nbytes, ledger, i)
        if (i + 1) % CRAWL_MERGES_PER_MAINT == 0:
            _maintenance(run, tbl, ledger, target, zorder=False, op=i)
    run.report["loop_wall_s"] = time.perf_counter() - loop0

    merge_s = sum(run.samples.get("merge", []))
    run.report["merge_rows_per_s"] = run.layer.get("rows_merged", 0) / merge_s if merge_s else None
    run.report["write_amp"] = ledger.written / max(1, ledger.user)
    run.report["space_amp"] = ledger.space_amp(tbl)
    if run.trace:
        _table_state(run, tbl)

    with run.tracer.span("check"):
        got = checks.engine_page_keys(tbl.scan())
        want = checks.latest_per_url(merged)
    run.check("latest warc_ts per url", got, want)
    run.report["check"] = {"rows": len(want), "hash": checks.rows_hash(want)}


# --------------------------------------------------------- clustered_serve

SERVE_BASE_ROWS = 4000
SERVE_APPEND_ROWS = 150
SERVE_PATCH_URLS = 5
SERVE_DELETE_URLS = 3
SERVE_NOMINAL_CYCLE_S = 7.0
SERVE_FILES = 16
PROBE_KINDS = ("ts_slice", "url_range", "point", "lang_agg")
PROBES_PER_KIND = 2


def _serve_plan(run: Run, base_urls: list[str], n_cycles: int):
    """Seeded schedule: per cycle an append batch, a patch, a delete and a
    shuffled list of probes."""
    rng = np.random.default_rng([run.seed, 20])
    sorted_urls = sorted(base_urls)
    t0 = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=gen.BASE_TS_US)
    cycles = []
    next_idx = SERVE_BASE_ROWS
    for c in range(n_cycles):
        app = np.arange(next_idx, next_idx + SERVE_APPEND_ROWS)
        next_idx += SERVE_APPEND_ROWS
        pick = rng.choice(SERVE_BASE_ROWS, SERVE_PATCH_URLS + SERVE_DELETE_URLS, replace=False)
        probes = []
        # the warm-up cycle (c = 0) probes each kind once
        for kind in PROBE_KINDS * (1 if c == 0 else PROBES_PER_KIND):
            if kind == "ts_slice":
                lo = t0 + datetime.timedelta(hours=int(rng.integers(0, 28 * 24)))
                probes.append((kind, (lo, lo + datetime.timedelta(hours=36))))
            elif kind == "url_range":
                i = int(rng.integers(0, len(sorted_urls) - 80))
                probes.append((kind, (sorted_urls[i], sorted_urls[i + 80])))
            elif kind == "point":
                probes.append((kind, base_urls[int(rng.integers(0, len(base_urls)))]))
            else:
                probes.append((kind, str(gen.LANGS[int(rng.integers(4, len(gen.LANGS)))])))
        rng.shuffle(probes)
        cycles.append({
            "append": app,
            "patch": np.sort(pick[:SERVE_PATCH_URLS]),
            "delete": [base_urls[i] for i in pick[SERVE_PATCH_URLS:]],
            "probes": probes,
        })
    return cycles


def _probe(run: Run, tbl, live: checks.LiveSet, kind: str, arg, op: int | None):
    from pyspark.sql import functions as F

    from ecommerce_lakehouse_spark.table.predicates import Predicate

    if kind == "ts_slice":
        preds = [Predicate("warc_ts", ">=", arg[0]), Predicate("warc_ts", "<", arg[1])]
        want = live.rows("warc_ts >= ? AND warc_ts < ?", list(arg))
    elif kind == "url_range":
        preds = [Predicate("url", ">=", arg[0]), Predicate("url", "<", arg[1])]
        want = live.rows("url >= ? AND url < ?", list(arg))
    elif kind == "point":
        preds = [Predicate("url", "=", arg)]
        want = live.rows("url = ?", [arg])
    else:
        preds = [Predicate("lang", "=", arg)]
        want = live.lang_agg(arg)

    def run_probe():
        df = tbl.scan(preds)
        if kind == "lang_agg":
            df = df.groupBy("lang").agg(
                F.count(F.lit(1)), F.unix_micros(F.max("warc_ts").cast("timestamp")))
        else:
            df = df.select("url", F.unix_micros(F.col("warc_ts").cast("timestamp")),
                           "lang", F.md5("text"))
        return [tuple(r) for r in df.collect()]

    with run.measure("probe"), run.tracer.span(f"probe.{kind}", op) as s:
        plan_s = 0.0
        if run.trace and not run.untimed:
            with run.tracer.span("IcehouseTable.planned_files") as ps:
                planned = tbl.planned_files(preds)
            plan_s = ps.dur
            run.sample("plan", plan_s)
            run.add("probe.files", len(planned))
            run.add("probe.live_files", len(tbl.live_files()))
            run.add("probe.rows_examined", sum(f.row_count for f in planned))
        got, _ = run.op("IcehouseTable.scan", run_probe)
    if got is None:
        return
    run.check(f"probe {kind} {arg}", got, want)
    run.sample(f"probe.{kind}", s.dur)
    if run.trace:
        run.sample("scan_exec", s.dur - plan_s)
        run.add("probe.rows_returned", sum(r[1] for r in got) if kind == "lang_agg" else len(got))


def _serve_cycle(run: Run, tbl, live: checks.LiveSet, ledger: ByteLedger, cyc: dict, c: int | None):
    """One serving cycle: append, point patch, delete, probes."""
    from ecommerce_lakehouse_spark.operators.merge import merge_into
    from ecommerce_lakehouse_spark.table.deletes import delete_where
    from ecommerce_lakehouse_spark.table.predicates import Predicate

    spark = run.spark
    with run.tracer.span("cycle", c):
        with run.measure("append"):
            run.op("IcehouseTable.append", lambda: tbl.append(spark.read.parquet(cyc["append_path"])))
        live.append(cyc["append_path"])
        ledger.user += cyc["append_bytes"]
        ledger.observe()

        src = spark.read.parquet(cyc["patch_path"])
        with run.measure("patch"):
            res, _ = run.op("merge_into", lambda: merge_into(tbl, src, "url"))
        live.upsert(cyc["patch_path"])
        ledger.user += cyc["patch_bytes"]
        if run.trace:
            _merge_counters(run, tbl, res)
        ledger.observe()

        dvs_before = _dir_files(tbl.data_dir) if run.trace else {}
        with run.measure("delete"):
            run.op("delete_where", lambda: delete_where(tbl, [Predicate("url", "in", cyc["delete"])]))
        live.delete(cyc["delete"])
        if run.trace:
            run.add("deletes.dv_bytes_written", sum(
                s for p, s in _dir_files(tbl.data_dir).items()
                if p not in dvs_before and os.path.basename(p).startswith("dv-")))
        ledger.observe()

        for kind, arg in cyc["probes"]:
            _probe(run, tbl, live, kind, arg, c)


def clustered_serve(run: Run):
    from ecommerce_lakehouse_spark.maintenance import zorder_by
    from ecommerce_lakehouse_spark.table import IcehouseTable

    n_cycles = _units(run.seconds, SERVE_NOMINAL_CYCLE_S, 2)
    inputs = os.path.join(run.work, "inputs")
    with run.setup_step("datagen.s"), run.tracer.span("datagen"):
        fac = gen.PageFactory(run.seed)
        base = os.path.join(inputs, "base")
        base_bytes = gen.write(fac.pages(np.arange(SERVE_BASE_ROWS), 0), base, 500)
        base_urls = fac.url_of(np.arange(SERVE_BASE_ROWS))
        # plan[0] is the untimed warm-up cycle
        plan = _serve_plan(run, base_urls, n_cycles + 1)
        for c, cyc in enumerate(plan):
            cyc["append_path"] = os.path.join(inputs, f"append{c:02d}")
            cyc["append_bytes"] = gen.write(fac.pages(cyc["append"], 2 + c), cyc["append_path"])
            cyc["patch_path"] = os.path.join(inputs, f"patch{c:02d}")
            cyc["patch_bytes"] = gen.write(fac.pages(cyc["patch"], 2 + c), cyc["patch_path"])
    run.report["inputs"] = {"base_rows": SERVE_BASE_ROWS, "base_bytes": base_bytes,
                            "append_rows": SERVE_APPEND_ROWS, "patch_rows": SERVE_PATCH_URLS,
                            "delete_rows": SERVE_DELETE_URLS, "cycles": n_cycles}

    run.start()
    spark = run.spark
    # target file size scaled so the clustered base holds SERVE_FILES files
    target = max(256 << 10, base_bytes // SERVE_FILES)
    path = os.path.join(run.work, "table", "pages")
    with run.setup_step("build_s"):
        with run.tracer.span("setup.IcehouseTable.create"):
            # per-file url sketches: point merges route to the few files
            # that can hold their keys whatever the layout
            tbl = IcehouseTable.create(spark, path, spark.read.parquet(base),
                                       properties={"sketch.cols": "url"})
        with run.tracer.span("setup.zorder_by"):
            zorder_by(tbl, curve="morton", url_coord="prefix", target_file_bytes=target)
        live = checks.LiveSet(base)
        # one untimed (but checked) cycle and maintenance, so the timed
        # operations do not pay first-execution costs
        with run.untimed_phase(), run.tracer.span("setup.cycle"):
            _serve_cycle(run, tbl, live, ByteLedger(path), plan[0], None)
            _maintenance(run, tbl, ByteLedger(path), target, zorder=True, op=None)
    ledger = ByteLedger(path)

    loop0 = time.perf_counter()
    # maintenance after every cycle: the next cycle's probes and the final
    # scan check the table it rewrote
    for c, cyc in enumerate(plan[1:]):
        _serve_cycle(run, tbl, live, ledger, cyc, c)
        _maintenance(run, tbl, ledger, target, zorder=True, op=c)
    run.report["loop_wall_s"] = time.perf_counter() - loop0

    patch_s = sum(run.samples.get("patch", []))
    run.report["merge_rows_per_s"] = SERVE_PATCH_URLS * len(run.samples.get("patch", [])) / patch_s if patch_s else None
    run.report["write_amp"] = ledger.written / max(1, ledger.user)
    run.report["space_amp"] = ledger.space_amp(tbl)
    if run.trace:
        _table_state(run, tbl)
    with run.tracer.span("check"):
        got = checks.engine_page_keys(tbl.scan())
        want = [(u, ts, h) for u, ts, _, h in live.rows("true", [])]
    run.check("final live set", got, want)
    run.report["check"] = {"rows": len(want), "hash": checks.rows_hash(want)}


# ------------------------------------------------------- medallion_queries

MEDALLION_SCALE = 0.03
MEDALLION_NOMINAL_PASS_S = 5.0


def medallion_queries(run: Run):
    from ecommerce_lakehouse_spark.queries import REGISTRY

    n_passes = _units(run.seconds, MEDALLION_NOMINAL_PASS_S, 1)
    data = os.path.join(run.work, "inputs", "medallion")
    with run.setup_step("datagen.s"), run.tracer.span("datagen"):
        os.makedirs(data)
        sizes = {}
        for name, tb in gen.medallion_tables(run.seed, MEDALLION_SCALE).items():
            f = os.path.join(data, f"{name}.parquet")
            pq.write_table(tb, f, compression="snappy")
            sizes[name] = {"rows": tb.num_rows, "bytes": os.path.getsize(f)}
    run.report["inputs"] = {"scale": MEDALLION_SCALE, "tables": sizes, "passes": n_passes}
    run.start()
    spark = run.spark
    run.setup["build_s"] = 0.0

    # untimed warm pass, which is also the once-per-run output check; the
    # queries run concurrently to shorten it
    def collect(name):
        return REGISTRY[name][0](spark, data).toArrow()

    with run.setup_step("session.warm_s"), run.tracer.span("session.warm"), \
            ThreadPoolExecutor(run.cores) as pool:
        futures = [(name, pool.submit(collect, name)) for name in HEADLINE]
        results = [(name, run.result(f"check.{name}", fut)) for name, fut in futures]
    with run.tracer.span("check") as chk:
        for name, got in results:
            if got is not None:
                want = checks.oracle(REGISTRY[name][1], data, MEDALLION_TABLES)
                run.check(f"query {name}", checks.canonical(got), checks.canonical(want))
    run.report["check_s"] = chk.dur
    loop0 = time.perf_counter()
    for p in range(n_passes):
        with run.measure("pass"), run.tracer.span("pass", p):
            for name in HEADLINE:
                fn = REGISTRY[name][0]
                with run.measure("query"):
                    _, dur = run.op(f"query.{name}", lambda: fn(spark, data).write.format("noop").mode("overwrite").save())
                run.sample(f"query.{name}", dur)
    run.report["loop_wall_s"] = time.perf_counter() - loop0


WORKLOADS = {
    "crawl_upsert": crawl_upsert,
    "clustered_serve": clustered_serve,
    "medallion_queries": medallion_queries,
}
# the operation whose latency is the workload's op_p50_ms; for
# medallion_queries one pass over the 10 queries (a gold refresh): the
# median of single queries would fall between whichever two of ten unlike
# queries sit in the middle for the seed's data
HEADLINE_OP = {"crawl_upsert": "merge", "clustered_serve": "probe", "medallion_queries": "pass"}
# the operations whose summed wall time is the workload's work_s
WORK_OPS = {
    "crawl_upsert": ["merge", "maint"],
    "clustered_serve": ["append", "patch", "delete", "probe", "maint"],
    "medallion_queries": ["query"],
}
