"""Metric definitions: the end-to-end metrics every run reports, the
per-workload metrics of the report line, and the per-layer metrics of the
traced run."""

from __future__ import annotations

from .harness import SPARK_FIELDS, median, summary
from .workloads import HEADLINE, HEADLINE_OP, WORK_OPS, layer_of

# (name, unit) reported by every run with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("work_s", "s"),
    ("op_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]

SPARK_LAYERS = ["merge", "compact", "zorder", "rewrite_deletes", "deletes", "table", "queries"]

# (name, unit) reported by every run with --trace 1; a layer a workload
# does not exercise reads 0
PER_LAYER = (
    [("merge.time_s", "s"), ("merge.calls", "count"), ("merge.rows_updated", "rows"),
     ("merge.rows_inserted", "rows"), ("merge.rows_passthrough", "rows"),
     ("merge.files_rewritten", "count"), ("merge.bytes_rewritten", "bytes"),
     ("merge.useful_ratio", "ratio"), ("merge.candidates_global", "count"),
     ("merge.candidates_scanned", "count"), ("merge.discovery_exact", "count"),
     ("merge.smj_plans", "count"), ("merge.bhj_plans", "count"),
     ("compact.time_s", "s"), ("compact.files_in", "count"), ("compact.files_out", "count"),
     ("compact.bytes_rewritten", "bytes"), ("compact.mb_per_s", "MB/s"),
     ("zorder.time_s", "s"), ("zorder.bytes_rewritten", "bytes"), ("zorder.files_out", "count"),
     ("zorder.mb_per_s", "MB/s"),
     ("rewrite_deletes.time_s", "s"), ("rewrite_deletes.dv_files_in", "count"),
     ("deletes.time_ms", "ms"), ("deletes.dv_bytes_written", "bytes"),
     ("deletes.live_dv_files", "count"),
     ("manifests.time_s", "s"), ("manifests.count_before", "count"),
     ("manifests.count_after", "count"),
     ("expire.time_s", "s"), ("expire.snapshots_expired", "count"),
     ("expire.files_deleted", "count"), ("expire.bytes_reclaimed", "bytes"),
     ("table.calls", "count"), ("table.plan_ms", "ms"), ("table.files_per_probe", "count"),
     ("table.prune_ratio", "ratio"), ("table.rows_examined_per_row", "ratio"),
     ("table.scan_exec_ms", "ms"), ("table.append_ms", "ms"), ("table.live_files", "count"),
     ("table.manifests", "count"), ("table.metadata_bytes", "bytes")]
    + [(f"queries.{q}_s", "s") for q in HEADLINE]
    + [("session.start_s", "s"), ("session.warm_s", "s"), ("datagen.s", "s"),
       ("trace.op_p50_ms", "ms"), ("trace.work_s", "s")]
    + [(f"spark.{layer}.{f}", "s" if f.endswith("_s") else "MB" if f.endswith("_mb") else "count")
       for layer in SPARK_LAYERS for f in SPARK_FIELDS]
)

# time totals per layer, from span self time
_TIME_TOTALS = {"merge": "merge.time_s", "compact": "compact.time_s", "zorder": "zorder.time_s",
                "rewrite_deletes": "rewrite_deletes.time_s", "manifests": "manifests.time_s",
                "expire": "expire.time_s"}


def _ms(xs):
    m = median(xs)
    return m * 1000 if m is not None else None


def _join_plan(plans: dict[int, str]) -> str | None:
    """The merge's main join in its final physical plans: 'smj' for the
    sort-merge full outer join, 'bhj' for the broadcast left outer join."""
    text = "\n".join(plans.values())
    if "SortMergeJoin" in text and "FullOuter" in text:
        return "smj"
    if "BroadcastHashJoin" in text and "LeftOuter" in text:
        return "bhj"
    return None


def workload_metrics(workload: str, run) -> dict:
    """Every metric the workload defines, with sample counts and the tail
    percentile, for the report line and the comparison command."""
    s, r = run.samples, run.report
    out = {"setup_s": sum(run.setup.values()),
           "failed_frac": run.failed / max(1, run.attempted),
           "peak_rss_mb": r.get("peak_rss_mb")}
    if workload in ("crawl_upsert", "clustered_serve"):
        out.update(maint_p50_s=summary(s.get("maint", [])),
                   write_amp=r.get("write_amp"), space_amp=r.get("space_amp"),
                   merge_rows_per_s=r.get("merge_rows_per_s"))
    if workload == "crawl_upsert":
        out["merge_p50_s"] = summary(s.get("merge", []))
    if workload == "clustered_serve":
        scan = summary(s.get("probe", []), 1000)
        out.update(scan_p50_ms=scan["p50"], scan_tail_ms=scan["tail"],
                   scan_tail_pct=scan["tail_pct"], scan_n=scan["n"],
                   patch_p50_ms=summary(s.get("patch", []), 1000),
                   delete_p50_ms=summary(s.get("delete", []), 1000),
                   append_p50_ms=summary(s.get("append", []), 1000))
    if workload == "medallion_queries":
        out["gold_refresh_s"] = summary(s.get("pass", []))
    return out


def end_to_end(workload: str, run) -> dict:
    s = run.samples
    return {
        "setup_s": sum(run.setup.values()),
        "work_s": sum(sum(s.get(k, [])) for k in WORK_OPS[workload]),
        "op_p50_ms": _ms(s.get(HEADLINE_OP[workload], [])),
        "peak_rss_mb": run.report.get("peak_rss_mb"),
    }


def per_layer(workload: str, run, extra: dict) -> dict:
    tr, s, L = run.tracer, run.samples, dict(run.layer)
    selft = tr.self_times()
    for sp in tr.spans:
        layer = layer_of(sp.name)
        if layer in _TIME_TOTALS:
            L[_TIME_TOTALS[layer]] = L.get(_TIME_TOTALS[layer], 0.0) + selft[sp.sid]
        if layer == "deletes":
            L["deletes.time_ms"] = L.get("deletes.time_ms", 0.0) + 1000 * selft[sp.sid]
        if "IcehouseTable." in sp.name:
            L["table.calls"] = L.get("table.calls", 0) + 1
        if sp.name == "merge_into":
            L["merge.calls"] = L.get("merge.calls", 0) + 1
            kind = _join_plan(extra["plans"].get(sp.sid, {}))
            if kind:
                L[f"merge.{kind}_plans"] = L.get(f"merge.{kind}_plans", 0) + 1
    written = L.get("merge.rows_written", 0)
    if written:
        L["merge.useful_ratio"] = (L.get("merge.rows_updated", 0) + L.get("merge.rows_inserted", 0)) / written
    for layer in ("compact", "zorder"):
        t = L.get(f"{layer}.time_s", 0)
        if t:
            L[f"{layer}.mb_per_s"] = L.get(f"{layer}.bytes_rewritten", 0) / 2**20 / t
    n_probes = len(s.get("plan", []))
    if n_probes:
        L["table.plan_ms"] = _ms(s["plan"])
        L["table.scan_exec_ms"] = _ms(s["scan_exec"])
        L["table.files_per_probe"] = L.get("probe.files", 0) / n_probes
        L["table.prune_ratio"] = 1 - L.get("probe.files", 0) / max(1, L.get("probe.live_files", 0))
        L["table.rows_examined_per_row"] = L.get("probe.rows_examined", 0) / max(1, L.get("probe.rows_returned", 0))
    if s.get("append"):
        L["table.append_ms"] = _ms(s["append"])
    for q in HEADLINE:
        if s.get(f"query.{q}"):
            L[f"queries.{q}_s"] = median(s[f"query.{q}"])
    L.update(run.setup)
    e2e = end_to_end(workload, run)
    L["trace.op_p50_ms"], L["trace.work_s"] = e2e["op_p50_ms"], e2e["work_s"]
    for layer, acc in extra["spark"].items():
        for f, v in acc.items():
            L[f"spark.{layer}.{f}"] = v
    return {name: {"value": float(L.get(name) or 0), "unit": unit} for name, unit in PER_LAYER}


def report(workload: str, run, extra: dict) -> dict:
    e2e = end_to_end(workload, run)
    out = {
        "workload": workload,
        "end_to_end": {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END},
        "workload_metrics": workload_metrics(workload, run),
        "setup": run.setup,
        "attempted": run.attempted,
        "failed": run.failed,
        **run.report,
        "samples": run.samples,
        "clocks": run.clocks,
        "setup_wall": run.setup_wall,
    }
    if run.trace:
        out["per_layer"] = per_layer(workload, run, extra)
        out["spark_layers"] = extra["spark"]
    return out


# The per-workload metrics of the report line, for the comparison command:
# metric → (better, bound as a share of the parent's median). failed_frac
# has bound 0: any rise is a regression.
WORKLOAD_METRICS = {
    "setup_s": ("lower", 0.25),
    "failed_frac": ("lower", 0.0),
    "peak_rss_mb": ("lower", 0.25),
    "merge_rows_per_s": ("higher", 0.25),
    "merge_p50_s": ("lower", 0.25),
    "maint_p50_s": ("lower", 0.25),
    "write_amp": ("lower", 0.25),
    "space_amp": ("lower", 0.1),
    "scan_p50_ms": ("lower", 0.25),
    "scan_tail_ms": ("lower", 0.25),
    "patch_p50_ms": ("lower", 0.25),
    "delete_p50_ms": ("lower", 0.25),
    "append_p50_ms": ("lower", 0.25),
    "gold_refresh_s": ("lower", 0.25),
}
