"""Compare a parent run set with a change run set, or summarise one set.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py RUN_DIR

A run set is a directory of the report files ``run.py`` writes to
``.bench_work/results/`` (copy them aside per commit). For each workload,
in its own block, every metric is printed with each side's median and
quartiles, the share of pairs the change won (runs paired by seed, ties
count for neither) and a verdict against the benchmark's own bounds:

- improved:   the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile distance
- no worse:   the change's median is within the bound of the parent's
- worse:      the change's median is worse by more than the bound
- unresolved: the parent's own spread is wider than the bound and the
              change does not beat every parent run

The single-set form prints each metric's median, quartiles and spread
(interquartile distance over median), and the tracing overhead where the
set holds traced and untraced runs of a workload.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import WORKLOAD_METRICS  # noqa: E402


def load(run_dir: str) -> dict[tuple[str, int], list[dict]]:
    """(workload, trace) → reports, ordered by seed."""
    out: dict = {}
    for name in sorted(os.listdir(run_dir)):
        if not name.endswith(".json") or name.endswith(".spans.json"):
            continue
        with open(os.path.join(run_dir, name)) as f:
            r = json.load(f)
        out.setdefault((r["workload"], r["trace"]), []).append(r)
    for runs in out.values():
        runs.sort(key=lambda r: r["seed"])
    return out


def bounds() -> dict[str, tuple[str, float]]:
    """metric → (better, bound): BENCHMARK.json's end-to-end metrics, then
    the per-workload metrics of the report line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    for name, (better, bound) in WORKLOAD_METRICS.items():
        out.setdefault(name, (better, bound))
    return out


def values(run: dict) -> dict[str, float]:
    """Every numeric metric of one report: end-to-end values and the
    workload metrics (a timing summary contributes its median)."""
    out = {k: v["value"] for k, v in run["end_to_end"].items()}
    for k, v in run["workload_metrics"].items():
        if isinstance(v, dict):
            v = v.get("p50")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            out.setdefault(k, v)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[str, float]:
    sign = -1 if better == "lower" else 1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pairs = min(len(parent), len(change))
    won = wins / pairs if pairs else 0.0
    p1, pm, p3 = quartiles(parent)
    cm = quartiles(change)[1]
    gain = sign * (cm - pm)
    if won >= 0.9 and gain > p3 - p1:
        return "improved", won
    if all(sign * (c - p) > 0 for c in change for p in parent):
        return "improved", won
    if pm and (p3 - p1) / abs(pm) > bound:
        return "unresolved", won
    if not pm:  # a zero median (failed_frac): any step the wrong way is worse
        return ("worse" if gain < 0 else "no worse"), won
    return ("worse" if -gain / abs(pm) > bound else "no worse"), won


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def compare(parent_dir: str, change_dir: str) -> int:
    P, C, B = load(parent_dir), load(change_dir), bounds()
    worse = 0
    for key in sorted(set(P) & set(C)):
        workload, trace = key
        if trace:
            continue
        print(f"\n== {workload}  (parent n={len(P[key])}, change n={len(C[key])})")
        print(f"{'metric':<22}{'parent q1/med/q3':<30}{'change q1/med/q3':<30}{'won':>6}  verdict")
        pv = [values(r) for r in P[key]]
        cv = [values(r) for r in C[key]]
        for m in sorted(set(pv[0]) & set(cv[0])):
            if m not in B:
                continue
            ps = [v[m] for v in pv if v.get(m) is not None]
            cs = [v[m] for v in cv if v.get(m) is not None]
            if not ps or not cs:
                continue
            better, bound = B[m]
            v, won = verdict(ps, cs, better, bound)
            worse += v == "worse"
            pq, cq = quartiles(ps), quartiles(cs)
            print(f"{m:<22}{'/'.join(map(_fmt, pq)):<30}{'/'.join(map(_fmt, cq)):<30}"
                  f"{won:>6.2f}  {v} (bound {bound:.0%}, {better} is better)")
    return 1 if worse else 0


def summarise(run_dir: str) -> int:
    R, B = load(run_dir), bounds()
    for (workload, trace), runs in sorted(R.items()):
        print(f"\n== {workload} trace={trace}  n={len(runs)}  seeds={[r['seed'] for r in runs]}")
        vs = [values(r) for r in runs]
        for m in sorted(vs[0]):
            xs = [v[m] for v in vs if v.get(m) is not None]
            if not xs:
                continue
            bound = B.get(m, (None, None))[1]
            flag = "" if bound is None else f"  bound {bound:.0%}" + ("  OVER 1/3" if spread(xs) > bound / 3 else "")
            print(f"{m:<22}q1/med/q3 {'/'.join(map(_fmt, quartiles(xs))):<32}spread {spread(xs):6.1%}{flag}")
        drift = [r["drift_mops"]["end"] / r["drift_mops"]["start"] for r in runs]
        print(f"{'cpu drift end/start':<22}min {min(drift):.3f} max {max(drift):.3f}")
        if trace == 0 and (workload, 1) in R:
            traced = [values(r) for r in R[(workload, 1)]]
            for m in ("op_p50_ms", "work_s"):
                t = statistics.median(v[m] for v in traced if m in v)
                u = statistics.median(v[m] for v in vs)
                print(f"tracing overhead {m:<10}{(t - u) / u:+.1%}  (traced {t:.4g} vs untraced {u:.4g})")
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 2:
        sys.exit(compare(*args))
    if len(args) == 1:
        sys.exit(summarise(args[0]))
    print(__doc__, file=sys.stderr)
    sys.exit(2)
