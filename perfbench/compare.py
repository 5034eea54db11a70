"""Compare two sets of benchmark results.

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds result files as ``run.py`` writes them
(``<workload>/seed<N>-trace<T>.json``; copy ``perfbench/results`` aside
between the two sides). For every workload in both sets it prints:

- per end-to-end metric (untraced runs): each side's median and
  quartiles, B's change against A as a share of A's median (positive is
  worse), the metric's bound from ``BENCHMARK.json``, and how many
  pairs B won, pairing the i-th seed of A with the i-th seed of B (the
  same seed when both sides ran the same seeds); with each side's median share of host CPU time
  stolen by other tenants, which slows wall-clock and CPU figures alike.
  A run of B whose outputs failed the check is a regression whatever the
  bounds say;
- per query id (traced runs): the change in ``op.<qid>.latency_s`` and
  ``op.<qid>.cpu_s``, flagged ``*`` when it exceeds A's own spread across
  seeds (the A/A noise band: quartile distance over median);
- per side, the tracing overhead: traced minus untraced end-to-end
  numbers on the seeds run both ways.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d: str) -> dict:
    """{workload: {trace: {seed: result-file dict}}}"""
    out: dict = {}
    for path in glob.glob(os.path.join(d, "*", "seed*-trace*.json")):
        m = re.search(r"seed(-?\d+)-trace([01])\.json$", path)
        with open(path) as f:
            doc = json.load(f)
        wl = doc["record"]["workload"]
        out.setdefault(wl, {}).setdefault(int(m.group(2)), {})[int(m.group(1))] = doc
    return out


def summary(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3


def worse(a: float, b: float, better: str) -> float:
    """B's change against A as a share of A; positive means worse."""
    if a == 0:
        return 0.0
    d = (b - a) / abs(a)
    return d if better == "lower" else -d


def e2e_table(wl: str, a: dict, b: dict, metrics: list[dict]) -> None:
    print(f"\n== {wl}: end-to-end (A {len(a)} runs, B {len(b)} runs)")
    print(f"{'metric':<30}{'A median [q1, q3]':>30}{'B median [q1, q3]':>30}"
          f"{'worse':>9}{'bound':>7}  verdict   B wins")
    pairs = list(zip(sorted(a), sorted(b)))
    steal = [statistics.median(r["diagnostics"]["host_steal_share"] for r in side.values())
             for side in (a, b)]
    print(f"   host CPU stolen by other tenants during the timed loops (median): "
          f"A {steal[0]:.1%}, B {steal[1]:.1%}")
    for side, runs in (("A", a), ("B", b)):
        wrong = sorted(s for s, r in runs.items() if not r["result"]["correct"])
        if wrong:
            print(f"   {side}: failed or wrong-output ops on seeds {wrong}"
                  + ("  REGRESSED" if side == "B" else ""))
    for m in metrics:
        name, better = m["name"], m["better"]
        av = [r["e2e"][name] for r in a.values() if name in r["e2e"]]
        bv = [r["e2e"][name] for r in b.values() if name in r["e2e"]]
        if not av or not bv:
            continue
        (am, aq1, aq3), (bm, bq1, bq3) = summary(av), summary(bv)
        w = worse(am, bm, better)
        verdict = "REGRESSED" if w > m["bound"] else "ok"
        wins = sum(
            1 for sa, sb in pairs
            if worse(a[sa]["e2e"][name], b[sb]["e2e"][name], better) < 0
        )
        a_txt, b_txt = f"{am:.4g} [{aq1:.4g}, {aq3:.4g}]", f"{bm:.4g} [{bq1:.4g}, {bq3:.4g}]"
        print(f"{name:<30}{a_txt:>30}{b_txt:>30}{w:>+9.1%}{m['bound']:>7.2f}  "
              f"{verdict:<9} {wins}/{len(pairs)}")


def per_id_table(wl: str, a: dict, b: dict) -> None:
    keys = sorted(
        k for k in next(iter(a.values()))["layer"]
        if k.startswith("op.") and (k.endswith(".latency_s") or k.endswith(".cpu_s"))
    )
    if not keys:
        return
    print(f"\n== {wl}: per id (traced runs; * = change beyond A's own spread)")
    print(f"{'metric':<36}{'A median':>10}{'B median':>10}{'change':>9}{'A spread':>10}")
    for k in keys:
        av = [r["layer"][k] for r in a.values() if k in r["layer"]]
        bv = [r["layer"][k] for r in b.values() if k in r["layer"]]
        if not av or not bv:
            continue
        am, aq1, aq3 = summary(av)
        bm = statistics.median(bv)
        change = (bm - am) / am if am else 0.0
        spread = (aq3 - aq1) / am if am and len(av) > 1 else float("nan")
        flag = "*" if len(av) > 1 and abs(change) > spread else ""
        print(f"{k:<36}{am:>10.4g}{bm:>10.4g}{change:>+9.1%}{spread:>10.1%} {flag}")


def overhead(side: str, runs: dict) -> None:
    plain, traced = runs.get(0, {}), runs.get(1, {})
    seeds = sorted(set(plain) & set(traced))
    if not seeds:
        return
    print(f"   tracing overhead, side {side}, {len(seeds)} seeds (traced - untraced, median):")
    for name in ("setup_s", "latency_p50_s", "cpu_s_per_op", "peak_rss_mb"):
        d = [traced[s]["e2e"][name] - plain[s]["e2e"][name] for s in seeds]
        base = statistics.median(plain[s]["e2e"][name] for s in seeds)
        med = statistics.median(d)
        print(f"     {name:<28}{med:>+12.4g}  ({med / base:+.1%})")


def main() -> None:
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark results.")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    A, B = load(args.a), load(args.b)
    for wl in sorted(set(A) & set(B)):
        if 0 in A[wl] and 0 in B[wl]:
            e2e_table(wl, A[wl][0], B[wl][0], metrics)
        if 1 in A[wl] and 1 in B[wl]:
            per_id_table(wl, A[wl][1], B[wl][1])
        overhead("A", A[wl])
        overhead("B", B[wl])


if __name__ == "__main__":
    main()
