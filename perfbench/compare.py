#!/usr/bin/env python3
"""Compares benchmark result sets, and reports a set's own run-to-run spread.

Result sets are JSON-lines files written by `run.py --out FILE`: one result
object per run, tagged with workload, seed and trace.

    # parent vs change: one row per workload x end-to-end metric
    python3 perfbench/compare.py parent.jsonl change.jsonl

    # steadiness of one set: median, quartiles and spread against the bound
    python3 perfbench/compare.py --spread runs.jsonl

    # tracing overhead: untraced runs vs traced runs of the same code
    python3 perfbench/compare.py --overhead runs.jsonl

Rules (parent vs change), per workload x metric:
  * each side: median and quartiles (statistics.quantiles(n=4)) of its runs;
  * pairs: the i-th parent run against the i-th change run, in file order,
    so run the two sides alternately; a pair is won by the better value,
    ties count for neither side;
  * bound check: the change's median may be worse than the parent's by at
    most the metric's bound (a share of the parent's median);
  * verdict: "unresolved" when either side's quartile spread exceeds the
    bound, unless every change run beats every parent run (setup_s is
    bounded by its median only, so its spread never leaves it
    unresolved); "improved" when
    the change wins at least 9/10 of the pairs and the medians differ by
    more than the parent's quartile spread; "regressed" when the bound
    check fails; otherwise "within bound".
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# metrics whose run-to-run spread is not bounded, only their median
MEDIAN_ONLY = {"setup_s"}


def load(path, trace=0):
    """{workload: [metrics dict, ...]} of the runs with the given trace flag,
    in file order."""
    out = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r.get("trace", 0) != trace:
                continue
            vals = {k: v["value"] for k, v in r["metrics"].items()}
            vals["_correct"] = r["correct"]
            out.setdefault(r["workload"], []).append(vals)
    return out


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def spread(xs):
    """Quartile distance as a share of the median."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def worse_by(parent_med, change_med, better):
    """How much worse the change is, as a share of the parent median
    (negative when it is better)."""
    if parent_med == 0:
        return 0.0
    d = (change_med - parent_med) / parent_med
    return d if better == "lower" else -d


def beats(a, b, better):
    return a < b if better == "lower" else a > b


def compare_metric(p, c, better, bound, spread_bounded=True):
    pq, cq = quartiles(p), quartiles(c)
    pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if beats(b, a, better))
    win_frac = wins / len(pairs) if pairs else 0.0
    worse = worse_by(pq[1], cq[1], better)
    p_spread, c_spread = spread(p), spread(c)
    all_better = all(beats(b, a, better) for a in p for b in c)
    if (spread_bounded and (p_spread > bound or c_spread > bound)
            and not all_better):
        verdict = "unresolved"
    elif win_frac >= 0.9 and abs(cq[1] - pq[1]) > (pq[2] - pq[0]):
        verdict = "improved"
    elif worse > bound:
        verdict = "regressed"
    else:
        verdict = "within bound"
    return {"parent": pq, "change": cq, "win_frac": win_frac, "worse": worse,
            "bound_ok": worse <= bound, "spreads": (p_spread, c_spread),
            "verdict": verdict}


def cmd_compare(args, bench):
    parent, change = load(args.files[0]), load(args.files[1])
    print("%-16s %-20s %26s %26s %6s %8s %s" % (
        "workload", "metric", "parent q1/med/q3", "change q1/med/q3",
        "wins", "worse", "verdict"))
    bad = 0
    for wl in sorted(set(parent) | set(change)):
        if wl not in parent or wl not in change:
            print("%-16s missing on one side" % wl)
            bad += 1
            continue
        for m in bench["end_to_end"]:
            p = [r[m["name"]] for r in parent[wl]]
            c = [r[m["name"]] for r in change[wl]]
            r = compare_metric(p, c, m["better"], m["bound"],
                               m["name"] not in MEDIAN_ONLY)
            bad += r["verdict"] in ("regressed", "unresolved")
            print("%-16s %-20s %26s %26s %5.0f%% %+7.1f%% %s" % (
                wl, m["name"], "%.4g/%.4g/%.4g" % r["parent"],
                "%.4g/%.4g/%.4g" % r["change"], 100 * r["win_frac"],
                100 * r["worse"], r["verdict"]))
        wrong = sum(not r["_correct"] for r in parent[wl] + change[wl])
        if wrong:
            print("%-16s %d run(s) reported correct=false" % (wl, wrong))
            bad += 1
    return 1 if bad else 0


def cmd_spread(args, bench):
    runs = load(args.files[0])
    print("%-16s %-20s %4s %12s %12s %12s %8s %7s %s" % (
        "workload", "metric", "n", "q1", "median", "q3", "spread", "bound",
        "status"))
    bad = 0
    for wl in sorted(runs):
        for m in bench["end_to_end"]:
            xs = [r[m["name"]] for r in runs[wl]]
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            if m["name"] in MEDIAN_ONLY:
                status = "(spread not bounded, only the median)"
            elif sp <= m["bound"] / 3:
                status = "ok (< bound/3)"
            elif sp <= m["bound"]:
                status = "within bound, above bound/3"
            else:
                status = "OVER BOUND"
                bad += 1
            print("%-16s %-20s %4d %12.5g %12.5g %12.5g %7.1f%% %6.0f%% %s" % (
                wl, m["name"], len(xs), q1, med, q3, 100 * sp,
                100 * m["bound"], status))
        wrong = sum(not r["_correct"] for r in runs[wl])
        if wrong:
            print("%-16s %d run(s) reported correct=false" % (wl, wrong))
            bad += 1
    return 1 if bad else 0


def cmd_overhead(args, bench):
    plain, traced = load(args.files[0], 0), load(args.files[0], 1)
    print("%-16s %-20s %12s %12s %9s" % (
        "workload", "metric", "untraced", "traced", "overhead"))
    for wl in sorted(set(plain) & set(traced)):
        for name in ("ack_ms_p50", "read_ms_p50", "items_per_s"):
            u = statistics.median(r[name] for r in plain[wl])
            t = statistics.median(r["traced." + name] for r in traced[wl])
            print("%-16s %-20s %12.5g %12.5g %+8.1f%%" % (
                wl, name, u, t, 100 * (t - u) / u if u else 0.0))
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter, epilog=__doc__)
    ap.add_argument("files", nargs="+")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(BENCH) as fh:
        bench = json.load(fh)
    if args.spread or args.overhead:
        if len(args.files) != 1:
            ap.error("--spread / --overhead take one result set")
        return (cmd_spread if args.spread else cmd_overhead)(args, bench)
    if len(args.files) != 2:
        ap.error("give a parent and a change result set")
    return cmd_compare(args, bench)


if __name__ == "__main__":
    sys.exit(main())
