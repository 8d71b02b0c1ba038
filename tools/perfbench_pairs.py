#!/usr/bin/env python3
"""Paired perfbench comparison: per workload and end-to-end metric, each
side's median and quartile spread, the change in the median, the wins out
of n pairs and a verdict.

Input is one line per run, from files or stdin:

  <pair> <side> [<workload>] <run.py result line>

`side` is `parent` or `change`; the two runs of one pair share `pair`
(run them back to back, alternating, same seed). The result line is the
JSON object `perfbench/run.py` prints last; a run that printed none (an
empty or non-JSON rest) counts as one failed operation of its side.
`workload` may be left out when every line is one workload.

Each metric's better direction and bound come from BENCHMARK.json. The
verdicts:

- `gain` / `loss`: the change is better (worse) in at least 9 of 10 of
  the pairs, and its median is better (worse) than the parent's by more
  than the parent's interquartile range. A shift that meets only one of
  the two is drift: box noise, or a cost too small to tell from it.
  Under 10 pairs the verdict is marked as such.
- `PAST BOUND`: the change's median is worse than the parent's by more
  than the metric's bound, whatever the pairs say.

Then, per side, operations failed / attempted over all its runs.

Usage:
  python3 tools/perfbench_pairs.py PAIRS.txt [MORE.txt ...]
  python3 tools/perfbench_pairs.py --self-check

Exit code: 1 when a metric is `loss` or `PAST BOUND`, else 0.
"""
import json
import os
import sys
from collections import defaultdict

WIN_SHARE = 0.9  # wins out of n a gain or loss needs
MIN_PAIRS = 10  # fewer pairs than this are marked as too few to judge
SIDES = ("parent", "change")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_metrics(path=os.path.join(ROOT, "BENCHMARK.json")):
    """{metric: (better, bound)} of BENCHMARK.json's end-to-end metrics."""
    with open(path) as f:
        return {m["name"]: (m["better"], m["bound"]) for m in json.load(f)["end_to_end"]}


def parse(lines):
    """{workload: {side: {pair: result or None}}} from input lines."""
    runs = defaultdict(lambda: {s: {} for s in SIDES})
    for n, line in enumerate(lines, 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 3)
        if len(parts) < 2 or parts[1] not in SIDES:
            raise SystemExit(f"line {n}: expected '<pair> <side> [<workload>] <result>'")
        pair, side, rest = parts[0], parts[1], parts[2:]
        workload = "-"
        if rest and not rest[0].startswith("{"):
            workload, rest = rest[0], rest[1:]
        try:
            result = json.loads(" ".join(rest)) if rest else None
        except json.JSONDecodeError:
            result = None
        if not isinstance(result, dict) or "metrics" not in result:
            result = None
        runs[workload][side][pair] = result
    return runs


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def compare(parent, change, better, bound):
    """Summary of one metric over {pair: value} per side; a run whose
    pair has no run of the other side is left out."""
    pairs = sorted(set(parent) & set(change))
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p in pairs if sign * (change[p] - parent[p]) > 0)
    losses = sum(1 for p in pairs if sign * (change[p] - parent[p]) < 0)
    ps, cs = [parent[p] for p in pairs], [change[p] for p in pairs]
    pm, cm = quantile(ps, 0.5), quantile(cs, 0.5)
    p_iqr = quantile(ps, 0.75) - quantile(ps, 0.25)
    c_iqr = quantile(cs, 0.75) - quantile(cs, 0.25)
    gap = sign * (cm - pm)  # > 0: the change's median is better
    n = len(pairs)
    verdict = "drift"
    if wins >= WIN_SHARE * n and gap > p_iqr:
        verdict = "gain"
    elif losses >= WIN_SHARE * n and -gap > p_iqr:
        verdict = "loss"
    if n < MIN_PAIRS:
        verdict += f" (under {MIN_PAIRS} pairs)"
    pct = (cm - pm) / pm * 100 if pm else float("nan")
    if pm and -gap / abs(pm) > bound:
        verdict += ", PAST BOUND"
    return {"n": n, "wins": wins, "parent": (pm, p_iqr), "change": (cm, c_iqr),
            "pct": pct, "verdict": verdict}


def report(runs, metrics, out=sys.stdout):
    """Prints the comparison; returns the exit code."""
    code = 0
    for workload in sorted(runs):
        sides = runs[workload]
        print(f"{workload}: {len(set(sides['parent']) & set(sides['change']))} pairs", file=out)
        print(f"  {'metric':<15} {'parent median (IQR)':>22} {'change median (IQR)':>22}"
              f" {'change':>8} {'wins':>6}  verdict", file=out)
        for name, (better, bound) in metrics.items():
            vals = {s: {p: r["metrics"][name]["value"] for p, r in sides[s].items()
                        if r and name in r["metrics"]} for s in SIDES}
            if not set(vals["parent"]) & set(vals["change"]):
                continue
            c = compare(vals["parent"], vals["change"], better, bound)
            if "loss" in c["verdict"] or "BOUND" in c["verdict"]:
                code = 1
            (pm, pi), (cm, ci) = c["parent"], c["change"]
            print(f"  {name:<15} {pm:>12.4g} ({pi:>7.3g}) {cm:>12.4g} ({ci:>7.3g})"
                  f" {c['pct']:>+7.1f}% {c['wins']:>3}/{c['n']:<2}  {c['verdict']}"
                  f" ({better} is better)", file=out)
        for s in SIDES:
            results = sides[s].values()
            failed = sum(r["failed"] if r else 1 for r in results)
            attempted = sum(r["attempted"] if r else 1 for r in results)
            missing = sum(1 for r in results if r is None)
            note = f", {missing} runs without a result" if missing else ""
            print(f"  {s}: {failed}/{attempted} operations failed over {len(results)} runs{note}",
                  file=out)
    return code


def self_check():
    import io
    metrics = load_metrics()

    def lines(shift, seed=7):
        # ten pairs: a box-noise factor per pair (+-10%) both sides share,
        # a jitter per run (+-1%), and latency_s scaled by `shift` on the
        # change side
        out, x = [], seed

        def draw(spread):
            nonlocal x
            x = (x * 1103515245 + 12345) % 2 ** 31
            return 1 + (x % 1000 - 500) / 500 * spread

        for p in range(1, 11):
            box = draw(0.10)
            for side in SIDES:
                run = box * draw(0.01)
                lat = 4.0 * run * (shift if side == "change" else 1.0)
                res = {"correct": True, "attempted": 2, "failed": 0, "metrics": {
                    "latency_s": {"value": lat, "unit": "s"},
                    "items_per_s": {"value": 3000 / run, "unit": "1/s"}}}
                out.append(f"{p} {side} wl {json.dumps(res)}")
        return out

    def verdicts(ls):
        buf = io.StringIO()
        code = report(parse(ls), metrics, buf)
        text = buf.getvalue()
        row = {l.split()[0]: l for l in text.splitlines() if l.startswith("  ")}
        return code, row, text

    # identical sides: nothing is flagged
    ident = []
    for l in lines(1.0):
        pair, side, rest = l.split(None, 2)
        if side == "parent":
            ident += [l, f"{pair} change {rest}"]
    code, row, text = verdicts(ident)
    assert code == 0, text
    assert row["latency_s"].rstrip().endswith("drift (lower is better)"), text
    assert "0/10" in row["latency_s"], text
    # the same noise on both sides, a 30% cut in latency: a gain
    code, row, text = verdicts(lines(0.7))
    assert code == 0 and " gain " in row["latency_s"], text
    assert "drift" in row["items_per_s"], text
    # a 30% rise: a loss, and past the 0.25 bound
    code, row, text = verdicts(lines(1.3))
    assert code == 1 and "loss, PAST BOUND" in row["latency_s"], text
    # a 3% rise in every pair, inside the parent's quartile spread: drift
    code, row, text = verdicts(lines(1.03))
    assert code == 0 and "drift" in row["latency_s"] and "0/10" in row["latency_s"], text
    # a run without a result counts as a failed operation, and its pair
    # leaves the medians
    broken = ident[:-1] + ["10 change wl perfbench: the run exceeded 170 s"]
    code, row, text = verdicts(broken)
    assert "change: 1/19 operations failed over 10 runs, 1 runs without a result" in text, text
    assert "0/9   drift (under 10 pairs)" in row["latency_s"], text
    assert quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5 and quantile([5.0], 0.25) == 5.0
    print("perfbench_pairs self-check: ok")
    return 0


def main(argv):
    if argv == ["--self-check"]:
        return self_check()
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    lines = []
    for path in argv:
        with (sys.stdin if path == "-" else open(path)) as f:
            lines += f.readlines()
    return report(parse(lines), load_metrics())


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
