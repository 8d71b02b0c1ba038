#!/usr/bin/env python3
"""Standing per-round bench adjudication (VERDICT r6 ask #7): compare the
min-over-captures per-query seconds of this round's bench runs against the
previous round's, over ALL queries both rounds share, and flag anything past
the noise band for a mandatory plan-diff or noise adjudication before it can
be called a regression. The r5 noise episode (a 2x capture that three clean
re-runs showed was box noise) is the reason this is a standing artifact.

Usage:
  python3 tools/bench_adjudicate.py PREV.json RUN1.json [RUN2.json ...]

ANCHORING RULE (r14, VERDICT r13 ask #7): cross-round comparisons anchor on
the DRIVER's artifacts — PREV.json is the previous round's driver
BENCH_rNN.json (or the bench_results.json the driver's run wrote), and the
primary RUN is the current round's driver capture when one exists. Builder
captures may ride along as extra RUNx evidence, but they supplement the
driver baseline, never replace it. A capture whose warmup canary deviates
>1.5x from the best capture is FLAGGED as load-contaminated — flagged, not
excluded and not substituted: a regression verdict must not rest on a
contaminated capture alone, and an improvement claim must not rest on
discarding the driver's numbers (the r13 adjudication substituted a
builder-chosen baseline and headlined "zero regressions" while the driver's
HEAD run regressed 9 queries — this rule exists so that cannot recur).

PREV.json may be a prior round's bench_results.json / raw graft.Bench line
(with a `queries_min` or `queries` dict) or a driver BENCH_rNN.json wrapper
whose truncated `tail` string still carries per-query numbers. RUNx.json are
this round's captures (raw bench lines); per query the MIN across captures
is compared — min-vs-min is the noise-robust statistic.

STABLE-SHIFT RULE: when a query's driver samples (RUN1's) agree with each
other (max/min <= 1.3x) and every one of them sits >= 1.3x off the prior
driver median (PREV's samples, or PREV's value when it carries none), the
shift is classified REAL, not noise, whatever the min-vs-min band says: a
stable regression inside the 1.5x band is still a regression (VERDICT r14's
q_distinct_sample and q_retention_ttl), and a stable improvement is a real
one.

Exit code: 0 when every shared query is within the band and no stable
regression is found, 1 otherwise.

Self-check of the stable-shift rule on synthetic inputs:
  python3 tools/bench_adjudicate.py --self-check
"""
import json
import re
import sys

BAND = 1.5  # min-vs-min ratio beyond which a named plan diff is required
AGREE = 1.3  # driver samples agree when max/min is within this
SHIFT = 1.3  # ... and are a real shift when all sit this far off the prior


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def stable_shift(samples, prior_median):
    """'regression' or 'improvement' when the driver samples agree and all
    sit >= SHIFT off the prior driver median; None otherwise (noise, or
    too few samples to tell)."""
    if len(samples) < 2 or prior_median <= 0 or min(samples) <= 0:
        return None
    if max(samples) / min(samples) > AGREE:
        return None
    if min(samples) >= SHIFT * prior_median:
        return "regression"
    if max(samples) * SHIFT <= prior_median:
        return "improvement"
    return None


def self_check():
    assert stable_shift([1.40, 1.45, 1.42], 1.0) == "regression"
    assert stable_shift([0.70, 0.72, 0.75], 1.0) == "improvement"
    # agreeing samples inside the shift band: noise
    assert stable_shift([1.20, 1.25, 1.22], 1.0) is None
    # samples that disagree (max/min > 1.3): noise, even if far off
    assert stable_shift([1.40, 2.10, 1.50], 1.0) is None
    # one sample near the prior is enough to withhold 'real'
    assert stable_shift([1.25, 1.40, 1.42], 1.0) is None
    assert stable_shift([1.5], 1.0) is None
    assert stable_shift([1.5, 1.5], 0.0) is None
    assert median([3.0, 1.0, 2.0]) == 2.0 and median([1.0, 2.0]) == 1.5
    # end to end: a stable 1.35x regression inside the 1.5x min-vs-min
    # band fails the adjudication; the same shift in scattered samples
    # does not
    import contextlib
    import io
    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        def art(name, samples):
            path = os.path.join(d, name)
            counts = {"jobs": 4, "stages": 6, "tasks": 24, "task_s": 0.5}
            json.dump({"queries": {"q_a": min(samples), "q_b": 1.0},
                       "samples": {"q_a": samples, "q_b": [1.0, 1.0]},
                       "counters": {"q_a": counts, "q_b": counts}},
                      open(path, "w"))
            return path
        prev = art("prev.json", [1.0, 1.02, 0.98])
        stable = art("stable.json", [1.35, 1.37, 1.36])
        scattered = art("scattered.json", [1.35, 1.9, 1.1])
        with contextlib.redirect_stdout(io.StringIO()):
            assert main(prev, [stable]) == 1
            assert main(prev, [scattered]) == 0
    print("bench_adjudicate self-check: ok")
    return 0


def load_samples(path):
    """Per-query sample arrays, when the artifact carries them (round 10+:
    graft.Bench emits `samples`, 6 per sub-second query) — the variance
    data a breach adjudication must cite instead of plan-identity argument
    (VERDICT r9 'what's wrong' #2)."""
    try:
        d = json.load(open(path))
    except Exception:
        return {}
    s = d.get("samples")
    if isinstance(s, dict):
        return s
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("samples"), dict):
        return parsed["samples"]
    return {}


def load_warmup(path):
    """The capture's warmup-pass wall time (round 13+: graft.Bench emits
    `warmup_sec`). The warmup is the same work in every capture of one
    build, so across captures it varies only with box load — the
    mechanical contamination signal (the r12 driver capture's false 1.45x
    headline is why this exists)."""
    try:
        d = json.load(open(path))
    except Exception:
        return None
    w = d.get("warmup_sec")
    if isinstance(w, (int, float)):
        return float(w)
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and isinstance(
            parsed.get("warmup_sec"), (int, float)):
        return float(parsed["warmup_sec"])
    return None


WARMUP_BAND = 1.5  # warmup ratio vs the best capture beyond which a
                   # capture is marked load-contaminated


def load_queries(path):
    d = json.load(open(path))
    q = d.get("queries_min") or d.get("queries")
    if q:
        return q
    parsed = d.get("parsed")
    if isinstance(parsed, dict):
        q = parsed.get("queries_min") or parsed.get("queries")
        if q:
            return q
    tail = d.get("tail")
    if tail:
        # driver wrapper with a (possibly truncated) stdout tail: scrape
        # whatever per-query numbers survive
        return {
            name: float(val)
            for name, val in re.findall(r'"(q[0-9a-z_]+)":([0-9.]+)', tail)
        }
    raise SystemExit(f"{path}: no queries/queries_min/tail found")


def main(prev_path, run_paths):
    prev = {k: v for k, v in load_queries(prev_path).items() if v > 0}
    runs = [load_queries(p) for p in run_paths]

    # mechanical contamination check: a capture whose warmup-pass wall
    # time deviates >WARMUP_BAND from the best capture ran under external
    # load — marked (not excluded: the per-query MIN is already robust to
    # inflation, but a marked capture must not drive a regression verdict
    # on its own)
    warmups = [(p, load_warmup(p)) for p in run_paths]
    known = [w for _, w in warmups if w is not None]
    if known:
        best = min(known)
        print("capture warmups (load canary; same work per capture):")
        pw = load_warmup(prev_path)
        if pw is not None:
            # context only, never flagged: the prev anchor ran a DIFFERENT
            # build, so its warmup is not the same work as this round's
            print(f"  {prev_path}: {pw:.1f}s (prev anchor — different "
                  "build, not judged)")
        for p, w in warmups:
            if w is None:
                print(f"  {p}: no warmup_sec (pre-round-13 artifact)")
            elif w > best * WARMUP_BAND:
                print(f"  {p}: {w:.1f}s — CONTAMINATED "
                      f"({w / best:.2f}x the best capture's {best:.1f}s; "
                      "external load during the run; flagged, not excluded)")
            else:
                print(f"  {p}: {w:.1f}s")
        print()
    cur = {}
    for name in set().union(*[set(r) for r in runs]):
        vals = [r[name] for r in runs if r.get(name, -1) > 0]
        if vals:
            cur[name] = min(vals)

    shared = sorted(set(prev) & set(cur))
    only_prev = sorted(set(prev) - set(cur))
    only_cur = sorted(set(cur) - set(prev))

    rows = [(name, prev[name], cur[name], cur[name] / prev[name])
            for name in shared]
    rows.sort(key=lambda r: -r[3])

    print(f"{'query':26s} {'prev_min':>9s} {'cur_min':>9s} {'ratio':>7s}  verdict")
    flagged = []
    for name, p, c, ratio in rows:
        verdict = "within band" if ratio <= BAND else "NEEDS ADJUDICATION"
        if ratio > BAND:
            flagged.append((name, ratio))
        print(f"{name:26s} {p:9.3f} {c:9.3f} {ratio:6.2f}x  {verdict}")

    tp = sum(prev[n] for n in shared)
    tc = sum(cur[n] for n in shared)
    print(f"\nshared queries: {len(shared)}  "
          f"total prev {tp:.1f}s -> cur {tc:.1f}s ({tc / tp:.2f}x)")
    if only_cur:
        print(f"new this round ({len(only_cur)}): {', '.join(only_cur)}")
    if only_prev:
        print(f"dropped since prev ({len(only_prev)}): {', '.join(only_prev)}")
    # the stable-shift rule over the driver capture (RUN1) against the
    # prior driver median
    driver = load_samples(run_paths[0])
    prior = load_samples(prev_path)
    shifts = []
    for name in shared:
        ss = driver.get(name)
        if not ss:
            continue
        pm = median(prior[name]) if prior.get(name) else prev[name]
        kind = stable_shift(ss, pm)
        if kind:
            shifts.append((name, kind, median(ss) / pm))
    real_regressions = [s for s in shifts if s[1] == "regression"]
    if shifts:
        print(f"\nstable shifts (driver samples agree within {AGREE:.1f}x and "
              f"all sit >= {SHIFT:.1f}x off the prior driver median) — REAL, "
              "not noise:")
        for name, kind, r in shifts:
            print(f"  {name}: real {kind} ({r:.2f}x the prior median)")
    if flagged:
        print(f"\n{len(flagged)} queries past the {BAND:.1f}x band — each needs "
              "a named plan diff or a clean-box noise adjudication:")
        samples = [load_samples(p) for p in run_paths]
        for name, ratio in flagged:
            print(f"  {name}: {ratio:.2f}x")
            for label, smap in [("prev", prior)] + [
                    (f"run{i + 1}", s) for i, s in enumerate(samples)]:
                ss = smap.get(name)
                if ss:
                    lo, hi = min(ss), max(ss)
                    spread = (hi / lo) if lo > 0 else float("inf")
                    print(f"    {label} samples: "
                          f"[{', '.join(f'{x:.3f}' for x in ss)}] "
                          f"spread {spread:.2f}x")
    if flagged or real_regressions:
        return 1
    print(f"\nall shared queries within the {BAND:.1f}x min-vs-min band")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        sys.exit(self_check())
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2:]))
