#!/usr/bin/env python3
"""Per-span diff of two perfbench traces.

Reads two trace files a traced perfbench run writes
(`.bench_build/traces/<workload>-seed<n>.json`, a JSON list of spans) and
prints, per span name, `wall_s`, `jobs`, `tasks`, `task_s`,
`shuffle_write_mb` and `output_mb` (the bytes its jobs wrote) for each
side and the change minus the parent. Spans that share a name (the
per-batch spans of curate_rights, the probe rounds of anonymize_batch)
are summed; `n` is how many there were on each side.
A span that only one side ran prints `-` for the other.

Take the two traces from the same workload and seed, one per checkout:

  python3 perfbench/run.py --workload anonymize_batch --seed 7 --trace 1
  python3 tools/perfbench_spans.py PARENT.json CHANGE.json
  python3 tools/perfbench_spans.py --self-check
"""
import json
import sys

COUNTERS = ("wall_s", "jobs", "tasks", "task_s", "shuffle_write_mb", "output_mb")


def load(path):
    """{span name: {"n": count, counter: sum}} in first-start order."""
    with open(path) as f:
        spans = json.load(f)
    out = {}
    for s in sorted(spans, key=lambda s: s["id"]):
        row = out.setdefault(s["name"], dict({"n": 0}, **{c: 0 for c in COUNTERS}))
        row["n"] += 1
        for c in COUNTERS:
            row[c] += s[c]
    return out


def fmt(v, counter):
    if v is None:
        return "-"
    if counter in ("jobs", "tasks"):
        return f"{v:g}"
    return f"{v:.3f}"


def diff(parent, change):
    """[(name, n_parent, n_change, {counter: (parent, change, delta)})]."""
    names = list(parent) + [n for n in change if n not in parent]
    rows = []
    for name in names:
        p, c = parent.get(name), change.get(name)
        vals = {}
        for k in COUNTERS:
            pv = p[k] if p else None
            cv = c[k] if c else None
            vals[k] = (pv, cv, cv - pv if p and c else None)
        rows.append((name, p["n"] if p else 0, c["n"] if c else 0, vals))
    return rows


def report(parent, change, out=sys.stdout):
    rows = diff(parent, change)
    width = max([len("span")] + [len(r[0]) for r in rows])
    head = f"{'span':<{width}} {'n':>5}"
    for k in COUNTERS:
        head += f" | {k + ' parent':>22} {'change':>9} {'delta':>9}"
    print(head, file=out)
    for name, np_, nc, vals in rows:
        line = f"{name:<{width}} {f'{np_}/{nc}':>5}"
        for k in COUNTERS:
            pv, cv, d = vals[k]
            delta = "-" if d is None else ("+" if d > 0 else "") + fmt(d, k)
            line += f" | {fmt(pv, k):>22} {fmt(cv, k):>9} {delta:>9}"
        print(line, file=out)


def self_check():
    import io
    import os
    import tempfile

    def span(i, name, wall, jobs, tasks, task_s, mb, out_mb=0.0):
        return {"workload": "w", "id": i, "name": name, "parent": -1, "iteration": 0,
                "start_ns": i, "end_ns": i + 1, "derived": False, "wall_s": wall,
                "self_s": wall, "jobs": jobs, "tasks": tasks, "task_s": task_s,
                "shuffle_write_mb": mb, "output_mb": out_mb}

    parent = [span(0, "validate.pii_scan", 3.7, 4, 8, 7.0, 2.9),
              span(1, "probe.staging", 0.3, 1, 4, 0.8, 0.0),
              span(2, "probe.staging", 0.5, 1, 4, 1.0, 0.0),
              span(3, "validate.gone", 1.0, 2, 2, 1.0, 0.0),
              span(4, "cli.rectify", 2.0, 30, 60, 4.0, 0.1, 5.23),
              span(5, "cli.incremental", 6.0, 40, 90, 9.0, 0.5, 4.0),
              span(6, "cli.incremental", 4.0, 40, 90, 7.0, 0.5, 5.81)]
    change = [span(0, "validate.pii_scan", 1.0, 2, 5, 2.4, 0.06),
              span(1, "probe.staging", 0.4, 1, 4, 0.9, 0.0),
              span(2, "probe.staging", 0.4, 1, 4, 0.9, 0.0),
              span(3, "validate.new", 0.5, 1, 1, 0.2, 0.0),
              span(4, "cli.rectify", 2.0, 30, 60, 4.0, 0.1, 2.51),
              span(5, "cli.incremental", 6.0, 38, 88, 9.0, 0.5, 1.5),
              span(6, "cli.incremental", 4.0, 40, 90, 7.0, 0.5, 2.81)]
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for name, spans in (("p.json", parent), ("c.json", change)):
            paths.append(os.path.join(d, name))
            with open(paths[-1], "w") as f:
                json.dump(spans, f)
        p, c = load(paths[0]), load(paths[1])
    rows = {r[0]: r for r in diff(p, c)}
    assert list(rows) == ["validate.pii_scan", "probe.staging", "validate.gone",
                          "cli.rectify", "cli.incremental", "validate.new"]
    _, np_, nc, v = rows["validate.pii_scan"]
    assert (np_, nc) == (1, 1)
    assert v["jobs"] == (4, 2, -2) and v["tasks"] == (8, 5, -3), v
    assert abs(v["shuffle_write_mb"][2] + 2.84) < 1e-9, v
    # repeated names are summed
    _, np_, nc, v = rows["probe.staging"]
    assert (np_, nc) == (2, 2) and v["jobs"] == (2, 2, 0), v
    assert abs(v["wall_s"][0] - 0.8) < 1e-9 and abs(v["task_s"][1] - 1.8) < 1e-9, v
    # a span one side lacks has no delta
    assert rows["validate.gone"][2] == 0 and rows["validate.gone"][3]["jobs"] == (2, None, None)
    assert rows["validate.new"][1] == 0 and rows["validate.new"][3]["jobs"] == (None, 1, None)
    # output bytes: per span and summed over repeated names
    o = rows["cli.rectify"][3]["output_mb"]
    assert o[:2] == (5.23, 2.51) and abs(o[2] + 2.72) < 1e-9, o
    o = rows["cli.incremental"][3]["output_mb"]
    assert abs(o[0] - 9.81) < 1e-9 and abs(o[1] - 4.31) < 1e-9 and abs(o[2] + 5.5) < 1e-9, o
    assert rows["cli.incremental"][3]["jobs"] == (80, 78, -2)
    buf = io.StringIO()
    report(p, c, buf)
    text = buf.getvalue().splitlines()
    assert len(text) == 7, text
    assert "output_mb parent" in text[0], text[0]
    line = next(l for l in text if l.startswith("validate.pii_scan"))
    assert "1/1" in line and "-2" in line and "-2.840" in line, line
    line = next(l for l in text if l.startswith("cli.rectify"))
    assert line.rstrip().endswith("5.230     2.510    -2.720"), line
    assert next(l for l in text if l.startswith("validate.gone")).count(" - ") >= 5, text
    print("perfbench_spans self-check: ok")


def main(argv):
    if argv == ["--self-check"]:
        self_check()
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    report(load(argv[0]), load(argv[1]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
