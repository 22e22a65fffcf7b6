#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

Usage:
    python3 tools/bench_pairs.py <parentDir> <changeDir> [--workload <name>] \\
        --seeds <first>-<last> [--save <runs.jsonl>]
    python3 tools/bench_pairs.py --selftest

Without --workload, every workload of the change's BENCHMARK.json runs in
turn, each over the same seeds, and each gets its own report.

Each checkout runs the `command` of its own BENCHMARK.json with that file's
`run_seconds`, untraced, one run at a time: for each seed both sides run
back to back, the parent first on odd seeds and the change first on even
seeds. Every run is printed as it ends. Then, for each end-to-end metric of
the change's BENCHMARK.json:

  - each side's median (q1-q3), quartiles interpolated linearly;
  - how many pairs the change wins, by the metric's `better`;
  - whether a gain holds: the change wins at least 9 of every 10 pairs and
    its median beats the parent's by more than the parent's q3 - q1;
  - whether the change's median stays within the metric's `bound`, a
    fraction of the parent's median;
  - whether the metric is unresolved: the parent's own q3 - q1 exceeds
    bound x its median, so the runs spread too widely to tell a move
    within the bound from noise — unless every change run beats every
    parent run.

A run that is not `correct`, has `failed` > 0 or does not finish is
flagged. The exit status is 1 when, in any workload, a run is flagged or a
median is out of its bound or unresolved, else 0. The script reads BENCHMARK.json and writes nothing in
either checkout besides what the benchmark command itself writes.
"""
import argparse
import contextlib
import io
import json
import math
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def wins(parent, change, better):
    """Pairs in which the change's value is strictly better."""
    if better == "higher":
        return sum(c > p for p, c in zip(parent, change))
    return sum(c < p for p, c in zip(parent, change))


def summarize(parent, change, better, bound):
    """The paired figures of one metric over runs that pair up by index."""
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    won = wins(parent, change, better)
    gap = cm - pm if better == "higher" else pm - cm
    gain = won >= math.ceil(0.9 * len(parent)) and gap > p3 - p1
    if better == "higher":
        within = cm >= pm * (1 - bound)
        dominates = min(change) > max(parent)
    else:
        within = cm <= pm * (1 + bound)
        dominates = max(change) < min(parent)
    unresolved = p3 - p1 > bound * pm and not dominates
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "wins": won,
            "pairs": len(parent), "gain": gain, "within_bound": within,
            "unresolved": unresolved}


def run_once(checkout, bench, workload, seed):
    """One benchmark run in `checkout`; its result JSON, or None."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"])]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def flagged(result):
    return (result is None or not result.get("correct")
            or result.get("failed", 0) > 0)


def value(result, metric):
    m = (result or {}).get("metrics", {}).get(metric)
    return None if m is None else m["value"]


def seed_range(text):
    first, _, last = text.partition("-")
    return list(range(int(first), int(last or first) + 1))


def report(bench, runs):
    """Print the per-metric table over the pairs where both sides ran;
    return True when every run is clean and every median within bound."""
    ok = not any(flagged(r[side]) for r in runs for side in ("parent", "change"))
    for m in bench["end_to_end"]:
        name = m["name"]
        pairs = [(value(r["parent"], name), value(r["change"], name))
                 for r in runs]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name}: no complete pair")
            ok = False
            continue
        s = summarize([p for p, _ in pairs], [c for _, c in pairs],
                      m["better"], m["bound"])
        (p1, pm, p3), (c1, cm, c3) = s["parent"], s["change"]
        change = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']}): "
              f"parent {pm:.1f} ({p1:.1f}-{p3:.1f}) -> change {cm:.1f} "
              f"({c1:.1f}-{c3:.1f}), {change:+.1f}%; change wins "
              f"{s['wins']}/{s['pairs']}; gain rule "
              f"{'holds' if s['gain'] else 'does not hold'}; "
              f"{'within' if s['within_bound'] else 'OUT OF'} bound"
              + (f"; UNRESOLVED (parent q3-q1 {p3 - p1:.1f} > bound x "
                 f"median {m['bound'] * pm:.1f})" if s["unresolved"] else ""))
        ok = ok and s["within_bound"] and not s["unresolved"]
    return ok


def run_pairs(dirs, bench, workload, seeds, save=None, runner=run_once):
    """The pairs of one workload, each run printed as it ends."""
    runs = []
    for seed in seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        pair = {"workload": workload, "seed": seed}
        for side in order:
            r = runner(dirs[side], bench, workload, seed)
            pair[side] = r
            metrics = {k: round(v["value"], 1)
                       for k, v in (r or {}).get("metrics", {}).items()}
            print(f"{workload} seed {seed} {side}: "
                  f"{'FLAGGED ' if flagged(r) else ''}"
                  f"correct={(r or {}).get('correct')} "
                  f"failed={(r or {}).get('failed')} {metrics}", flush=True)
        runs.append(pair)
        if save:
            with open(save, "a") as f:
                f.write(json.dumps(pair) + "\n")
    return runs


def run_all(dirs, bench, workloads, seeds, save=None, runner=run_once):
    """Each workload's pairs, then its report; True when every report is."""
    ok = True
    for workload in workloads:
        runs = run_pairs(dirs, bench, workload, seeds, save, runner)
        print(f"== {workload}")
        ok = report(bench, runs) and ok
    return ok


def selftest():
    parent = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    assert quartiles(parent) == (12.25, 14.5, 16.75)
    faster = [p + 5 for p in parent]
    s = summarize(parent, faster, "higher", 0.25)
    assert s["wins"] == 10 and s["gain"] and s["within_bound"], s
    # a gap of 4 is below the parent's q3 - q1 = 4.5: no gain
    s = summarize(parent, [p + 4 for p in parent], "higher", 0.25)
    assert s["wins"] == 10 and not s["gain"], s
    # 8 of 10 wins is too few, however large the gap
    mixed = [p + 20 for p in parent[:8]] + [p - 1 for p in parent[8:]]
    s = summarize(parent, mixed, "higher", 0.25)
    assert s["wins"] == 8 and not s["gain"], s
    # lower is better: +30% is out of a 0.25 bound, +20% within
    s = summarize(parent, [p * 1.3 for p in parent], "lower", 0.25)
    assert s["wins"] == 0 and not s["within_bound"], s
    s = summarize(parent, [p * 1.2 for p in parent], "lower", 0.25)
    assert s["within_bound"] and not s["gain"], s
    # higher is better: -30% is out of the bound, ties win nothing
    s = summarize(parent, [p * 0.7 for p in parent], "higher", 0.25)
    assert not s["within_bound"], s
    assert summarize(parent, parent, "higher", 0.25)["wins"] == 0
    # the parent's q3 - q1 = 4.5 exceeds 0.25 x 14.5: unresolved, unless
    # every change run beats every parent run; a 0.5 bound resolves it
    assert summarize(parent, [p + 4 for p in parent], "higher", 0.25)["unresolved"]
    assert not summarize(parent, [p + 10 for p in parent], "higher", 0.25)["unresolved"]
    assert summarize(parent, [p - 4 for p in parent], "lower", 0.25)["unresolved"]
    assert not summarize(parent, [p - 10 for p in parent], "lower", 0.25)["unresolved"]
    assert not summarize(parent, parent, "higher", 0.5)["unresolved"]
    assert flagged(None) and flagged({"correct": False, "failed": 0})
    assert flagged({"correct": True, "failed": 1})
    assert not flagged({"correct": True, "failed": 0})
    assert seed_range("611-620") == list(range(611, 621))
    assert seed_range("7") == [7]
    # every workload runs and reports; one flagged run fails the whole
    bench = {"end_to_end": [{"name": "m", "unit": "1/s", "better": "higher",
                             "bound": 0.25}]}
    ran = []

    def fake(checkout, bench, workload, seed, bad=None):
        ran.append((workload, checkout, seed))
        return {"correct": workload != bad, "failed": 0,
                "metrics": {"m": {"value": 100.0 + seed % 3}}}
    dirs = {"parent": "p", "change": "c"}
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run_all(dirs, bench, ["a", "b"], [1, 2, 3], runner=fake)
        assert not run_all(dirs, bench, ["a", "b"], [1, 2, 3],
                           runner=lambda *a: fake(*a, bad="b"))
    assert [w for w, _, _ in ran] == ["a"] * 6 + ["b"] * 6 + ["a"] * 6 + ["b"] * 6
    assert [c for _, c, _ in ran[:4]] == ["p", "c", "c", "p"]
    assert out.getvalue().count("== a") == 2 and out.getvalue().count("== b") == 2
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="first-last, inclusive")
    ap.add_argument("--save", help="append each pair as a JSON line here")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
        return
    if not (args.parent and args.change and args.seeds):
        ap.error("parent, change and --seeds are required")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = ([args.workload] if args.workload
                 else [w["name"] for w in bench["workloads"]])
    ok = run_all({"parent": args.parent, "change": args.change}, bench,
                 workloads, seed_range(args.seeds), args.save)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
