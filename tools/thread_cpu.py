#!/usr/bin/env python3
"""Per-thread CPU of the replbench JVM, summed over a traced run's triggers.

Usage:
    python3 tools/thread_cpu.py sample --out <samples.jsonl>
    python3 tools/thread_cpu.py report <samples.jsonl> <run.spans.jsonl>
    python3 tools/thread_cpu.py --selftest

`sample` waits up to 300 s for the benchmark JVM (`pgrep -f
'java.*replbench[.]Main'`; a plain `replbench.Main` pattern also matches
the `sh -c` running pgrep), then every 0.2 s reads utime + stime (fields
14 and 15 of `/proc/<pid>/task/<tid>/stat`, in clock ticks) and the
thread name of each of its threads, one JSON line per sample, until the
JVM exits. Start it
before `replbench/run.py --trace 1`, in a separate process. It reads /proc
only and needs no profiler.

`report` integrates the samples over each `trigger` span of the run's
`.spans.jsonl`: for every thread, the CPU between the last sample at or
before the span's start and the first sample at or after its end (a thread
born in between counts from zero; a thread that ended in between is lost,
which the sampling interval bounds). Threads group by name, which the
kernel cuts to 15 characters:

    task    Executor task launch worker ...   ("Executor task l")
    C2      C2 CompilerThread<n>
    C1      C1 CompilerThread<n>
    GC      GC Thread#<n>, G1 ...
    stream  stream execution thread for ...   ("stream executio")
    par     graft-par-<n> (the loader's worker pool)
    other   everything else

Per trigger it prints the bracketing wall time, CPU seconds per group, and
cores busy = CPU / wall; then the same over all triggers.
"""
import argparse
import json
import os
import subprocess
import sys
import time

GROUPS = ["task", "C2", "C1", "GC", "stream", "par", "other"]
JVM_PATTERN = "java.*replbench[.]Main"
INTERVAL_S = 0.2
WAIT_S = 300.0


def group_of(comm):
    if comm.startswith("Executor task"):
        return "task"
    if comm.startswith("C2 Compiler"):
        return "C2"
    if comm.startswith("C1 Compiler"):
        return "C1"
    if comm.startswith("GC ") or comm.startswith("G1 "):
        return "GC"
    if comm.startswith("stream executio"):
        return "stream"
    if comm.startswith("graft-par-"):
        return "par"
    return "other"


def parse_stat(line):
    """(comm, utime + stime ticks) of one /proc task stat line; the name
    sits in parentheses and may itself hold spaces or parentheses."""
    open_, close = line.index("("), line.rindex(")")
    rest = line[close + 2:].split()
    # rest[0] is field 3 (state): utime and stime are fields 14 and 15
    return line[open_ + 1:close], int(rest[11]) + int(rest[12])


def read_threads(pid):
    """{tid: [comm, ticks]} of every live thread of `pid`."""
    out = {}
    base = f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/stat") as f:
                out[tid] = list(parse_stat(f.read()))
        except (FileNotFoundError, ProcessLookupError):
            pass  # the thread ended between the listing and the read
    return out


def find_jvm():
    deadline = time.time() + WAIT_S
    while time.time() < deadline:
        r = subprocess.run(["pgrep", "-f", JVM_PATTERN],
                           capture_output=True, text=True)
        pids = [p for p in r.stdout.split() if int(p) != os.getpid()]
        if pids:
            return pids[0]
        time.sleep(0.05)
    return None


def sample(out):
    pid = find_jvm()
    if pid is None:
        sys.exit(f"thread_cpu: no process matched {JVM_PATTERN!r} in {WAIT_S:.0f}s")
    tck = os.sysconf("SC_CLK_TCK")
    n = 0
    with open(out, "w") as f:
        while True:
            t = time.time() * 1000.0
            try:
                threads = read_threads(pid)
            except FileNotFoundError:
                break  # the JVM exited
            f.write(json.dumps({"t": t, "tck": tck, "threads": threads}) + "\n")
            f.flush()
            n += 1
            time.sleep(INTERVAL_S)
    print(f"thread_cpu: {n} samples of pid {pid} in {out}")


def bracket(samples, start, end):
    """The last sample at or before `start` and the first at or after
    `end` (the nearest ones when the samples do not reach that far)."""
    before = [s for s in samples if s["t"] <= start] or samples[:1]
    after = [s for s in samples if s["t"] >= end] or samples[-1:]
    return before[-1], after[0]


def cpu_between(a, b):
    """CPU seconds per group between samples a and b."""
    tck = b["tck"]
    per = dict.fromkeys(GROUPS, 0.0)
    for tid, (comm, ticks) in b["threads"].items():
        prev = a["threads"].get(tid)
        # a tid reused by a new thread, or born after a, counts from zero
        base = prev[1] if prev and prev[0] == comm and prev[1] <= ticks else 0
        per[group_of(comm)] += (ticks - base) / tck
    return per


def triggers(spans):
    return sorted((s for s in spans if s.get("name") == "trigger"),
                  key=lambda s: s["start"])


def report_rows(samples, spans):
    rows = []
    for s in triggers(spans):
        a, b = bracket(samples, s["start"], s["end"])
        wall = (b["t"] - a["t"]) / 1000.0
        per = cpu_between(a, b)
        cpu = sum(per.values())
        rows.append({"trigger": s.get("trigger"),
                     "span_s": (s["end"] - s["start"]) / 1000.0,
                     "wall_s": wall, "cpu_s": cpu, "groups": per,
                     "cores_busy": cpu / wall if wall > 0 else float("nan")})
    return rows


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def print_report(rows):
    head = f"{'trigger':>7} {'span_s':>7} {'wall_s':>7} " + \
        " ".join(f"{g:>7}" for g in GROUPS) + f" {'cpu_s':>7} {'cores':>6}"
    print(head)

    def line(name, span, wall, groups, cpu):
        cores = cpu / wall if wall > 0 else float("nan")
        print(f"{name:>7} {span:7.2f} {wall:7.2f} " +
              " ".join(f"{groups[g]:7.2f}" for g in GROUPS) +
              f" {cpu:7.2f} {cores:6.2f}")

    for r in rows:
        line(str(r["trigger"]), r["span_s"], r["wall_s"], r["groups"], r["cpu_s"])
    if rows:
        total = {g: sum(r["groups"][g] for r in rows) for g in GROUPS}
        line("all", sum(r["span_s"] for r in rows),
             sum(r["wall_s"] for r in rows), total, sum(r["cpu_s"] for r in rows))


def selftest():
    assert parse_stat("7 (C2 CompilerThre) S 1 2 3 4 5 6 7 8 9 10 250 50 0") == \
        ("C2 CompilerThre", 300)
    assert parse_stat("8 (a (b) c) R 1 2 3 4 5 6 7 8 9 10 3 4 0")[0] == "a (b) c"
    assert [group_of(c) for c in ["Executor task l", "C2 CompilerThre",
            "C1 CompilerThre", "GC Thread#3", "G1 Conc#0", "stream executio",
            "graft-par-2", "VM Thread"]] == \
        ["task", "C2", "C1", "GC", "GC", "stream", "par", "other"]
    samples = [
        {"t": 0.0, "tck": 100, "threads": {"1": ["Executor task l", 100],
                                           "2": ["C2 CompilerThre", 50]}},
        {"t": 1000.0, "tck": 100, "threads": {"1": ["Executor task l", 180],
                                              "2": ["C2 CompilerThre", 90],
                                              "3": ["graft-par-1", 20]}},
        {"t": 2000.0, "tck": 100, "threads": {"1": ["Executor task l", 200],
                                              "2": ["C2 CompilerThre", 90],
                                              "3": ["stream executio", 5]}},
    ]
    spans = [{"name": "trigger", "trigger": 0, "start": 100.0, "end": 900.0},
             {"name": "job.1", "start": 0.0, "end": 1.0},
             {"name": "trigger", "trigger": 1, "start": 1000.0, "end": 2000.0}]
    rows = report_rows(samples, spans)
    assert len(rows) == 2
    r0, r1 = rows
    # trigger 0 (100-900 ms) brackets samples 0 and 1: task 0.8 s, C2
    # 0.4 s, and the pool thread born in between 0.2 s
    assert abs(r0["wall_s"] - 1.0) < 1e-9, r0
    assert abs(r0["groups"]["task"] - 0.8) < 1e-9, r0
    assert abs(r0["groups"]["C2"] - 0.4) < 1e-9, r0
    assert abs(r0["groups"]["par"] - 0.2) < 1e-9, r0
    assert abs(r0["cores_busy"] - 1.4) < 1e-9, r0
    # trigger 1 brackets samples 1 and 2 exactly; tid 3 was reused by a
    # new thread, which counts from zero
    assert abs(r1["wall_s"] - 1.0) < 1e-9, r1
    assert abs(r1["groups"]["task"] - 0.2) < 1e-9, r1
    assert abs(r1["groups"]["stream"] - 0.05) < 1e-9, r1
    assert r1["groups"]["par"] == 0.0 and r1["groups"]["C2"] == 0.0, r1
    assert abs(r1["cores_busy"] - 0.25) < 1e-9, r1
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--selftest", action="store_true")
    sub = ap.add_subparsers(dest="cmd")
    sp = sub.add_parser("sample", help="sample the benchmark JVM's threads")
    sp.add_argument("--out", required=True)
    rp = sub.add_parser("report", help="CPU per group over each trigger span")
    rp.add_argument("samples")
    rp.add_argument("spans")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif args.cmd == "sample":
        sample(args.out)
    elif args.cmd == "report":
        print_report(report_rows(read_jsonl(args.samples), read_jsonl(args.spans)))
    else:
        ap.print_help()
        sys.exit(2)


if __name__ == "__main__":
    main()
