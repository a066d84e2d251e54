#!/usr/bin/env python3
"""CPU time of one benchmark run's JVM, by thread group and by second.

    python3 tools/thread_cpu.py --workload store_search --seed 1 --seconds 12 --trace 0
    python3 tools/thread_cpu.py --interval 0.1 --from 30 --to 42 -- --workload crane_stream --seed 1 --seconds 12 --trace 0

The arguments after the tool's own options (or after `--`) go to
`python3 perfbench/run.py` unchanged; the run is not modified in any way and
needs no profiler and no JVM flag. While it runs, the tool finds the
benchmark JVM (the child whose command line names `perfbench.Main`) and reads
`/proc/<pid>/task/*/stat` every `--interval` seconds: each thread's name and
its user + system CPU time. Threads are grouped by name:

    C1 compiler, C2 compiler   the JIT compiler threads
    GC                         G1/parallel GC workers, markers, refiners
    VM                         the VM thread and other VM service threads
    main                       the benchmark's own thread (kernel name "java")
    stream execution           Structured Streaming query threads
    executor tasks             Spark task threads ("Executor task launch ...")
    exchange                   broadcast/shuffle exchange and subquery threads
    other                      everything else

The run's own output goes to stderr. On stdout come the CPU seconds per
group over the JVM's life (or over the `--from`/`--to` window, in seconds
since the JVM was first seen), then a per-second timeline in milliseconds.
A thread's CPU after the last sample before it exits is not counted; at the
default interval of 0.2 s that is at most 0.2 s per exiting thread.
"""
import argparse
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TICK = os.sysconf("SC_CLK_TCK")
GROUPS = ["C1 compiler", "C2 compiler", "GC", "VM", "main", "stream execution",
          "executor tasks", "exchange", "other"]


def group(name):
    """The group of a thread, by its (15-character) kernel name."""
    n = name.lower()
    if n.startswith("c1 compiler"):
        return "C1 compiler"
    if n.startswith("c2 compiler"):
        return "C2 compiler"
    if n.startswith(("gc ", "g1 ", "gc-", "parallel gc")) or "gc thread" in n:
        return "GC"
    if n.startswith(("vm thread", "signal dispatch", "service thread", "sweeper",
                     "finalizer", "reference handl", "common-cleaner",
                     "monitor deflati", "notification t", "vm periodic")):
        return "VM"
    if n in ("main", "java"):  # the launcher's main thread keeps the name "java"
        return "main"
    if n.startswith("stream executio"):
        return "stream execution"
    if n.startswith("executor task"):
        return "executor tasks"
    if n.startswith(("broadcast-excha", "shuffle-exchang", "subquery", "dynamicpruning",
                     "querystagecreat", "broadcast-hash")):
        return "exchange"
    return "other"


def children(pid):
    """Pids whose parent is `pid`."""
    out = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
                out.append(int(d.name))
    return out


def find_jvm(pid):
    """The benchmark JVM among `pid`'s children, or None."""
    for c in children(pid):
        try:
            cmd = (Path("/proc") / str(c) / "cmdline").read_bytes()
        except OSError:
            continue
        if b"perfbench.Main" in cmd:
            return c
    return None


def sample(jvm):
    """{tid: (name, cpu seconds)} for every live thread of `jvm`."""
    out = {}
    try:
        tasks = list((Path("/proc") / str(jvm) / "task").iterdir())
    except OSError:
        return out
    for t in tasks:
        try:
            stat = (t / "stat").read_text()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        f = stat[stat.rindex(")") + 2:].split()
        out[int(t.name)] = (name, (int(f[11]) + int(f[12])) / TICK)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--interval", type=float, default=0.2, help="seconds between samples")
    ap.add_argument("--from", dest="start", type=float, default=0.0,
                    help="window start, seconds since the JVM was first seen")
    ap.add_argument("--to", dest="end", type=float, default=float("inf"),
                    help="window end, seconds since the JVM was first seen")
    args, run_args = ap.parse_known_args()
    if run_args[:1] == ["--"]:
        run_args = run_args[1:]
    run = subprocess.Popen([sys.executable, "perfbench/run.py"] + run_args, cwd=ROOT,
                           stdout=sys.stderr)
    jvm, t0 = None, None
    last = {}      # tid -> (name, cpu seconds) at its latest sample
    timeline = []  # (seconds since t0, {group: cpu seconds since the previous sample})
    try:
        while run.poll() is None:
            if jvm is None:
                jvm = find_jvm(run.pid)
                t0 = time.monotonic()
            if jvm is not None:
                now = sample(jvm)
                delta = dict.fromkeys(GROUPS, 0.0)
                for tid, (name, cpu) in now.items():
                    delta[group(name)] += cpu - last.get(tid, (name, 0.0))[1]
                    last[tid] = (name, cpu)
                if now:
                    timeline.append((time.monotonic() - t0, delta))
            time.sleep(args.interval)
    except KeyboardInterrupt:
        run.terminate()
    rc = run.wait()
    if not timeline:
        print("# no perfbench JVM was seen", file=sys.stderr)
        return rc or 1

    window = [(t, d) for t, d in timeline if args.start <= t <= args.end]
    totals = {g: sum(d[g] for _, d in window) for g in GROUPS}
    total = sum(totals.values())
    span = (f"{window[0][0]:.1f}-{window[-1][0]:.1f} s" if window else "empty")
    print(f"# thread CPU by group, window {span} of the JVM's "
          f"{timeline[-1][0]:.1f} s, {len(last)} threads seen")
    for g in sorted(GROUPS, key=lambda g: -totals[g]):
        share = totals[g] / total if total else 0.0
        print(f"{g:18s} {totals[g]:9.2f} s  {share:6.1%}")
    print(f"{'total':18s} {total:9.2f} s")
    print("# timeline: CPU ms per second of the JVM's life")
    print("second  " + " ".join(f"{g[:10]:>10s}" for g in GROUPS) + "      total")
    seconds = {}
    for t, d in timeline:
        row = seconds.setdefault(int(t), dict.fromkeys(GROUPS, 0.0))
        for g in GROUPS:
            row[g] += d[g]
    for s in sorted(seconds):
        row = seconds[s]
        print(f"{s:6d}  " + " ".join(f"{row[g] * 1000:10.0f}" for g in GROUPS)
              + f" {sum(row.values()) * 1000:10.0f}")
    print(f"# run.py exit code {rc}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
