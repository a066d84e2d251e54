"""Benchmark entry point: build, run one workload in a fresh JVM, check its
outputs, and print one JSON result line last on stdout.

    python3 perfbench/run.py --workload crane_stream --seed 1 --seconds 12 --trace 0

With --trace 0 the result carries the end-to-end metrics (tracing off).
With --trace 1 it carries the per-layer metrics: a traced pass follows the
untraced one in the same JVM, the difference between the two is the tracing
overhead, and crane_stream also drains its backlog under local[1] as the
single-threaded baseline. Per-layer metrics of a layer the workload does not
use read 0. Lines before the result start with '#' and give the run context,
every figure under its workload-specific name with its unit and sample count,
and each output check. README.md explains the workloads, the metrics and what
each layer metric should move.

store_sync runs only when named here by hand; BENCHMARK.json leaves it out
(README.md says why).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# The metric names and units come from BENCHMARK.json at the checkout root.
SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["store_sync"]
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
] + ["-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     "-Dspark.sql.streaming.numRecentProgressUpdates=100000"]


def cpu_probe_ms():
    """A fixed CPU task; a loaded host shows here before it shows anywhere."""
    buf = b"x" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(40):
        hashlib.sha256(buf).digest()
    return (time.perf_counter() - t0) * 1000


def cpu_jiffies():
    """(steal, total) jiffies from the first line of /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def run_jvm(classes, workload, seed, seconds, trace, cores):
    work = build.BUILD_DIR / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "report.json"
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java"] + JAVA_OPTS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--work", str(work), "--out", str(out)])
    log = work / "jvm.log"
    try:
        with open(log, "w") as f:
            p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=build.ROOT)

            def stop(signum, _frame):
                p.kill()
                p.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError(f"{workload} JVM exceeded {JVM_TIMEOUT_S}s")
        if not out.exists():
            raise RuntimeError(f"{workload} JVM wrote no report (exit {p.returncode}):\n"
                               + log.read_text()[-3000:])
        rep = json.loads(out.read_text())
        if (work / "spans.jsonl").exists():
            traces = build.BUILD_DIR / "traces"
            traces.mkdir(exist_ok=True)
            dest = traces / f"{workload}-seed{seed}.jsonl"
            shutil.copy(work / "spans.jsonl", dest)
            rep["spans_file"] = str(dest.relative_to(build.ROOT))
        return rep
    finally:
        shutil.rmtree(work, ignore_errors=True)


def show(rep):
    """Every figure the run took, by name, with unit and sample count."""
    for k, v in rep["context"].items():
        print(f"# context {k} = {v}")
    for group in ["named", "e2e", "layer"]:
        for k, m in rep[group].items():
            v = "nan" if m["value"] is None else f"{m['value']:.4f}"
            print(f"# {group} {rep['workload']} {k} = {v} {m['unit']} (n={m['n']})")
    for c in rep["checks"]:
        if not c["ok"]:
            print(f"# check FAILED {c['name']}: {c['detail']}")
    n_ok = sum(c["ok"] for c in rep["checks"])
    print(f"# checks passed {n_ok}/{len(rep['checks'])}")
    share = rep["failed"] / max(1, rep["attempted"])
    print(f"# ops_failed_share = {share:.6f} ratio ({rep['failed']}/{rep['attempted']})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    probe_before = cpu_probe_ms()
    steal0, total0 = cpu_jiffies()
    try:
        rep = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, cores)
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    steal1, total1 = cpu_jiffies()
    probe_after = cpu_probe_ms()
    print(f"# context nproc = {os.cpu_count()}, spark_cores = {cores}, seed = {a.seed}, "
          f"cpu_probe_ms before = {probe_before:.1f}, after = {probe_after:.1f}, "
          f"cpu_steal_share = {(steal1 - steal0) / max(1, total1 - total0):.4f}")
    show(rep)
    correct = rep["correct"]
    if a.trace:
        layer = rep["layer"]
        metrics = {k: {"value": (layer.get(k) or {}).get("value") or 0.0, "unit": u}
                   for k, u in PER_LAYER.items()}
        if "spans_file" in rep:
            print(f"# spans written to {rep['spans_file']}")
    else:
        e2e = rep["e2e"]
        missing = [k for k in END_TO_END if k not in e2e or e2e[k]["value"] is None]
        if missing:
            print(f"# end-to-end metrics not measured: {', '.join(missing)}")
            return 1
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
