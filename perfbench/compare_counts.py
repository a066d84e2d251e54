"""Compare the Spark job and task counts of two traced runs, call by call.

    python3 perfbench/compare_counts.py .bench_build/traces/a.jsonl .bench_build/traces/b.jsonl

Each argument is a spans file written by `run.py --trace 1`. Every span that
owns Spark jobs is keyed by its operation id and name (for example
`q3 operators.bm25.exec` or `v4 operators.sync_text`), and its job and task
counts are compared. The script prints every key whose counts differ and
exits 1 if any do, so a counter that a later change claims to lower can be
shown to repeat exactly first.
"""
import json
import sys
from collections import defaultdict


def counts(path):
    spans = [json.loads(line) for line in open(path) if line.strip()]
    by_id = {s["id"]: s for s in spans}
    out = defaultdict(lambda: [0, 0])
    for s in spans:
        if s["name"] == "spark.job" and s["parent"] in by_id:
            p = by_id[s["parent"]]
            c = out[f"{p['op']} {p['name']}"]
            c[0] += 1
            c[1] += s["tasks"]
    return out


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = counts(sys.argv[1]), counts(sys.argv[2])
    # streaming spans are keyed by batch; only calls present in both compare
    keys = sorted(set(a) & set(b))
    diff = [k for k in keys if a[k] != b[k]]
    for k in diff:
        print(f"{k}: jobs {a[k][0]} vs {b[k][0]}, tasks {a[k][1]} vs {b[k][1]}")
    only = len(set(a) ^ set(b))
    print(f"{len(keys)} calls compared, {len(diff)} differ, {only} present in one run only")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
