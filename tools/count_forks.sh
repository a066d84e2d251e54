#!/bin/sh
# Count the child processes one benchmark run starts, by command.
#
#   tools/count_forks.sh --workload crane_stream --seed 1 --seconds 12 --trace 0
#
# The arguments go to `python3 perfbench/run.py` unchanged. Each of
# readlink, chmod, ls, stat and bash gets a shim in a temporary directory put
# first on PATH: the shim logs its name, then execs the real binary. Only
# processes the run starts search that PATH, so the counts are the run's own
# (Hadoop's Shell resolves its commands through PATH). The run's output goes
# to stderr; the counts and the run's exit code come last on stdout.
set -u
cd "$(dirname "$0")/.." || exit 2
shims=$(mktemp -d)
log="$shims/forks.log"
: > "$log"
trap 'rm -rf "$shims"' EXIT INT TERM
for cmd in readlink chmod ls stat bash; do
  real=$(command -v "$cmd") || { echo "no $cmd on PATH" >&2; exit 2; }
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$cmd" "$log" "$real" \
    > "$shims/$cmd"
  chmod +x "$shims/$cmd"
done
PATH="$shims:$PATH" python3 perfbench/run.py "$@" >&2
rc=$?
echo "# forks by command during: perfbench/run.py $*"
for cmd in readlink chmod ls stat bash; do
  printf '%-8s %d\n' "$cmd" "$(grep -cx "$cmd" "$log")"
done
echo "# run.py exit code $rc"
exit "$rc"
