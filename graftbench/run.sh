#!/usr/bin/env bash
# Runs one benchmark invocation from the repository root:
#   bash graftbench/run.sh --workload <etl_push|curate_dedup|table_commits> \
#     --seed <n> --seconds <s> --trace <0|1>
# Builds first when a source changed (see build.sh). Spark runs in this
# one JVM on local[nproc], with a heap of half the RAM capped at 4 GB and
# the 1 GB JIT code cache graft's own runs use. java.io.tmpdir and Spark's
# scratch space point into graftbench/.run/<pid>, removed at exit.
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
cd "$root"

bash "$here/build.sh" >&2

cores="$(nproc)"
mem_mb=$(( $(awk '/^MemTotal:/ {print $2}' /proc/meminfo) / 1024 ))
heap_mb=$(( mem_mb / 2 ))
if [ "$heap_mb" -gt 4096 ]; then heap_mb=4096; fi

tmp="$here/.run/$$"
rm -rf "$tmp"
mkdir -p "$tmp"
pid=""
cleanup() {
  if [ -n "$pid" ]; then kill "$pid" 2>/dev/null || true; wait "$pid" 2>/dev/null || true; fi
  rm -rf "$tmp"
  rmdir "$here/.run" 2>/dev/null || true
}
trap cleanup EXIT
trap 'exit 143' INT TERM

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

java "${opens[@]}" \
  -Xmx${heap_mb}m -XX:ReservedCodeCacheSize=1g \
  -Djava.io.tmpdir="$tmp" \
  -Dspark.local.dir="$tmp" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dsun.net.httpserver.nodelay=true \
  -cp "$here/.build/classes:$(cat "$here/.build/classpath")" \
  graftbench.Main --cores "$cores" --out "$here/out" "$@" &
pid=$!
set +e
wait "$pid"
status=$?
set -e
pid=""
exit $status
