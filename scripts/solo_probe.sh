#!/usr/bin/env bash
# Solo scale probes (dev tool): one key per JVM via SPARK_GRAFT_ONLY,
# the BASELINE.md exponent-table protocol. Each run emits the bench's
# one-line JSON (with load/probe contention evidence) to stdout and a
# per-key log under /tmp/solo_<tag>_<key>.log.
#
# Usage: solo_probe.sh <sfDir> <tag> <key> [key ...]
#   SPARK_GRAFT_CPUS (default: nproc), SPARK_DRIVER_MEM (default: half
#   of RAM, clamped to 2g..8g) and SPARK_GRAFT_SHUFFLE_PARTITIONS pass
#   through to the bench harness.
set -u
SF="$1"; TAG="$2"; shift 2
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
for KEY in "$@"; do
  LOG="/tmp/solo_${TAG}_${KEY}.log"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_ONLY="$KEY" \
    SPARK_DRIVER_MEM="$MEM" \
    sbt -batch "runMain graft.Bench" > "$LOG" 2>&1
  grep -h '"metric"' "$LOG" || echo "{\"key\":\"$KEY\",\"FAILED\":true,\"log\":\"$LOG\"}"
done
