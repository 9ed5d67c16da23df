#!/bin/bash
# Fresh-JVM BenchOne (the one probe main): per-query time, driver-resolve
# registry, per-job gaps and per-trigger phases. Usage:
#   scripts/benchone.sh <sfDir> <query>...
# Env and A/B switches: see scripts/proberun.sh.
exec "$(dirname "$0")/proberun.sh" graft.BenchOne "$@"
