#!/usr/bin/env bash
# graft.Bench on run.sh's plain JVM, so the bare JSON is the last stdout
# line (sbt would wrap it as "[info] {...}"); also writes bench_out.json.
# Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/bench.sh
exec "$(dirname "$0")/run.sh" graft.Bench "$@"
