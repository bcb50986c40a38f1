#!/bin/bash
# Local dev loop: compile + run graft.Verify on a scale factor dir,
# mirroring what the driver does (sbt is only used to compile; the run
# itself is plain java so iteration stays fast).
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_out}"
cd "$(dirname "$0")/.."
# copyResources too: plain-java runs need META-INF/services on the
# classpath (the graft-wire DataSourceRegister), which `compile` alone
# does not place into target/classes — without it wire_scan alone fails
# with DATA_SOURCE_NOT_FOUND while everything else passes.
sbt -batch "Compile/copyResources" compile > /tmp/sbt_compile.log 2>&1 || { tail -40 /tmp/sbt_compile.log; exit 1; }
rm -rf "$OUT_DIR"
JVM_XMX=8g bash tools/run_main.sh graft.Verify "$SF_DIR" "$OUT_DIR" "${@:3}"
