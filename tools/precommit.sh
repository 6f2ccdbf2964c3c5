#!/bin/bash
# The per-commit certification loop (round-10 two-tier discipline):
#
#   ./tools/precommit.sh [TouchedSpec1 TouchedSpec2 ...]
#
# Runs, in order:
#   1. the suites named as arguments (the ones covering whatever changed),
#   2. the default fast tier: the execution-config parity tier
#      (AqeParitySpec, 18 representative queries x 3 configs — the full
#      116-query sweep runs with GRAFT_FULL_PARITY=true once per round / on
#      the final binary) and the pipeline path (RawLoaderSpec,
#      DbtStyleTestsSpec, PipelineSpec, and WarehouseReplaySpec and
#      WarehouseCheckpointSpec on the checkpointed warehouse), and the
#      cache owner (MaterializerSpec, plus StreamingCurationSpec for a
#      micro-batch's own handle),
#   3. graft.Verify at sf0.01 + the DuckDB oracle compare (the real gate).
#
# Total ~10 min on this host. (Since r11 the FULL battery is also cheap —
# ~3-5 min wall via parallel suite groups — so `sbt test` is a reasonable
# per-commit alternative when many suites are touched.)
set -euo pipefail
cd "$(dirname "$0")/.."

SUITES=("$@")
TESTONLY="graft.coverage.AqeParitySpec graft.ingest.RawLoaderSpec graft.quality.DbtStyleTestsSpec graft.pipeline.PipelineSpec graft.models.WarehouseReplaySpec graft.models.WarehouseCheckpointSpec graft.MaterializerSpec graft.streaming.StreamingCurationSpec"
for s in "${SUITES[@]:-}"; do
  [[ -n "$s" ]] && TESTONLY="$TESTONLY $s"
done

echo "== 1+2/3: targeted suites + fast tier =="
sbt -batch "testOnly $TESTONLY"

echo "== 3/3: Verify sf0.01 + oracle compare =="
OUT=$(mktemp -d /tmp/graft_precommit.XXXXXX)
# keep Verify's per-query failure lines and every non-OK compare line; a
# failing Verify or compare still fails the script through pipefail
./run-main.sh graft.Verify /root/testdata/sf0.01 "$OUT" 2>&1 | { grep '^\[verify\]' || true; }
python3 tools/compare_oracle.py /root/testdata/sf0.01 "$OUT" | { grep -Ev ' OK$|^$' || true; }
