#!/usr/bin/env bash
# Deep fuzz lane: the four randomized/property suites that guard pruning,
# predicate translation, log replay and the op-sequence model, run with
# QBEAST_FUZZ_CASES (default 350 here; the regular suite uses 100).
# Only test_prune_fuzz_e2e.py scales with the case count; the other
# three run their fixed seeds.
#
#   tools/deep_fuzz.sh                 # 350 cases
#   QBEAST_FUZZ_CASES=1000 tools/deep_fuzz.sh
#
# Extra arguments are passed to pytest.
set -euo pipefail
cd "$(dirname "$0")/.."
export QBEAST_FUZZ_CASES="${QBEAST_FUZZ_CASES:-350}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec python -m pytest -q -p no:cacheprovider \
    tests/test_prune_fuzz_e2e.py \
    tests/test_predicate_fuzz.py \
    tests/test_model_fuzz.py \
    tests/test_log_replay_property.py "$@"
