#!/usr/bin/env bash
# One-command verification pipeline — the order the evidence is meant
# to be read in. Each stage exits non-zero on failure.
#
#   bash tools/verify_all.sh          # full (~50 min)
#   bash tools/verify_all.sh quick    # smoke + one-SF sweep (~15 min)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1. driver smoke (entry() at sf0.001)"
python - <<'PY'
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[8]')
         .config('spark.sql.shuffle.partitions','8')
         .config('spark.ui.enabled','false').getOrCreate())
import sys; sys.path.insert(0,'.')
import __spark_entry__ as e
n = len(e.entry(spark).collect())
assert n >= 0
print(f"entry() rows: {n}")
PY

echo "== 2. differential oracle sweep (sf0.01, every gate)"
python tools/check_oracle.py /root/testdata/sf0.01

if [ "${1:-full}" != "quick" ]; then
  echo "== 2b. differential oracle sweep (sf0.001)"
  python tools/check_oracle.py /root/testdata/sf0.001

  echo "== 3. plan audit (cartesian/codegen regressions)"
  python tools/plan_audit.py > /dev/null

  echo "== 4. hash-stability probe (float-heaviest gates x 4 partitionings)"
  python tools/stability_probe.py

  echo "== 5. unit tests (engine + benchmark generator determinism)"
  python -m pytest tests/ -q
  python -m pytest perfbench/tests -q
fi

echo "ALL VERIFICATION STAGES GREEN"
