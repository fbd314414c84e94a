#!/bin/sh
# One-command local gate: driver-window parity + full test suite +
# bench smoke at the tiny scale factor. Mirrors what the round driver
# checks; exit 0 means ready to ship.
set -e
cd "$(dirname "$0")/.."
WINDOW=$(python - <<'PY'
import sys; sys.path.insert(0, '.')
from precios_nexo_sperant_etl_spark import registry
print(" ".join(list(registry.queries())[:50]))
PY
)
python tools/check_parity.py /root/testdata/sf0.01 $WINDOW
python -m pytest tests/ -q
python tools/scale_stress_media.py /root/testdata/sf0.01
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py
