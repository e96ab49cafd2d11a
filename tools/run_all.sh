#!/usr/bin/env bash
# Full local gate: tests + benchmark self-tests + oracle + bench + packaging smoke.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/ -x -q
python -m pytest perfbench -q
python tools/verify_oracle.py
python bench.py
scripts/build_pyfiles.sh
