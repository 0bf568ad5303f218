#!/usr/bin/env bash
# Build the --py-files artifact for spark-submit cluster launches:
#   bash scripts/package.sh [out_dir]    # writes <out_dir>/reden_spark.zip (default: dist/)
set -euo pipefail
out_dir="$(mkdir -p "${1:-dist}" && cd "${1:-dist}" && pwd)"
cd "$(dirname "$0")/.."
rm -f "$out_dir/reden_spark.zip"
OUT="$out_dir/reden_spark.zip" python - <<'PY'
import os
import zipfile
from pathlib import Path

out = os.environ["OUT"]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(Path("reden_spark").rglob("*.py")):
        z.write(p, p.as_posix())
print(f"{out} written")
PY
