#!/bin/sh
# Build the --py-files artifact: a zip of the sparkpdf package without
# sparkpdf/testing/ (test-data builders; no production module or job
# imports them).
#   sh scripts/package.sh  ->  dist/sparkpdf.zip
set -e
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/sparkpdf.zip
python - <<'PY'
import os, zipfile
with zipfile.ZipFile("dist/sparkpdf.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for root, dirs, files in os.walk("sparkpdf"):
        dirs[:] = [d for d in dirs if d not in ("__pycache__", "testing")]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
print("wrote dist/sparkpdf.zip")
PY
