#!/usr/bin/env bash
# Package the engine for spark-submit --py-files on a cluster:
#   ./scripts/make_pyfiles.sh           -> dist/pysyslog.zip
#   spark-submit --py-files dist/pysyslog.zip your_job.py
# and build the no-fork local filesystem jar (pysyslog.localfs; the
# first local sink write builds it too when it is missing).
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/pysyslog.zip
python - <<'EOF'
import zipfile, pathlib
with zipfile.ZipFile("dist/pysyslog.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(pathlib.Path("pysyslog").rglob("*.py")):
        z.write(p, p.as_posix())
print("wrote dist/pysyslog.zip")
EOF
python -m pysyslog.localfs
