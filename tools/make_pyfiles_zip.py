"""Package entityframe_spark into a --py-files zip for spark-submit.

Usage: python tools/make_pyfiles_zip.py [out.zip]

Zips the pure-Python package (sources only — the native C kernels
compile themselves on first use per worker through the shared loader
in functions/_native.py; a compiler-less executor warns once per
kernel module and runs the pure-Python twins, with the same values).
The zip root contains the package dir, so `--py-files out.zip` makes
`import entityframe_spark` work on driver and executors alike.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> str:
    pkg = os.path.join(REPO, "entityframe_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/entityframe_spark.zip"
    print(build(out))
