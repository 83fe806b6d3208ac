"""Builds dist/engine.zip for spark-submit --py-files (code + model artifact).

    python tools/package.py [out.zip]      # default: dist/engine.zip
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "engine.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "arabic_ocr_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith((".py", ".json")):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
