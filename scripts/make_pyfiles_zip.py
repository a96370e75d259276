#!/usr/bin/env python
"""Package blink_reloaded_spark for `spark-submit --py-files` (north_rule
packaging requirement): a zip of the package's .py files (pure Python, no
build step).

    python scripts/make_pyfiles_zip.py [OUT]   # default dist/blink_reloaded_spark.zip

Prints the path of the written zip."""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_OUT = os.path.join(ROOT, "dist", "blink_reloaded_spark.zip")


def main(out: str = DEFAULT_OUT) -> str:
    out = os.path.abspath(out)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(ROOT, "blink_reloaded_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
