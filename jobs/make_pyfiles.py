#!/usr/bin/env python
"""Package lacspark (code + dictionary/model resources) into
dist/lacspark.zip for ``spark-submit --py-files``.

Resources are regular package files inside the zip; every reader
(the engine, the subword vocab, the LM) finds them through
``lacspark.resource_dir()``, which extracts them to a per-process
temp dir on first use when the package is imported from a zip."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(dist: str = os.path.join(ROOT, "dist")) -> str:
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "lacspark.zip")
    pkg = os.path.join(ROOT, "lacspark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            # golden oracles are driver/DuckDB-side test artifacts,
            # not worker resources — keep them out of the ship zip
            if os.sep + "golden" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".pyc"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, ROOT))
    return out


if __name__ == "__main__":
    print(main())
