#!/usr/bin/env python
"""Build schemasaurus_spark.zip for `spark-submit --py-files` (north rule:
"packaged for spark-submit --py-files on a multi-executor cluster")."""

from __future__ import annotations

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent
OUT = ROOT / "dist" / "schemasaurus_spark.zip"


def build(out: Path = OUT) -> Path:
    out.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "schemasaurus_spark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
    return out


if __name__ == "__main__":
    print(build())
