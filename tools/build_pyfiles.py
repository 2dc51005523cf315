"""Package mapbox_vector_tile_spark into dist/mvt_spark.zip for
``spark-submit --py-files`` (north-rule deployment form).

The build is reproducible: entries go in sorted order with a fixed
timestamp and mode, so unchanged sources rebuild byte-identical."""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXED_DATE_TIME = (1980, 1, 1, 0, 0, 0)  # earliest a zip entry can record
FILE_MODE = 0o644


def build(out: str = "dist/mvt_spark.zip") -> str:
    out_path = os.path.join(ROOT, out)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(ROOT, "mapbox_vector_tile_spark")
    names = sorted(
        os.path.relpath(os.path.join(dp, f), ROOT).replace(os.sep, "/")
        for dp, _, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in names:
            info = zipfile.ZipInfo(name, FIXED_DATE_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = (0o100000 | FILE_MODE) << 16  # regular file
            with open(os.path.join(ROOT, name), "rb") as f:
                z.writestr(info, f.read())
    return out_path


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
