#!/usr/bin/env python
"""Build dist/nlquery_spark.zip — the spark-submit --py-files artifact.

Only ``*.py`` sources are packaged (``shutil.make_archive`` of the
package directory also swept in whatever ``__pycache__`` bytecode the
last local run left behind — stale ``.pyc`` entries in a zipimport path
can shadow edited sources on executors, and they made the artifact
non-reproducible). Entries are sorted and timestamps pinned, so the
same source tree always produces byte-identical zip bytes — which keeps
the ``_code_digest`` zip-fallback fingerprint stable too.

Usage: python scripts/build_dist.py

The zip is a build output (``dist/`` is git-ignored):
``scripts/spark_submit_demo.sh`` rebuilds it before every submit.
"""

from __future__ import annotations

import os
import pathlib
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent


def main(
    out: os.PathLike | str = REPO / "dist" / "nlquery_spark.zip",
) -> pathlib.Path:
    out = pathlib.Path(out)
    out.parent.mkdir(parents=True, exist_ok=True)
    sources = sorted((REPO / "nlquery_spark").rglob("*.py"))
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sources:
            info = zipfile.ZipInfo(
                str(p.relative_to(REPO)), date_time=(1980, 1, 1, 0, 0, 0)
            )
            info.external_attr = 0o644 << 16
            # writestr ignores the archive-level default when given a
            # ZipInfo (whose compress_type defaults to STORED)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, p.read_bytes())
    print(f"{out}: {len(sources)} sources, {os.path.getsize(out)} bytes")
    return out


if __name__ == "__main__":
    main()
