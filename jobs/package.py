#!/usr/bin/env python
"""Build the spark-submit --py-files artifact from the source tree.

    python jobs/package.py [ZIP]    # default: dist/graphit_spark.zip
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(zpath: str | None = None) -> str:
    sys.path.insert(0, ROOT)
    from graphit_spark.session import build_zip

    if zpath is None:
        zpath = os.path.join(ROOT, "dist", "graphit_spark.zip")
    os.makedirs(os.path.dirname(os.path.abspath(zpath)), exist_ok=True)
    print(build_zip(zpath))
    return zpath


if __name__ == "__main__":
    main(*sys.argv[1:2])
