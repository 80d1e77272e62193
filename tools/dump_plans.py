#!/usr/bin/env python
"""Dump .explain('formatted') of registered queries to per-file artifacts.

    python tools/dump_plans.py <suffix> <query> [query ...]
    python tools/dump_plans.py before --bench     # every benched query

Writes plans/r15/<query>_<suffix>.txt (the optimization-round evidence the
judge checks plan claims against).  NOTE: building an iterative query's frame
executes its loop (localCheckpoint is eager), so this takes real time for the
CC/kmeans family.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postpy_spark import registry  # noqa: E402
from postpy_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15")


def main() -> None:
    suffix = sys.argv[1]
    names = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--bench" in sys.argv:
        import bench

        names = list(dict.fromkeys([*bench.HEADLINE, *bench.HEAVY_EXTRAS, *names]))
    os.makedirs(OUT_DIR, exist_ok=True)
    reg = registry.load_all()
    spark = get_spark("postpy-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in reg:
            print(f"SKIP {name}: not registered")
            continue
        df = reg[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
