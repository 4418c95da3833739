"""Dump the formatted physical plan of selected declared queries.

Usage: PYTHONPATH=. python tools/plan_queries.py <outdir> <suffix> name [name...]

Writes ``<outdir>/<name>_<suffix>.txt`` for every requested registry query
(built at sf0.01). The registry-level plan of an iterative query only shows
the final checkpointed state scan.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_entry_plans", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from webgraph_rs_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    q = mod.queries()
    for name in names:
        df = q[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(buf.getvalue())
        print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
