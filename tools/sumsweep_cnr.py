"""Certified ExactSumSweep radius+diameter on the real cnr-2000 graph.

VERDICT r4 stretch item 9: no golden radius/diameter ships with the
reference data, so the value of this run is demonstrating CERTIFIED
convergence (bounds closed, not sampled) at 325k nodes / 3.2M arcs on
the production ingest path, and recording the pivot count + wall time
in the JSON line it prints.

Usage: python tools/sumsweep_cnr.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_rs_spark import get_spark  # noqa: E402
from webgraph_rs_spark.bvgraph import read_bvgraph  # noqa: E402
from webgraph_rs_spark.algorithms.distances import exact_sum_sweep  # noqa: E402


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "16g"},
    )
    base = "/root/reference/data/cnr-2000"
    t0 = time.time()
    g = read_bvgraph(spark, base)
    g.edges.persist().count()
    t_ingest = time.time() - t0

    max_pivots = int(os.environ.get("SUMSWEEP_MAX_PIVOTS", "4096"))
    batch = int(os.environ.get("SUMSWEEP_BATCH", "256"))
    t0 = time.time()
    res = exact_sum_sweep(
        g,
        mode="radius_diameter",
        batch=batch,
        max_pivots=max_pivots,
        verbose=True,
    )
    t_sweep = time.time() - t0

    rec = {
        "graph": "cnr-2000",
        "num_nodes": g.num_nodes,
        "num_arcs": g.num_arcs,
        "radius": res.radius,
        "diameter": res.diameter,
        "radial_node": res.radial_node,
        "diametral_node": res.diametral_node,
        "pivots_used": res.pivots_used,
        "converged": res.converged,
        "radius_interval": res.radius_interval,
        "diameter_interval": res.diameter_interval,
        "ingest_sec": round(t_ingest, 2),
        "sweep_sec": round(t_sweep, 2),
        "cpus": int(cpus),
    }
    line = json.dumps(rec)
    print(line)
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
