#!/usr/bin/env python
"""Record the seeded fits' archive positions for the post-hoc SQL oracle.

The mopso_fit / mopso_fit_lineitem queries are bit-deterministic (hash
layout + in-partition sort + batch-order-independent kernel reduction),
so the archive their seeded runs produce at the driver's correctness
scale (sf0.01) can be recorded once and re-verified relationally by
DuckDB on every correctness run (see __spark_entry__._FIT_ORACLE_PATH).

Re-run after ANY change that can move the PSO trajectory (engine, pso,
pareto, objectives, init, the fit configs in __spark_entry__):

    python tools/gen_fit_oracle.py [sf_dir [out_json]]

``out_json`` defaults to the recorded file; write elsewhere and diff to
check the recorded file is fresh without touching it.

tests/test_golden.py::test_fit_oracle_data_is_fresh fails when this file
is stale.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from mopso_engine.session import build_session

    import __spark_entry__ as em

    spark = build_session(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        app_name="gen-fit-oracle",
    )
    spark.sparkContext.setLogLevel("ERROR")

    res_e, _ = em._fit_embeddings(spark, sf)
    res_f, _ = em._fit_embeddings_full(spark, sf)
    res_l, _ = em._fit_lineitem(spark, sf)
    res_lsh, _ = em._fit_embeddings_lsh(spark, sf)
    from mopso_engine.objectives import _REDUCE_BLOCK_ROWS

    data = {
        "sf_dir": sf,
        # the reduction block size participates in the float-summation
        # grouping, so the recorded trajectories are only valid under the
        # SAME value — oracle loading checks this and falls back rows-only
        # on mismatch (VERDICT r4 #7)
        "reduce_block_rows": _REDUCE_BLOCK_ROWS,
        "mopso_fit": {
            "positions": [p.tolist() for p in res_e.archive_positions],
            "fitness": res_e.archive_fitness.tolist(),
        },
        "mopso_fit_full": {
            "positions": [p.tolist() for p in res_f.archive_positions],
            "fitness": res_f.archive_fitness.tolist(),
        },
        "mopso_fit_lineitem": {
            "positions": [p.tolist() for p in res_l.archive_positions],
            "fitness": res_l.archive_fitness.tolist(),
            "conn_rounded": [round(float(f[1]), 4) for f in res_l.archive_fitness],
        },
        "mopso_fit_lsh": {
            "positions": [p.tolist() for p in res_lsh.archive_positions],
            "fitness": res_lsh.archive_fitness.tolist(),
        },
    }
    out = sys.argv[2] if len(sys.argv) > 2 else em._FIT_ORACLE_PATH
    with open(out, "w") as f:
        json.dump(data, f)
    print(
        f"wrote {out}: "
        f"mopso_fit={len(data['mopso_fit']['positions'])} entries, "
        f"mopso_fit_full={len(data['mopso_fit_full']['positions'])} entries, "
        f"mopso_fit_lineitem={len(data['mopso_fit_lineitem']['positions'])} entries"
    )
    spark.stop()


if __name__ == "__main__":
    main()
