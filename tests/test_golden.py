"""Golden end-to-end run (SURVEY §5.3): seeded fit on the blob fixture →
archive fitness and chosen centers compared to committed goldens.

On the well-separated blobs every candidate clustering keeps blob-mates
together, so Conn is the constant N·Σ1/r = 685.0 — the front is
effectively one-dimensional and the archive fills to capacity via
crowding truncation. Regenerate with tools in the test if the engine's
seeded trajectory intentionally changes.
"""

import numpy as np
import pytest

from mopso_engine import MopsoConfig, MopsoEngine

GOLDEN_FRONT = [
    [254.222972, 685.0], [269.925164, 685.0], [287.855486, 685.0],
    [292.419342, 685.0], [309.707478, 685.0], [318.354494, 685.0],
    [343.395534, 685.0], [359.42207, 685.0], [373.758821, 685.0],
    [387.103651, 685.0], [416.571102, 685.0], [428.676796, 685.0],
    [473.872396, 685.0], [490.849382, 685.0], [536.099928, 685.0],
]

GOLDEN_BEST = [
    [-3.594458, 7.481292, -10.119304, 6.277825],
    [2.469002, 7.463849, 5.954934, -6.217465],
    [6.136836, -0.965746, -4.481259, -4.449253],
]


def test_golden_seeded_fit(blobs_df):
    cfg = MopsoConfig(n_particles=8, iter_max=3, knn_l=5, seed=42, init_sample_size=300)
    res = MopsoEngine(cfg).fit(blobs_df)
    front = sorted(map(tuple, np.round(res.archive_fitness, 6).tolist()))
    np.testing.assert_allclose(front, GOLDEN_FRONT, rtol=1e-6)
    np.testing.assert_allclose(np.round(res.best_position, 6), GOLDEN_BEST, rtol=1e-6)


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/testdata/sf0.01"), reason="driver testdata absent"
)
def test_fit_oracle_data_is_fresh(spark, monkeypatch):
    """The recorded archive positions (tools/fit_oracle_data.json) must be
    what the seeded fits actually produce — catches an engine change that
    moved the PSO trajectory without a rerun of tools/fit_oracle.py.
    Checks the exact-kNN embeddings fit and the partition-local lineitem
    fit, whose neighbor tables come from the pruned kNN build. Then DuckDB
    replays both fits' objectives relationally from the recorded
    positions, independently of the engine's kernels."""
    import json
    import os

    import duckdb

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import fit_oracle as fo

    from mopso_engine.rescore import rescore_dev

    if not os.path.exists(fo._FIT_ORACLE_PATH):
        pytest.skip("fit oracle data not generated")
    with open(fo._FIT_ORACLE_PATH) as f:
        data = json.load(f)
    fits = {}
    for name, fit in (("mopso_fit", fo._fit_embeddings), ("mopso_fit_lineitem", fo._fit_lineitem)):
        res, pts = fit(spark, data["sf_dir"])
        got = [p.tolist() for p in res.archive_positions]
        assert len(got) == len(data[name]["positions"]), name
        np.testing.assert_allclose(got, data[name]["positions"], rtol=1e-12, err_msg=name)
        fits[name] = (res, pts)

    con = duckdb.connect()
    for t in ("embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data['sf_dir']}/{t}.parquet'")

    res, _ = fits["mopso_fit"]
    rows = con.execute(fo._fit_oracle_embeddings_sql(data["mopso_fit"], knn_l=5)).fetchall()
    assert sorted(s for s, *_ in rows) == list(range(len(res.archive_fitness)))
    for s, dev, conn, _ in rows:
        kd, kc = (round(float(v), 4) for v in res.archive_fitness[s])
        assert (dev, conn) == (kd, kc), (s, dev, conn, kd, kc)

    res, pts = fits["mopso_fit_lineitem"]
    rec = data["mopso_fit_lineitem"]
    rows = con.execute(fo._fit_oracle_lineitem_sql(rec)).fetchall()
    devs = dict(rescore_dev(pts, res.archive_positions))
    assert sorted(s for s, *_ in rows) == sorted(devs)
    for s, dev, conn, _ in rows:
        assert dev == round(devs[s], 0), (s, dev, devs[s])
        assert conn == rec["conn_rounded"][s] == round(float(res.archive_fitness[s][1]), 4), s
