import numpy as np
import pytest

from mopso_engine import metrics as M
from mopso_engine.assign import assign, assign_with_labels
from tests.conftest import oracle_assign, oracle_silhouette


@pytest.fixture(scope="module")
def assigned(blobs_df, blobs):
    _, _, _, c = blobs
    return assign_with_labels(blobs_df, c).cache()


def test_cluster_sizes(assigned, blobs):
    _, x, _, c = blobs
    cl, _ = oracle_assign(x, c)
    got = {r["cluster"]: r["n"] for r in M.cluster_sizes(assigned).collect()}
    exp = {int(k): int(v) for k, v in zip(*np.unique(cl, return_counts=True))}
    assert got == exp


def test_purity_on_true_centers_is_high(assigned, blobs):
    ids, x, labels, c = blobs
    purity, accepted = M.purity_accuracy(assigned, len(x), len(c))
    assert accepted
    assert purity > 0.95  # well-separated blobs


def test_purity_table_oracle(assigned, blobs):
    _, x, labels, c = blobs
    cl, _ = oracle_assign(x, c)
    rows = {r["label"]: (r["modal_cluster"], r["modal_count"], r["label_total"]) for r in M.purity_table(assigned).collect()}
    for lab in np.unique(labels):
        sel = cl[labels == lab]
        vals, cnts = np.unique(sel, return_counts=True)
        best = cnts.max()
        # deterministic tie-break: smallest cluster id among maxima
        modal = int(vals[cnts == best].min())
        assert rows[int(lab)] == (modal, int(best), int((labels == lab).sum()))


def test_purity_all_solutions_matches_per_solution(blobs_df, blobs):
    _, x, _, c = blobs
    rng = np.random.default_rng(4)
    stack = np.stack([c, c + rng.normal(scale=0.5, size=c.shape)])
    multi = M.purity_all_solutions(blobs_df, stack).collect()
    for s in range(2):
        single = {
            (r["label"]): (r["modal_cluster"], r["modal_count"], r["label_total"])
            for r in M.purity_table(assign(blobs_df, stack[s]).join(blobs_df.select("id", "label"), "id")).collect()
        }
        got = {
            r["label"]: (r["modal_cluster"], r["modal_count"], r["label_total"])
            for r in multi
            if r["solution"] == s
        }
        assert got == single


def test_report_has_per_solution_purity(blobs_df):
    from mopso_engine import MopsoConfig, MopsoEngine
    from mopso_engine.report import build_report

    eng = MopsoEngine(MopsoConfig(n_particles=4, iter_max=1, knn_l=5, seed=11))
    res = eng.fit(blobs_df)
    rep = build_report(eng, blobs_df, res, kmeans_baseline=True)
    assert all("purity" in e and "purity_accepted" in e for e in rep["archive"])
    assert "kmeans_baseline" in rep


def test_report_text_rendering_matches_reference_shape(blobs_df, spark, tmp_path):
    """The text rendering reproduces the reference report's line format
    (Spark_MOPSO_Avg.scala:679-799): bilingual labels, dev,conn CSV
    fitness lines, per-cluster center dumps, single-file text sink."""
    from mopso_engine import MopsoConfig, MopsoEngine
    from mopso_engine.report import build_report, render_report_text, save_report_text

    eng = MopsoEngine(MopsoConfig(n_particles=4, iter_max=1, knn_l=5, seed=11))
    res = eng.fit(blobs_df)
    rep = build_report(eng, blobs_df, res, kmeans_baseline=True)
    lines = render_report_text(
        rep, dataset_path="/data/x.csv", output_path="/out/r", base_setting="cfg"
    )
    assert lines[1] == "数据集：/data/x.csv\n"
    n_sol = len(rep["archive"])
    assert f"外部存档解的形状：{n_sol}x2,外部存档的适应度值：" in lines
    # one raw-fitness CSV line per solution, formatted dev,conn
    e0 = rep["archive"][0]
    assert f"{e0['dev']},{e0['conn']}" in lines
    assert any(ln.startswith("MOPSO Center Point of Cluster 1==》  ") for ln in lines)
    assert any(ln.startswith("Kmeans Center Point of Cluster 1==》  ") for ln in lines)
    out = str(tmp_path / "report_txt")
    save_report_text(spark, lines, out)
    saved = spark.read.text(out).count()
    assert saved >= len(lines)  # embedded newlines split into extra rows


def test_inertia_oracle(assigned, blobs):
    _, x, _, c = blobs
    _, dist = oracle_assign(x, c)
    assert M.inertia(assigned) == pytest.approx((dist**2).sum(), rel=1e-9)


def test_dbi_oracle(assigned, blobs):
    _, x, _, c = blobs
    cl, dist = oracle_assign(x, c)
    k = len(c)
    s = np.array([dist[cl == i + 1].mean() for i in range(k)])
    exp = 0.0
    for i in range(k):
        m = 0.0
        for j in range(k):
            if i != j:
                d = np.sqrt(((c[i] - c[j]) ** 2).sum())
                m = max(m, (s[i] + s[j]) / d)
        exp += m
    assert M.davies_bouldin(assigned, c) == pytest.approx(exp / k, rel=1e-9)


def test_dbi_max_not_reset_is_monotone_larger(assigned, blobs):
    _, _, _, c = blobs
    fixed = M.davies_bouldin(assigned, c)
    buggy = M.davies_bouldin(assigned, c, max_not_reset=True)
    assert buggy >= fixed  # running max can only grow


def test_silhouette_exact_oracle(spark, blobs_df, blobs):
    _, x, _, c = blobs
    cl, _ = oracle_assign(x, c)
    got = M.silhouette_exact(blobs_df, assign(blobs_df, c))
    assert got == pytest.approx(oracle_silhouette(x, cl), rel=1e-9)  # includes self (reference bias)
    assert got > 0.8  # well-separated blobs


def test_minmax_normalize(spark):
    df = spark.createDataFrame([(1.0, 10.0), (3.0, 10.0), (2.0, 10.0)], "f1 double, f2 double")
    rows = M.minmax_normalize(df, ["f1", "f2"]).orderBy("f1").collect()
    assert [r["f1_norm"] for r in rows] == [0.0, 0.5, 1.0]
    assert [r["f2_norm"] for r in rows] == [0.0, 0.0, 0.0]  # constant → 0


def test_silhouette_all_solutions_matches_ml_evaluator(spark, blobs_df, blobs):
    """The one-pass archive silhouette must reproduce ml.ClusteringEvaluator
    per entry (same formula via sufficient statistics) and pick the same
    best index (VERDICT r1 #9)."""
    import numpy as np

    from mopso_engine.assign import assign
    from mopso_engine.metrics import silhouette_all_solutions, silhouette_ml

    _, x, labels, centers = blobs
    rng = np.random.default_rng(3)
    stack = np.stack(
        [centers, centers + rng.normal(scale=2.0, size=centers.shape), rng.uniform(-8, 8, centers.shape)]
    )
    got = silhouette_all_solutions(blobs_df, stack)
    ml = np.array([silhouette_ml(blobs_df, assign(blobs_df, stack[i])) for i in range(3)])
    np.testing.assert_allclose(got, ml, rtol=1e-8, atol=1e-8)
    assert int(np.argmax(got)) == int(np.argmax(ml))
