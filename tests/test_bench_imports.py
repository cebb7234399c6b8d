"""The benchmark (``perfbench/``) reaches into code outside itself: the
calibration job in ``bench.py`` and the engine names its tracer patches.
Tier-1 does not run the benchmark, so this guard fails when a change
outside ``perfbench/`` removes or renames one of them."""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_imports_resolve(spark, monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    from bench import _micro_spark_calibration

    import spans
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {w["name"] for w in json.load(f)["workloads"]}
    assert names <= set(workloads.WORKLOADS)
    assert _micro_spark_calibration(spark) > 0

    # Tracer.wrap getattr()s every engine name it patches
    tracer = spans.Tracer(spark)
    tracer.install()
    tracer.uninstall()
