"""The benchmark's own protocol at a small size: each kgbench workload
stages its inputs, warms up, runs and checks one op, replays one traced
op and passes its whole-run check, all with P = R = 1.0.

kgbench imports the program's public names (operators, ``run_pipeline``,
``SnapshotStore``, ``_lineage_rows``, the stream fold); a refactor that
renames or breaks one of them fails here instead of in a benchmark run.
"""

import os

import pytest

KGBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kgbench")


@pytest.mark.parametrize("name", ["kg_build", "kg_resume", "kg_fold"])
def test_kgbench_workload_protocol(spark, tmp_path, monkeypatch, name):
    monkeypatch.syspath_prepend(KGBENCH)
    import workloads
    from probes import Tracer

    monkeypatch.setattr(workloads.KgBuild, "n_pages", 120)
    monkeypatch.setattr(workloads.KgResume, "n_pages", 120)
    monkeypatch.setattr(workloads, "FOLD_BATCH_DOCS", 30)
    monkeypatch.setattr(workloads, "FOLD_BATCHES", 5)

    cls = workloads.WORKLOADS[name]
    wl = cls(spark, str(tmp_path / "data"))
    wl.stage(0, cls.inputs(7))
    wl.warm()

    wl.prepare(0)
    checks = [("op", wl.check(wl.op(0)))]
    wl.prepare(1)
    chk, spans, _counts, _written = wl.traced_op(1, Tracer(spark.sparkContext))
    checks.append(("traced_op", chk))
    assert "root" in spans
    final = wl.final_check()
    if final is not None:
        checks.append(("final_check", final))

    for step, c in checks:
        assert c.ok, f"{name} {step}: {c.note}"
        assert (c.precision, c.recall) == (1.0, 1.0), f"{name} {step}"
