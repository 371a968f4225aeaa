"""The benchmark's own checks: metric names, the declared metric set,
the output oracles, seeding, and the probes. No Spark session is needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import er  # noqa: E402
import eventlog  # noqa: E402
import harness as H  # noqa: E402
import training  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return json.load(f)


def test_every_name_and_unit_is_well_formed():
    names = [n for n, _, _ in H.END_TO_END + H.PER_LAYER]
    assert len(names) == len(set(names))
    for name, unit, better in H.END_TO_END + H.PER_LAYER:
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)
        assert better in ("lower", "higher")
    for w in _spec()["workloads"]:
        assert NAME.fullmatch(w["name"])


def test_benchmark_json_declares_what_the_benchmark_emits():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["end_to_end"]] == H.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == H.PER_LAYER
    run = __import__("run")
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _emitted(values: dict, trace: bool) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        H.emit(True, 2, 0, values, trace, {"workload": "x"})
    lines = buf.getvalue().strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result["metrics"]


def test_every_workload_emits_every_end_to_end_metric():
    rec = H.OpRecord(2.0, 100.0, 1.5, 0, [True], "")
    values = H.end_to_end_metrics([rec], n_docs=500, setup_s=3.0)
    assert set(values) == {n for n, _, _ in H.END_TO_END}
    metrics = _emitted(values, trace=False)
    assert [(n, m["unit"]) for n, m in metrics.items()] == [
        (n, u) for n, u, _ in H.END_TO_END]
    assert metrics["docs_per_s"]["value"] == 250.0
    assert all(m["value"] > 0 for m in metrics.values())


def test_trace_emits_every_per_layer_metric():
    metrics = _emitted({"cc.wall_s": 1.5}, trace=True)
    assert list(metrics) == [n for n, _, _ in H.PER_LAYER]
    assert metrics["cc.wall_s"]["value"] == 1.5


def test_tally_counts_operations_not_ops():
    recs = [H.OpRecord(1, 1, 1, 0, [True, False, True], ""),
            H.OpRecord(1, 1, 1, 0, [False] * 3, "boom")]
    assert H.tally(recs) == (6, 4)


@pytest.fixture(scope="module")
def small_fixture():
    from dbpedia_spotlight_spark.fixtures.generator import (
        FixtureConfig,
        generate,
    )

    return generate(FixtureConfig(n_docs=30, seed=5))


def test_cluster_oracle_accepts_itself_and_rejects_a_perturbation(
        small_fixture):
    want = er.oracle_partition(small_fixture)
    assignment = {k: g[0] for g in want for k in g}
    assert er.matches(assignment, want)
    # cluster ids are free: any relabelling is the same partition
    assert er.matches({k: "c" + v for k, v in assignment.items()}, want)

    big = max(want, key=len)
    other = next(g for g in want if g is not big)
    moved = dict(assignment)
    moved[big[-1]] = other[0]
    assert not er.matches(moved, want)

    singles = [g for g in want if len(g) == 1]
    if len(singles) >= 2:
        merged = dict(assignment)
        merged[singles[1][0]] = singles[0][0]
        assert not er.matches(merged, want)

    dropped = dict(assignment)
    dropped.pop(big[0])
    assert not er.matches(dropped, want)


def test_different_seeds_give_different_inputs():
    from dbpedia_spotlight_spark.fixtures.generator import (
        FixtureConfig,
        generate,
    )

    docs = lambda s: generate(  # noqa: E731
        FixtureConfig(n_docs=20, seed=s)).documents.to_json()
    assert docs(1) == docs(1)
    assert docs(1) != docs(2)

    a, ea = corpus.make_tables(1, 50, 20)
    b, eb = corpus.make_tables(2, 50, 20)
    a2, ea2 = corpus.make_tables(1, 50, 20)
    assert a.equals(a2) and ea.equals(ea2)
    assert not a.equals(b) and not ea.equals(eb)


def test_training_corpus_matches_the_driver_table_shapes():
    docs, emb = corpus.make_tables(3, 400, 30)
    assert docs.schema.names == ["doc_id", "text", "lang", "source",
                                 "n_chars"]
    assert emb.schema.names == ["vec_id", "embedding", "label"]
    d = docs.to_pandas()
    assert (d.n_chars == d.text.str.len()).all()
    assert d.text.str.endswith(" dup").any()
    assert d.doc_id.max() < 10_000
    with pytest.raises(ValueError):
        corpus.make_tables(3, 10_001, 1)


def test_training_check_rejects_a_changed_value():
    import pandas as pd

    want = training.normalize(pd.DataFrame(
        {"id_a": [1, 2], "id_b": [3, 4], "cosine": [0.5, 0.25]}))
    got = pd.DataFrame({"cosine": [0.25, 0.5], "id_b": [4, 3],
                        "id_a": [2, 1]})
    assert training.same_result(got, want)
    bad = got.copy()
    bad.loc[0, "cosine"] = 0.2500001
    assert not training.same_result(bad, want)
    assert not training.same_result(got.iloc[:1], want)
    assert not training.same_result(got.rename(columns={"id_a": "x"}),
                                    want)


def test_recall_counts_true_neighbours_found():
    import pandas as pd

    exact = pd.DataFrame({"query_id": [1, 1, 2, 2],
                          "neighbor_id": [5, 6, 7, 8]})
    approx = pd.DataFrame({"query_id": [1, 2, 2],
                           "neighbor_id": [5, 7, 9]})
    assert training.recall_at_3(approx, exact) == 0.5


def test_event_log_figures_per_job_group(tmp_path):
    def task(stage, launch, finish, run_ms, shuffle=0, spill=0, gc=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "JVM GC Time": gc,
                    "Disk Bytes Spilled": spill,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                              shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "scoring"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "cc"}},
        task(0, 0, 100, 90, shuffle=2_000_000, gc=10),
        task(1, 0, 100, 80),
        task(1, 0, 400, 390, spill=1_000_000),
        task(2, 0, 50, 40),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert eventlog.find_log(str(tmp_path)) == str(path)
    fig = eventlog.group_figures(str(path))
    assert fig["scoring"]["jobs"] == 1 and fig["scoring"]["tasks"] == 3
    assert fig["scoring"]["task_s"] == pytest.approx(0.56)
    assert fig["scoring"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert fig["scoring"]["spill_mb"] == pytest.approx(1.0)
    assert fig["scoring"]["task_skew"] == pytest.approx(4.0)
    m = eventlog.engine_metrics(fig, ["scoring", "cc", "pairs"])
    assert m["engine.cc.task_s"] == pytest.approx(0.04)
    assert m["engine.pairs.task_s"] == 0.0
    assert m["engine.task_skew"] == pytest.approx(4.0)


def test_tree_sampler_sees_rss_and_dir_bytes(tmp_path):
    with H.TreeSampler(interval=0.01) as s:
        (tmp_path / "a").mkdir()
        (tmp_path / "a" / "blob").write_bytes(b"x" * 3000)
        (tmp_path / "b").write_bytes(b"y" * 500)
    assert s.peak_rss_mb > 1
    assert H.dir_bytes(str(tmp_path)) == 3500


def test_probes_are_positive():
    amb = H.ambient()
    assert amb["load1"] >= 0 and amb["cpu_probe_s"] > 0
    later = H.ambient()
    assert later["total_ticks"] >= amb["total_ticks"] > 0
    assert 0 <= H.steal_share(amb, later) <= 1
    assert H.steal_share(amb, amb) == 0.0


def test_run_refuses_a_tree_without_the_program(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_resolve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
