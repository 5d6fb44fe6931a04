"""Tests of the benchmark's own machinery: seeded inputs, the digest, the
event-log parser and failure accounting.

Run from the repo root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
sys.path[:0] = [str(BENCH_DIR.parent), str(BENCH_DIR)]
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")

import eventlog  # noqa: E402
import inputs  # noqa: E402

TABLES = ["events", "documents", "embeddings", "part", "customer"]


def _files(d: Path) -> list[Path]:
    return sorted(d.glob("*.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, _ = inputs.materialize(7, tmp_path / "a", "w", TABLES)
    b, _ = inputs.materialize(7, tmp_path / "b", "w", TABLES)
    assert [f.name for f in _files(a)] == [f.name for f in _files(b)]
    for fa, fb in zip(_files(a), _files(b)):
        assert filecmp.cmp(fa, fb, shallow=False), fa.name


def test_seed_zero_is_the_shipped_data(tmp_path):
    d, warm = inputs.materialize(0, tmp_path, "w", TABLES)
    for f in _files(inputs.DATA / inputs.SCALE):
        assert filecmp.cmp(f, d / f.name, shallow=False), f.name
    for f in _files(inputs.DATA / inputs.WARMUP_SCALE):
        assert filecmp.cmp(f, warm / f.name, shallow=False), f.name


def test_seeds_differ_but_keep_row_counts_and_key_ranges(tmp_path):
    import pyarrow.parquet as pq

    d0, _ = inputs.materialize(0, tmp_path, "w", TABLES)
    d1, _ = inputs.materialize(1, tmp_path, "w", TABLES)
    d2, _ = inputs.materialize(2, tmp_path, "w", TABLES)
    assert inputs.row_counts(d0) == inputs.row_counts(d1) == inputs.row_counts(d2)
    for t, cols in {"events": ["event_id", "user_id"], "documents": ["doc_id"],
                    "part": ["p_partkey"]}.items():
        for c in cols:
            k0 = pq.read_table(d0 / f"{t}.parquet")[c].to_pylist()
            k1 = pq.read_table(d1 / f"{t}.parquet")[c].to_pylist()
            assert set(k0) == set(k1)  # same keys, range [0, D)
            assert k0 != k1            # on other rows
    e0 = pq.read_table(d0 / "embeddings.parquet")["embedding"][0].as_py()
    e1 = pq.read_table(d1 / "embeddings.parquet")["embedding"][0].as_py()
    assert e1 == e0[-1:] + e0[:-1]  # rolled by one component


def test_foreign_keys_move_with_the_key_they_reference():
    for seed in (1, 2, 9):
        cust = inputs._shift(seed, "customer", "c_custkey")
        assert inputs._shift(seed, "orders", "o_custkey") == cust
        assert inputs._shift(seed, "part", "p_partkey") != cust
        assert 1 <= cust[0] < cust[1]


def test_tables_a_workload_does_not_read_are_empty(tmp_path):
    d, _ = inputs.materialize(3, tmp_path, "w", ["documents"])
    counts = inputs.row_counts(d)
    assert counts["documents"] > 0
    assert all(n == 0 for t, n in counts.items() if t != "documents")


def test_gate_fit_oracles_are_the_ones_the_repo_builds(tmp_path):
    from ficaria_spark.oracle_fit import build_dynamic_oracles

    import run
    import verify

    d, _ = inputs.materialize(0, tmp_path, "w", TABLES)
    timed = {leaf for wl in run.WORKLOADS.values() for _, leaf in wl["leaves"]}
    every = build_dynamic_oracles(str(d))
    ours = verify.fit_oracles(sorted(timed), str(d))
    assert ours == {n: every[n] for n in timed if n in every}
    assert ours  # impute_fcm_parameter and select_wfrs are timed


def test_warm_up_operations_are_kept_out_of_the_metrics():
    import run

    def rec(kind, name, wall, **kw):
        return {"kind": kind, "family": "f", "name": name, "wall_s": wall,
                "ok": True, **kw}

    recs = [rec("leaf", "a", 9.0, warm=True), rec("job", "q", 7.0, warm=True),
            rec("job", "q", 4.0),
            rec("resume", "q", 1.0), rec("leaf", "a", 2.0), rec("resume", "q", 5.0),
            rec("leaf", "a", 2.0), rec("resume", "q", 1.2)]
    m = run.end_to_end(recs, [3.0, 1.0, 2.0], 100.0, 8)
    assert m["leaves_s"] == (2.0, "s")
    assert m["resume_wall_s"] == (1.2, "s")  # the median drops the outlier
    assert m["wall_s"] == (4.0, "s") and m["setup_s"] == (2.0, "s")
    assert run.result(recs, [], m)["attempted"] == 8  # warm-up is still checked


# ------------------------------------------------------------- event log

LOG = HERE / "data" / "eventlog_small.json"


def test_eventlog_parser_on_captured_log():
    log = eventlog.parse(LOG)
    jobs = log["jobs"]
    groups = {j["group"] for j in jobs.values()}
    assert {"perfbench:1:plan", "perfbench:1:action"} <= groups
    action = [j for j in jobs.values() if j["group"] == "perfbench:1:action"]
    assert action and all(j["end"] >= j["start"] for j in action)
    assert sum(j["task_s"] for j in action) > 0
    assert sum(j["shuffle_mb"] for j in action) > 0
    assert sum(j["py_s"] for j in action) > 0       # pandas UDF time
    assert sum(j["py_io_mb"] for j in action) > 0   # Arrow bytes both ways
    assert all(j["stages"] for j in action)
    assert log["storage_mb"] >= 0

    t0 = min(j["start"] for j in jobs.values()) - 0.5
    t1 = max(j["end"] for j in jobs.values()) + 0.5
    plan_end = min(j["start"] for j in action) - 0.01
    span = {"op": 1, "kind": "leaf", "name": "x", "t0": t0, "t_plan": plan_end,
            "t1": t1}
    (rec,) = eventlog.attribute(log, [span])
    assert rec["jobs"] == len(action)
    assert rec["plan_s"] + rec["job_s"] + rec["driver_gap_s"] == pytest.approx(t1 - t0)
    assert rec["tree"]["action"]["jobs"][0]["stages"]


def test_union_of_job_intervals():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (7.0, 9.0)]
    assert eventlog._union_s(iv, 0.0, 10.0) == pytest.approx(6.0)
    assert eventlog._union_s(iv, 2.5, 8.0) == pytest.approx(0.5 + 1.0 + 1.0)


# ------------------------------------------------------------- Spark side

@pytest.fixture(scope="module")
def spark():
    from ficaria_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_digest_ignores_row_order_but_not_content(spark):
    from verify import digest

    rows = [(i, f"s{i % 7}", float(i) / 3) for i in range(200)]
    a = spark.createDataFrame(rows, "k long, s string, v double")
    b = spark.createDataFrame(rows[::-1], "k long, s string, v double").repartition(5)
    c = b.select("v", "k", "s")  # column order does not matter either
    assert digest(a) == digest(b) == digest(c)
    changed = rows[:-1] + [(199, "s0", 1.0)]
    assert digest(spark.createDataFrame(changed, a.schema))[1] != digest(a)[1]
    doubled = rows[:2] + rows[:2]  # duplicates must not cancel out
    assert digest(spark.createDataFrame(doubled, a.schema))[1] != 0


def test_corrupted_output_counts_as_failed(spark, tmp_path):
    from pyspark.sql import functions as F

    import run
    from verify import digest

    def good(spark_, sf_dir):
        return spark_.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    def corrupted(spark_, sf_dir):  # one value off
        return good(spark_, sf_dir).withColumn(
            "v", F.when(F.col("id") == 42, F.lit(0)).otherwise(F.col("v")))

    def broken(spark_, sf_dir):
        raise RuntimeError("boom")

    catalog = {"good": good, "corrupted": corrupted, "broken": broken}
    ref = list(digest(good(spark, "")))
    refs = {"good": ref, "corrupted": ref, "broken": ref}
    bench = run.Bench("temporal_job", tmp_path, refs, spark, catalog)
    recs = [bench.run_op("leaf", "temporal", n)
            for n in ("good", "corrupted", "good", "broken")]
    assert [r["ok"] for r in recs] == [True, False, True, False]
    assert recs[3]["error"].startswith("RuntimeError")
    out = run.result(recs, [], {"wall_s": (1.0, "s")})
    assert (out["attempted"], out["failed"], out["correct"]) == (4, 2, False)
    assert run.result(recs[:1], [], {})["correct"] is True
    assert run.result(recs[:1], ["x"], {})["correct"] is False


def test_rows_only_gate_result_is_a_failure_and_no_reference(spark, monkeypatch):
    import tools.check_oracle
    from ficaria_spark import queries

    import verify

    def query(spark_, sf_dir):
        return spark_.range(10)

    def fake_gate(sf_dir, only, spark=None, echo=print):
        for name in sorted(only):
            n = len(queries.QUERIES[name](spark, sf_dir).collect())
            echo(f"{name:24s} rows={n:7d}  (rows-only check, no oracle)"
                 if name == "pb_unchecked" else f"{name:24s} OK  rows={n}/{n}")
        return []

    monkeypatch.setitem(queries.QUERIES, "pb_checked", query)
    monkeypatch.setitem(queries.QUERIES, "pb_unchecked", query)
    monkeypatch.setattr(tools.check_oracle, "run_gate", fake_gate)
    refs, failures = verify.references(spark, "", ["pb_unchecked"], "pb_checked",
                                       echo=lambda line: None)
    assert refs == {"pb_checked": list(verify.digest(query(spark, "")))}
    assert failures == ["pb_unchecked (no oracle, rows-only check)"]
