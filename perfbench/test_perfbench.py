"""The benchmark's own tests (no Spark session needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pyarrow.dataset as ds
import pytest

from perfbench import gen, run, tracing
from perfbench.oracle import Oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def _table(d: str, name: str):
    return ds.dataset(os.path.join(d, f"{name}.parquet")).to_table()


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=3, copies=2)
    b = gen.generate(str(tmp_path / "b"), seed=3, copies=2)
    fa, fb = _files(a), _files(b)
    assert fa.keys() == fb.keys()
    assert "lineitem.parquet/part-00001.parquet" in fa
    assert all(fa[k] == fb[k] for k in fa)


def test_other_seed_same_sizes_different_rows(tmp_path):
    a = gen.generate(str(tmp_path), seed=3, copies=2)
    b = gen.generate(str(tmp_path), seed=4, copies=2)
    assert a != b
    for t in gen.TABLES:
        ta, tb = _table(a, t), _table(b, t)
        assert ta.num_rows == tb.num_rows
        if t not in ("region", "nation"):
            assert not ta.equals(tb), t


def test_copies_keep_foreign_keys_and_stay_apart(tmp_path):
    d = gen.generate(str(tmp_path), seed=5, copies=2)
    li = _table(d, "lineitem").to_pandas()
    orders = _table(d, "orders").to_pandas()
    cust = _table(d, "customer").to_pandas()
    assert li.l_orderkey.isin(orders.o_orderkey).all()
    assert orders.o_custkey.isin(cust.c_custkey).all()
    docs = _table(d, "documents").to_pandas()
    assert _table(d, "embeddings").to_pandas().vec_id.isin(docs.doc_id).all()
    assert _table(d, "events").to_pandas().user_id.isin(cust.c_custkey).all()
    n = gen.COPY_ROWS["documents"]
    vocab = [set(" ".join(docs.text[docs.doc_id // n == k]).split()) for k in range(2)]
    assert vocab[0] & vocab[1] <= {"a", "the", "dup"}


def test_benchmark_json_names_units_and_bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    assert sorted(names) == sorted(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert set(e2e) == set(run.END_TO_END)
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layers = [m["name"] for m in spec["per_layer"]]
    assert layers == list(run.PER_LAYER)
    every = names + list(e2e) + layers
    assert len(every) == len(set(every))
    for name in every:
        assert NAME.match(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for k, unit in run.END_TO_END.items():
        assert e2e[k]["unit"] == unit
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["unit"] == run.layer_unit(m["name"])


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    return Oracle(ROOT, str(tmp_path_factory.mktemp("oracle")))


def test_oracle_flags_an_altered_frame(oracle):
    good = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    want = oracle.summary(good)
    assert oracle.problems(good.iloc[::-1], want) == []
    bad = good.copy()
    bad.loc[1, "score"] = 0.26
    assert oracle.problems(bad, want) == ["value-hash mismatch"]
    assert oracle.problems(good.iloc[:2], want)
    assert oracle.problems(good.astype({"id": str}), want)
    assert oracle.problems(good.iloc[:0], None) == ["rows-only check: no rows"]


def test_oracle_expected_runs_duckdb_once(tmp_path, oracle):
    d = gen.generate(str(tmp_path), seed=6, copies=2)
    sql = {"n_region": "SELECT count(*) AS n FROM region",
           "n_docs": "SELECT count(*) AS n FROM documents", "rows_only": None}
    got = oracle.expected(d, "t", sql, gen.TABLES)
    assert got["n_docs"]["rows"] == 1 and got["rows_only"] is None
    assert got["n_docs"] == oracle.summary(pd.DataFrame({"n": [2 * gen.COPY_ROWS["documents"]]}))
    cached = oracle.expected("/nonexistent", "t", sql, gen.TABLES)
    assert cached == got


def test_parse_metric():
    assert tracing.parse_metric("4,000") == 4000
    assert tracing.parse_metric("505.3 KiB") == pytest.approx(505.3 * 1024)
    assert tracing.parse_metric("9 ms") == 9
    text = "total (min, med, max (stageId: taskId))\n11.5 s (2.8 s, 2.9 s, 2.9 s (stage 0.0: task 1))"
    assert tracing.parse_metric(text) == pytest.approx(11500)
    assert tracing.parse_metric("1.5 m") == pytest.approx(90000)


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = tracing.self_times(spans)
    assert st == {0: pytest.approx(5.0), 1: pytest.approx(2.0),
                  2: pytest.approx(3.0), 3: pytest.approx(1.0)}


def test_process_counters():
    assert 0 < run.process_age_s() < 24 * 3600
    assert run.peak_rss_mb(os.getpid()) > 1
    assert os.getpid() in run.process_tree(os.getpid())
