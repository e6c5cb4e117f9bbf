"""Tests of the benchmark itself (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from perfbench import checks, engine, inputs, run
from perfbench.tracing import Span, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_digest(root: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(root, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(root))
    }


# ------------------------------------------------------------ inputs


def test_registry_tables_are_byte_identical_per_seed(tmp_path):
    a = inputs.registry_tables(7, str(tmp_path / "a"))
    b = inputs.registry_tables(7, str(tmp_path / "b"))
    c = inputs.registry_tables(8, str(tmp_path / "c"))
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_relabeling_is_one_bijection_per_domain_inside_int_range(tmp_path):
    out = inputs.registry_tables(3, str(tmp_path / "t"))
    maps = inputs.relabel_maps(3)
    for domain, cols in inputs.KEY_DOMAINS.items():
        perm = maps[domain]
        assert sorted(perm) == list(range(len(perm)))  # a permutation
        assert perm.max() < 2**31
        for t, c in cols:
            old = pq.read_table(os.path.join(inputs.DATA_DIR, f"{t}.parquet")).column(c)
            new = pq.read_table(os.path.join(out, f"{t}.parquet")).column(c)
            assert new.type == old.type
            assert new.to_pylist() == [int(perm[v]) for v in old.to_pylist()]
    # orders keep their customers: the join is relabeled on both sides alike
    cust = maps["customer"]
    o_old = pq.read_table(os.path.join(inputs.DATA_DIR, "orders.parquet"))
    o_new = pq.read_table(os.path.join(out, "orders.parquet"))
    assert o_new.column("o_custkey").to_pylist() == [
        int(cust[v]) for v in o_old.column("o_custkey").to_pylist()
    ]


def test_ml1m_world_is_byte_identical_per_seed(tmp_path):
    a = inputs.ml1m_world(5, str(tmp_path / "a"))
    b = inputs.ml1m_world(5, str(tmp_path / "b"))
    assert _tree_digest(os.path.dirname(a["ratings"])) == _tree_digest(
        os.path.dirname(b["ratings"])
    )
    r = pq.read_table(a["ratings"])
    assert r.num_rows == inputs.ML1M_USERS * inputs.ML1M_PER_USER
    assert max(r.column("itemid").to_pylist()) <= inputs.ML1M_ITEMS


# ----------------------------------------------------- metric names


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_what_the_run_prints():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in b["workloads"]} == {"ml1m", "registry"}


def test_metric_names_and_units_are_valid():
    b = _benchmark_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(m["better"] in ("lower", "higher") for m in b["end_to_end"] + b["per_layer"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


# ---------------------------------------------------------- spans


def _tree() -> dict[int, Span]:
    # root [0, 10] with children a [1, 4] and b [3, 6] (overlap 3-4) and
    # c [8, 12] (runs past the root's end); a has child d [2, 3].
    spans = {
        0: Span(0, "root", "wall", None, 0.0, 10.0, children=[1, 2, 3]),
        1: Span(1, "a", "construct", 0, 1.0, 4.0, children=[4]),
        2: Span(2, "b", "execute", 0, 3.0, 6.0),
        3: Span(3, "c", "execute", 0, 8.0, 12.0),
        4: Span(4, "d", "execute", 1, 2.0, 3.0),
    }
    return spans


def test_self_time_subtracts_the_union_of_children():
    spans = _tree()
    assert self_time(spans[0], spans) == pytest.approx(10 - (5 + 2))  # [1,6] + [8,10]
    assert self_time(spans[1], spans) == pytest.approx(3 - 1)
    assert self_time(spans[2], spans) == pytest.approx(3)
    assert self_time(spans[4], spans) == pytest.approx(1)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([float(i) for i in range(1, 101)]) == (90.0, "p90.0 of 100")
    assert run.tail([float(i) for i in range(1, 21)]) == (10.0, "p50.0 of 20")
    value, desc = run.tail([3.0, 1.0, 2.0, 4.0])
    assert value == pytest.approx(3.7) and desc == "p90 interpolated, 4 samples"
    assert run.tail([2.5]) == (2.5, "the only sample")


# ---------------------------------------------- engine metric parsing


def test_status_store_strings_parse():
    assert engine.parse_total(
        "total (min, med, max (stageId: taskId))\n129 ms (47 ms, 82 ms, 82 ms (stage 0.0: task 1))"
    ) == pytest.approx(0.129)
    assert engine.parse_total("1.5 KiB") == 1536.0
    assert engine.parse_total("100,000") == 100000.0
    assert engine.parse_total("2.0 s") == 2.0
    with pytest.raises(ValueError):
        engine.parse_total("12 parsecs")
    m = engine.parse_scala_map("Map(3 -> 1.0 KiB (1, 2), 17 -> 0 ms)")
    assert m == {3: "1.0 KiB (1, 2)", 17: "0 ms"}
    assert engine.parse_int_seq("ArraySeq(4, 5)") == [4, 5]
    assert engine.parse_int_seq("List()") == []


def test_coalesced_stage_signature():
    stage = lambda tasks, run_ms, read: dict(tasks=tasks, run_ms=run_ms, read=read)  # noqa: E731
    # a post-shuffle stage on 1 task carrying most of the query's time
    assert engine.coalesced([stage(4, 100, 0), stage(1, 900, 10)], parallelism=4) == 1
    # full width, or a minor share, or no shuffle read: not the trap
    assert engine.coalesced([stage(4, 100, 0), stage(4, 900, 10)], parallelism=4) == 0
    assert engine.coalesced([stage(4, 900, 0), stage(1, 100, 10)], parallelism=4) == 0
    assert engine.coalesced([stage(1, 900, 0)], parallelism=4) == 0


# ------------------------------------------------------- checkers


def test_oracle_check_fails_on_a_planted_wrong_row(tmp_path):
    sf = inputs.registry_tables(1, str(tmp_path / "t"))
    sql = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    cols, rows = ["n_regionkey", "n"], [(r, 5) for r in range(5)]
    assert checks.against_oracle(cols, rows, sql, sf) == []
    wrong = rows[:-1] + [(4, 6)]
    problems = checks.against_oracle(cols, wrong, sql, sf)
    assert problems and "value mismatch" in problems[0]
    assert checks.against_oracle(cols, rows[:-1], sql, sf)  # a missing row
    assert checks.against_oracle(["n_regionkey", "m"], rows, sql, sf)  # a renamed column


def test_serve_check_fails_on_a_planted_wrong_row():
    batch = {1: [(1, 10, 0.9), (1, 11, 0.8)], 2: [(2, 12, 0.7)]}
    good = [(1, 10, 0.9), (1, 11, 0.8), (2, 12, 0.7)]
    assert checks.serve_response([1, 2], good, batch, response_k=50) == []
    assert checks.serve_response([1, 2], good[:2] + [(2, 12, 0.70001)], batch, 50)
    assert checks.serve_response([1, 2], good[:2], batch, 50)  # user 2 unanswered
    assert checks.serve_response([1], good, batch, 50)  # rows for an unrequested user
    assert checks.serve_response([1, 2], good, batch, response_k=1)  # more than k


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 0.5), (2, "b", None)]
    cols = ["x", "y", "z"]
    assert checks.digest(cols, rows) == checks.digest(cols, rows[::-1])
    assert checks.digest(cols, rows) != checks.digest(cols, [(1, "a", 0.5), (2, "b", 0.0)])


def test_registry_queries_cover_every_module_and_have_oracles():
    import __spark_entry__ as entry

    from perfbench import workloads

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert all(q in oracles for q in workloads.REGISTRY_QUERIES)
    modules = {workloads.registry_layer(qs[q]) for q in workloads.REGISTRY_QUERIES}
    assert modules == {layer for layer in run.LAYERS if layer.startswith("queries")}
