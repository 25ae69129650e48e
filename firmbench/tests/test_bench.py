"""Tests of the benchmark's own code: input generation and correctness checks.

Run from the repository root: ``python -m pytest firmbench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from firmbench import checks, datagen
from firmbench.run import layer_totals, op_accounting
from firmbench.tracing import Span


def _files(directory: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = fh.read()
    return out


def _write_firmographics(directory: str, seed: int) -> None:
    fx = datagen.firmographic_batches(seed, 200, 8)
    datagen.write_json_docs(directory, "wiki", fx.wiki_docs + fx.wiki_docs_t1)
    datagen.write_json_docs(directory, "fortune", fx.fortune_docs + fx.fortune_docs_t1)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for sub in ("a", "b"):
        datagen.write_parquet_tables(str(tmp_path / sub / "rel"), datagen.relational_tables(7, 0.001))
        _write_firmographics(str(tmp_path / sub / "dag"), 7)
    for kind in ("rel", "dag"):
        a, b = _files(str(tmp_path / "a" / kind)), _files(str(tmp_path / "b" / kind))
        assert a and a == b


def test_different_seeds_give_different_keys():
    t1, t2 = datagen.relational_tables(1, 0.001), datagen.relational_tables(2, 0.001)
    for table, key in [("orders", "o_orderkey"), ("customer", "c_custkey"), ("events", "event_id")]:
        k1, k2 = set(t1[table][key].to_pylist()), set(t2[table][key].to_pylist())
        assert len(k1) == t1[table].num_rows == t2[table].num_rows
        assert not k1 & k2, table
    f1, f2 = datagen.firmographic_batches(1, 200, 8), datagen.firmographic_batches(2, 200, 8)
    ciks = [{r["CIK"] for doc in f.wiki_docs for r in doc} for f in (f1, f2)]
    assert not ciks[0] & ciks[1]


def test_firmographics_cover_the_fixture_edge_cases():
    fx = datagen.firmographic_batches(3, 1000, 16)
    wiki = [r for doc in fx.wiki_docs for r in doc]
    items = [it for doc in fx.fortune_docs for it in doc["items"]]
    assert any(" (" in r["Security"] for r in wiki)
    assert any(r["Date added"] == "" for r in wiki)
    assert any(r["Headquarters Location"] == "none" for r in wiki)
    assert any(r["Founded"][4:] for r in wiki)
    ciks = [r["CIK"] for r in wiki]
    assert len(ciks) > len(set(ciks)) == fx.n_wiki_ciks
    assert any(it["data"]["Profits ($M)"].startswith("$-") for it in items)
    assert any(it["data"]["Employees"] == "" for it in items)
    names = {r["Security"].split(" (")[0] for r in wiki}
    assert fx.n_core == sum(it["name"] in names for it in items) < len(items)
    assert fx.moved and all(
        (it["data"]["Headquarters City"], it["data"]["State"]) == fx.moved[it["name"]]
        for doc in fx.fortune_docs_t1 for it in doc["items"] if it["name"] in fx.moved
    )
    json.dumps(fx.fortune_docs)  # landable as JSON


def _result() -> pd.DataFrame:
    return pd.DataFrame({
        "k": [3, 1, 2],
        "v": [0.1 + 0.2, 1.5, None],
        "s": ["c", "a", "b"],
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })


def test_oracle_compare_is_order_insensitive_and_bit_exact():
    got = _result()
    oracle = got.sample(frac=1, random_state=0)[["t", "s", "v", "k"]]
    assert checks.compare_bit_exact("q", got, oracle) == []


@pytest.mark.parametrize(
    "perturb",
    [
        lambda d: d.assign(v=[np.nextafter(0.1 + 0.2, 1.0), 1.5, None]),  # one ULP
        lambda d: d.assign(s=["c", "a", "B"]),
        lambda d: d.assign(v=[0.1 + 0.2, 1.5, 0.0]),  # NULL vs value
        lambda d: d.iloc[:2],
        lambda d: d.rename(columns={"s": "s2"}),
    ],
)
def test_oracle_compare_fails_on_one_perturbed_value(perturb):
    assert checks.compare_bit_exact("q", perturb(_result()), _result())


def test_dag_row_count_check_fails_on_one_perturbed_count():
    fx = datagen.firmographic_batches(4, 300, 8)
    for phase in ("refresh", "incremental"):
        expected = fx.expected_rows(phase)
        assert checks.dag_row_counts(dict(expected), expected) == []
        counts = dict(expected, **{"analytics.dim_location": expected["analytics.dim_location"] + 1})
        assert len(checks.dag_row_counts(counts, expected)) == 1
    refresh, incremental = fx.expected_rows("refresh"), fx.expected_rows("incremental")
    assert incremental["snapshots.company_location_snapshot"] == 2 * refresh["core.cr_company_complete"]


def _dim_location(moved: dict) -> pd.DataFrame:
    rows = [(checks.dbt_key(n, c, s), c, s) for n, (c, s) in moved.items()]
    rows.append((checks.dbt_key("Unmoved Co", "Austin", "TX"), "Austin", "TX"))
    return pd.DataFrame(rows, columns=["location_key", "headquarters_city", "headquarters_state"])


def test_moved_city_check_fails_on_one_perturbed_value():
    moved = datagen.firmographic_batches(5, 400, 8).moved
    dim = _dim_location(moved)
    assert checks.moved_cities(dim, moved) == []
    bad = dim.copy()
    bad.loc[0, "headquarters_city"] = "Elsewhere"
    assert len(checks.moved_cities(bad, moved)) == 1
    assert len(checks.moved_cities(dim.iloc[1:], moved)) == 1


def test_dbt_key_matches_the_reference_golden():
    # FIXTURES.md §6: md5 of the '-'-joined parts, NULL as a sentinel
    assert checks.dbt_key("Walmart", "Bentonville", "AR") == "7d800ddd8c853f307d5811a760c52854"
    assert checks.dbt_key("A", None) == checks.dbt_key("A", "_dbt_utils_surrogate_key_null_")


def test_layer_totals_account_for_op_wall_time():
    op = Span(0, "q", "op", 0, None, 0.0, 10.0)
    build = Span(1, "construct q", "construct", 0, 0, 0.0, 3.0, jobs=2, py4j_calls=40)
    write = Span(2, "write q", "write", 0, 0, 3.0, 7.0, jobs=3, stages=4, tasks=9,
                 job_busy_s=2.5, analysis_s=0.1, optimization_s=0.2, planning_s=0.05)
    m = layer_totals([op, build, write], rows_landed=0)
    assert m["construct_s"] == 3.0 and m["construct_jobs"] == 2 and m["construct_py4j_calls"] == 40
    assert m["execute_s"] == 4.0 and m["execute.jobs"] == 3 and m["execute.tasks"] == 9
    assert m["execute.driver_gap_s"] == pytest.approx(1.5)
    assert m["trace.op_gap_s"] == pytest.approx(3.0)
    assert m["catalog.rows_written_per_row_landed"] == 0.0
    acct = op_accounting([op, build, write])["q"]
    assert acct["wall_s"] == acct["spans_s"] + acct["gap_s"] == 10.0


def test_metric_names_and_units_match_benchmark_json():
    from firmbench.run import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_job_intervals_are_unioned_before_gaps_are_taken():
    from firmbench.tracing import _union_seconds

    # ms intervals: two overlapping jobs, one nested, one separate
    assert _union_seconds([(0, 1000), (500, 1500), (600, 700), (3000, 3500)]) == 2.0
    assert _union_seconds([]) == 0.0
