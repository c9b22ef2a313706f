"""Tests of the benchmark's own pieces that need no Spark session.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import expected_state  # noqa: E402
from inputs import PLS_TABLES, gen_pls, gen_tpch  # noqa: E402
from spans import _covered_ms  # noqa: E402

SEED = 7


def _rows(tables):
    return {name: t.num_rows for name, t in tables.items()}


def test_tpch_row_counts_at_sf0_001():
    assert _rows(gen_tpch(SEED, 0.001)) == {
        "region": 5,
        "nation": 25,
        "customer": 150,
        "supplier": 10,
        "part": 200,
        "orders": 1500,
        "lineitem": 6000,
        "events": 1000,
        "documents": 50,
        "embeddings": 500,
    }


def test_pls_row_counts_at_sf0_001():
    days = gen_pls(SEED, 0.001)
    assert {day: _rows(t) for day, t in days.items()} == {
        "base": {
            "lf_address": 6000,
            "fetched_iri_pid": 5848,
            "fetched_geocodes": 6113,
            "lf_site": 1500,
            "lf_parcel": 200,
        },
        "increment": {
            "lf_address": 6045,
            "fetched_iri_pid": 333,
            "fetched_geocodes": 621,
            "lf_site": 1511,
            "lf_parcel": 205,
        },
    }


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen_pls(s, 0.001)["increment"] for s in (SEED, SEED, SEED + 1))
    assert all(a[t].equals(b[t]) for t in PLS_TABLES)
    assert not all(a[t].equals(c[t]) for t in PLS_TABLES)


def test_keys_unique_where_the_program_assumes_it():
    for tables in gen_pls(SEED, 0.001).values():
        for name, col in (
            ("lf_address", "addr_id"),
            ("fetched_iri_pid", "address_iri"),
            ("fetched_geocodes", "geocode_id"),
            ("lf_site", "site_id"),
            ("lf_parcel", "parcel_id"),
        ):
            keys = tables[name].column(col).to_pylist()
            assert len(keys) == len(set(keys)), (name, col)


def test_expected_cold_state(tmp_path):
    base = gen_pls(SEED, 0.001)["base"]
    for name, table in base.items():
        pq.write_table(table, tmp_path / f"{name}.parquet")
    exp = expected_state(str(tmp_path), None)
    mapped = base["fetched_iri_pid"].num_rows
    assert exp["rows"]["lf_address"] == mapped  # one address per mapped IRI
    assert exp["rows"]["lf_geocode_sp_survey_point"] == mapped  # orphans pruned
    assert exp["rows"]["lf_site_id_map"] == base["lf_site"].num_rows
    assert sorted(exp["id_maps"]["lf_parcel"].values()) == list(range(1, 201))
    assert exp["layers"]["id_map.new_key_share"] == 1.0
    assert exp["layers"]["upsert.rows_updated"] == 0


def test_covered_ms_merges_overlaps_and_clips():
    assert _covered_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
    assert _covered_ms([], 0, 10) == 0
