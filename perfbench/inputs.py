"""Seeded input generators for the benchmark.

Two families, both pure functions of ``(seed, sf)``:

- :func:`gen_tpch` — the TPC-H-shaped star schema (+ ``events`` and
  ``documents``) that the relational/scalar query surface reads, with
  the same column names, physical types and value domains as the
  repository's testdata tables (TESTDATA.md) at the same scale factor;
- :func:`gen_pls` — PLS-shaped ETL inputs derived from those tables:
  one ``lf_address`` row per ``lineitem`` row, ``orders`` → sites,
  ``part`` → parcels, one geocode per address pid, and an IRI→PID map
  with a seeded miss rate. It also derives the next day's increment
  (IRI→PID remaps, re-fetched geocodes, new parcels/sites/addresses)
  whose share comes from the seed.

Everything is written as parquet during set-up; the program under test
only ever sees these files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
GEOCODE_TYPES = ["PC", "BAP", "FCS", "PAPS", "UC"]


def _rows(n_at_sf1: int, sf: float) -> int:
    return max(1, int(round(n_at_sf1 * sf)))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, like the testdata tables: exact decimal round-trips
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def gen_tpch(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten testdata tables, at ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = _rows(150_000, sf), _rows(10_000, sf)
    n_part, n_orders = _rows(200_000, sf), _rows(1_500_000, sf)
    n_li, n_events = _rows(6_000_000, sf), _rows(1_000_000, sf)
    n_users, n_docs = _rows(15_000, sf), _rows(50_000, sf)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
            "o_orderdate": pa.array(_dates(rng, n_orders, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(_dates(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    span_us = 30 * 24 * 3600 * 1_000_000
    # distinct microsecond timestamps, as in the testdata events table
    ts_off = np.sort(rng.choice(span_us, n_events, replace=False))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + ts_off[rng.permutation(n_events)].astype("timedelta64[us]")
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    # a fixed-size table in the testdata; no query here reads
    # it, but the DuckDB oracle connection opens a view over every table
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, 500)
    vecs = centers[labels] + 0.35 * rng.normal(size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(500, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32))),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file parquet per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


#: the ETL tables and their parquet file names under a day's directory
PLS_TABLES = ("lf_address", "fetched_iri_pid", "fetched_geocodes", "lf_site", "lf_parcel")
#: surrogate-id tables passed to ``run_etl`` as ``tables_to_remap``
REMAP_PKS = {"lf_site": "site_id", "lf_parcel": "parcel_id"}


@dataclass(frozen=True)
class PlsShares:
    """Seed-drawn shares that shape one PLS input set."""

    miss: float  # addresses whose IRI has no PID mapping (pruned)
    orphan: float  # geocodes whose pid has no address (pruned)
    remap: float  # day-2 IRI→PID remaps, as a share of addresses
    refetch: float  # day-2 re-fetched geocodes (same pid), same basis
    new: float  # day-2 new addresses (with new sites and parcels)


def pls_shares(seed: int) -> PlsShares:
    rng = np.random.default_rng([seed, 2])
    return PlsShares(
        miss=float(rng.uniform(0.02, 0.04)),
        orphan=float(rng.uniform(0.01, 0.03)),
        remap=float(rng.uniform(0.02, 0.05)),
        refetch=float(rng.uniform(0.02, 0.05)),
        new=float(rng.uniform(0.005, 0.015)),
    )


def _geocodes(rng, ids: np.ndarray, pids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "geocode_id": pa.array([f"geo-{i:09d}" for i in ids]),
            "geocode_type": _pick(rng, GEOCODE_TYPES, n),
            "address_pid": pa.array([str(p) for p in pids]),
            "site_id": pa.nulls(n, pa.string()),
            "centoid_lat": pa.array(np.round(rng.uniform(-29.0, -10.0, n), 6)),
            "centoid_lon": pa.array(np.round(rng.uniform(138.0, 154.0, n), 6)),
            "hash": pa.nulls(n, pa.string()),
        }
    )


def _addresses(idx: np.ndarray, pids: np.ndarray, orders: np.ndarray, parts: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "addr_id": pa.array([f"addr-{i:09d}" for i in idx]),
            "address_pid": pa.array([str(p) for p in pids]),
            "site_id": pa.array([f"site-{o:09d}" for o in orders]),
            "parcel_id": pa.array([f"parcel-{p:09d}" for p in parts]),
        }
    )


def _pid_map(idx: np.ndarray, pids: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "address_iri": pa.array([f"iri/addr/{i:09d}" for i in idx]),
            "address_pid": pa.array([str(p) for p in pids]),
        }
    )


def _sites(keys: np.ndarray, priority: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "site_id": pa.array([f"site-{k:09d}" for k in keys]),
            "site_type": pa.array(priority),
        }
    )


def _parcels(keys: np.ndarray, brand: np.ndarray, size: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "parcel_id": pa.array([f"parcel-{k:09d}" for k in keys]),
            "plan_no": pa.array([f"SP{b[6:]}-{s}" for b, s in zip(brand, size)]),
        }
    )


#: address pids are 1e9 + lineitem row; day-2 remapped pids 2e9 + row
PID_BASE, REMAP_PID_BASE = 1_000_000_000, 2_000_000_000


def gen_pls(seed: int, sf: float) -> dict[str, dict[str, pa.Table]]:
    """Day-1 (``base``) and day-2 (``increment``) ETL inputs.

    ``base`` is a full extract: every address, every mapped IRI, every
    geocode. ``increment`` is the next day's run over the state ``base``
    leaves behind: ``fetched_*`` hold only the remapped/re-fetched/new
    rows, while ``lf_address``, ``lf_site`` and ``lf_parcel`` are the
    full current tables (the SPARQL pull is not incremental).
    """
    tpch = gen_tpch(seed, sf)
    shares = pls_shares(seed)
    rng = np.random.default_rng([seed, 3])
    li, orders, part = tpch["lineitem"], tpch["orders"], tpch["part"]
    n = li.num_rows
    rows = np.arange(n, dtype=np.int64)
    order_of = li.column("l_orderkey").to_numpy()
    part_of = li.column("l_partkey").to_numpy()
    pids = PID_BASE + rows

    mapped = rng.random(n) >= shares.miss
    n_orphan = int(round(n * shares.orphan))
    geo_ids = np.arange(n + n_orphan, dtype=np.int64)
    geo_pids = np.concatenate([pids, PID_BASE + n + np.arange(n_orphan)])
    n_orders, n_part = orders.num_rows, part.num_rows
    base = {
        "lf_address": _addresses(rows, pids, order_of, part_of),
        "fetched_iri_pid": _pid_map(rows[mapped], pids[mapped]),
        "fetched_geocodes": _geocodes(rng, geo_ids, geo_pids),
        "lf_site": _sites(
            np.arange(n_orders), orders.column("o_orderpriority").to_numpy(zero_copy_only=False)
        ),
        "lf_parcel": _parcels(
            np.arange(n_part),
            part.column("p_brand").to_numpy(zero_copy_only=False),
            part.column("p_size").to_numpy(),
        ),
    }

    # ---- day 2: remaps, re-fetches and new rows, disjoint by address
    n_remap, n_refetch = int(round(n * shares.remap)), int(round(n * shares.refetch))
    n_new = max(1, int(round(n * shares.new)))
    picked = rng.choice(rows[mapped], n_remap + n_refetch, replace=False)
    remap_rows, refetch_rows = np.sort(picked[:n_remap]), np.sort(picked[n_remap:])
    new_rows = n + n_orphan + np.arange(n_new, dtype=np.int64)  # fresh ids
    new_sites = n_orders + np.arange(max(1, n_new // 4))
    new_parcels = n_part + np.arange(max(1, n_new // 8))
    new_order = rng.choice(np.concatenate([order_of[:1000], new_sites]), n_new)
    new_part = rng.choice(np.concatenate([part_of[:1000], new_parcels]), n_new)
    # every new site/parcel is referenced by at least one new address
    new_order[: len(new_sites)] = new_sites
    new_part[: len(new_parcels)] = new_parcels
    new_pids = PID_BASE + new_rows

    day2_pids = pids.copy()
    day2_pids[remap_rows] = REMAP_PID_BASE + remap_rows
    addr2 = pa.concat_tables(
        [
            _addresses(rows, day2_pids, order_of, part_of),
            _addresses(new_rows, new_pids, new_order, new_part),
        ]
    )
    iri2 = pa.concat_tables(
        [
            _pid_map(remap_rows, day2_pids[remap_rows]),
            _pid_map(new_rows, new_pids),
        ]
    )
    # remapped addresses' geocodes move with them; re-fetched ones keep
    # their pid; new addresses each get a new geocode; and as on day 1
    # a few fetched geocodes have no address (the run prunes them)
    orphan_rows = new_rows[-1] + 1 + np.arange(n_new, dtype=np.int64)
    geo2 = _geocodes(
        rng,
        np.concatenate([remap_rows, refetch_rows, new_rows, orphan_rows]),
        np.concatenate(
            [day2_pids[remap_rows], pids[refetch_rows], new_pids, PID_BASE + orphan_rows]
        ),
    )
    site_prio = np.asarray(PRIORITIES, dtype=object)[rng.integers(0, 5, len(new_sites))]
    increment = {
        "lf_address": addr2,
        "fetched_iri_pid": iri2,
        "fetched_geocodes": geo2,
        "lf_site": pa.concat_tables([base["lf_site"], _sites(new_sites, site_prio)]),
        "lf_parcel": pa.concat_tables(
            [
                base["lf_parcel"],
                _parcels(
                    new_parcels,
                    np.asarray([f"Brand#{k}" for k in rng.integers(1, 26, len(new_parcels))]),
                    rng.integers(1, 51, len(new_parcels)),
                ),
            ]
        ),
    }
    return {"base": base, "increment": increment}
