"""Output checks for the ETL workloads, computed with DuckDB.

Nothing here uses Spark: the expected state is derived independently
from the generated input files (and, for an incremental run, from the
base snapshot it restores), and each published snapshot is read back
from its parquet files. All of it runs outside the timed windows.
"""

from __future__ import annotations

import os

import duckdb

from inputs import PLS_TABLES, REMAP_PKS

#: every table ``run_etl`` publishes, in its write order
SNAPSHOT_TABLES = (
    "lf_address",
    "lf_geocode_sp_survey_point",
    *(name for t in REMAP_PKS for name in (t, f"{t}_id_map")),
    "address_iri_pid_map",
    "metadata",
)


def _files(table_dir: str) -> str:
    return os.path.join(table_dir, "*.parquet")


def _connect(day_dir: str, base_dir: str | None) -> duckdb.DuckDBPyConnection:
    """Views ``in_<table>`` over a day's inputs and ``b_pid``, ``b_geo``,
    ``b_<remap table>`` over the base snapshot (empty without one)."""
    con = duckdb.connect()
    for t in PLS_TABLES:
        con.execute(f"CREATE VIEW in_{t} AS SELECT * FROM '{day_dir}/{t}.parquet'")
    base = {
        "b_pid": "address_iri_pid_map",
        "b_geo": "lf_geocode_sp_survey_point",
        **{f"b_{t}": f"{t}_id_map" for t in REMAP_PKS},
    }
    for view, table in base.items():
        if base_dir is not None:
            source = f"'{_files(os.path.join(base_dir, table))}'"
        elif view == "b_pid":
            source = "in_fetched_iri_pid WHERE false"
        elif view == "b_geo":
            source = "in_fetched_geocodes WHERE false"
        else:
            source = "(SELECT ''::VARCHAR AS iri, 0::BIGINT AS id) WHERE false"
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM {source}")
    return con


def expected_state(day_dir: str, base_dir: str | None) -> dict:
    """Row counts, layer counts and exact id maps one correct run over
    ``day_dir`` (restoring ``base_dir``, if given) must publish."""
    con = _connect(day_dir, base_dir)
    con.execute(
        """
        CREATE TABLE pid_map AS
        SELECT address_iri, address_pid FROM in_fetched_iri_pid
        UNION ALL
        SELECT address_iri, address_pid FROM b_pid
        WHERE address_iri NOT IN (SELECT address_iri FROM in_fetched_iri_pid)
        """
    )
    con.execute(
        """
        CREATE TABLE addresses AS
        SELECT * FROM in_lf_address
        WHERE address_pid IN (SELECT address_pid FROM pid_map)
        """
    )
    con.execute(
        """
        CREATE TABLE merged_geo AS
        SELECT geocode_id, address_pid FROM in_fetched_geocodes
        UNION ALL
        SELECT geocode_id, address_pid FROM b_geo
        WHERE geocode_id NOT IN (SELECT geocode_id FROM in_fetched_geocodes)
        """
    )
    q = con.execute
    addr_pids = "(SELECT address_pid FROM addresses)"
    exp = {
        "rows": {
            "lf_address": q("SELECT count(*) FROM addresses").fetchone()[0],
            "lf_geocode_sp_survey_point": q(
                f"SELECT count(*) FROM merged_geo WHERE address_pid IN {addr_pids}"
            ).fetchone()[0],
            "address_iri_pid_map": q("SELECT count(*) FROM pid_map").fetchone()[0],
            "metadata": 1,
        },
        "id_maps": {},
        "layers": {},
    }
    keys_seen = new_keys = 0
    for t, pk in REMAP_PKS.items():
        exp["rows"][t] = q(f"SELECT count(*) FROM in_{t}").fetchone()[0]
        rows = q(
            f"""
            SELECT iri, id FROM b_{t}
            UNION ALL
            SELECT k, (SELECT coalesce(max(id), 0) FROM b_{t}) + row_number() OVER (ORDER BY k)
            FROM (SELECT DISTINCT {pk} AS k FROM in_{t}
                  WHERE {pk} NOT IN (SELECT iri FROM b_{t}))
            """
        ).fetchall()
        exp["id_maps"][t] = dict(rows)
        exp["rows"][f"{t}_id_map"] = len(rows)
        keys_seen += q(f"SELECT count(DISTINCT {pk}) FROM in_{t}").fetchone()[0]
        new_keys += q(
            f"SELECT count(DISTINCT {pk}) FROM in_{t} WHERE {pk} NOT IN (SELECT iri FROM b_{t})"
        ).fetchone()[0]
    merged = q("SELECT count(*) FROM merged_geo").fetchone()[0]
    enriched = q(f"SELECT count(*) FROM merged_geo WHERE address_pid IN {addr_pids}").fetchone()[0]
    fetched_rows = sum(
        q(f"SELECT count(*) FROM in_{t}").fetchone()[0]
        for t in ("fetched_iri_pid", "fetched_geocodes")
    )
    def count(table: str, key: str, other: str, op: str) -> int:
        return q(
            f"SELECT count(*) FROM {table} WHERE {key} {op} (SELECT {key} FROM {other})"
        ).fetchone()[0]

    exp["layers"] = {
        "upsert.rows_updated": count("in_fetched_iri_pid", "address_iri", "b_pid", "IN")
        + count("in_fetched_geocodes", "geocode_id", "b_geo", "IN"),
        "upsert.rows_carried": count("b_pid", "address_iri", "in_fetched_iri_pid", "NOT IN")
        + count("b_geo", "geocode_id", "in_fetched_geocodes", "NOT IN"),
        "pipeline.addresses_pruned": q("SELECT count(*) FROM in_lf_address").fetchone()[0]
        - exp["rows"]["lf_address"],
        "pipeline.geocodes_pruned": merged - exp["rows"]["lf_geocode_sp_survey_point"],
        # every merged geocode arrives with site_id NULL (fresh fetch or
        # carry-forward reset); the enrich join fills it exactly for
        # geocodes whose pid has an address
        "pipeline.geocodes_enriched_share": enriched / merged if merged else 0.0,
        "id_map.keys_seen": keys_seen,
        "id_map.new_keys": new_keys,
        "id_map.new_key_share": new_keys / keys_seen if keys_seen else 0.0,
        "increment_rows": fetched_rows,
    }
    con.close()
    return exp


def summarize_snapshot(snap_dir: str, base_dir: str | None) -> dict:
    """Read one published snapshot back: per-table row counts and
    content fingerprints, plus the structural invariants (violations
    listed in ``problems``)."""
    con = duckdb.connect()
    problems: list[str] = []
    rows, fingerprints = {}, {}
    for t in SNAPSHOT_TABLES:
        path = _files(os.path.join(snap_dir, t))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        cols = ", ".join(c for c, *_ in con.execute(f"DESCRIBE {t}").fetchall())
        n, fp = con.execute(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {t}").fetchone()
        rows[t], fingerprints[t] = n, str(fp)
    for t in REMAP_PKS:
        m = f"{t}_id_map"
        n, lo, hi, ids, iris = con.execute(
            f"SELECT count(*), min(id), max(id), count(DISTINCT id), count(DISTINCT iri) FROM {m}"
        ).fetchone()
        if n and (lo, hi, ids, iris) != (1, n, n, n):
            problems.append(
                f"{m}: ids not dense 1..{n} with unique iri "
                f"(min={lo} max={hi} ids={ids} iris={iris})"
            )
        if base_dir is not None:
            base_files = _files(os.path.join(base_dir, m))
            con.execute(f"CREATE VIEW base_{m} AS SELECT * FROM '{base_files}'")
            moved, base_max, first_new = con.execute(
                f"""
                SELECT (SELECT count(*) FROM base_{m} b LEFT JOIN {m} o USING (iri)
                        WHERE o.id IS DISTINCT FROM b.id),
                       (SELECT coalesce(max(id), 0) FROM base_{m}),
                       (SELECT min(id) FROM {m} WHERE iri NOT IN (SELECT iri FROM base_{m}))
                """
            ).fetchone()
            if moved:
                problems.append(f"{m}: {moved} carried keys lost or changed their base id")
            if first_new is not None and first_new != base_max + 1:
                problems.append(f"{m}: new keys start at {first_new}, not {base_max + 1}")
    orphans, unenriched = con.execute(
        """
        SELECT count(*) FILTER (WHERE address_pid NOT IN (SELECT address_pid FROM lf_address)),
               count(*) FILTER (WHERE site_id IS NULL)
        FROM lf_geocode_sp_survey_point
        """
    ).fetchone()
    if orphans or unenriched:
        problems.append(f"geocodes: {orphans} without an address, {unenriched} without a site_id")
    id_maps = {
        t: dict(con.execute(f"SELECT iri, id FROM {t}_id_map").fetchall()) for t in REMAP_PKS
    }
    con.close()
    return {"rows": rows, "fingerprints": fingerprints, "id_maps": id_maps, "problems": problems}


def compare(summary: dict, expected: dict) -> list[str]:
    """Problems of one snapshot summary against the expected state."""
    problems = list(summary["problems"])
    for t, n in expected["rows"].items():
        if summary["rows"].get(t) != n:
            problems.append(f"{t}: {summary['rows'].get(t)} rows, expected {n}")
    for t, ids in expected["id_maps"].items():
        if summary["id_maps"].get(t) != ids:
            problems.append(f"{t}_id_map: ids differ from the expected numbering")
    return problems
