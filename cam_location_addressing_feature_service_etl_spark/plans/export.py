"""CSV export edge per the reference's external contract.

The reference ships ``pls/definitions.json``: 9 CSV files, each with
an ordered field list, declared types (Integer/String/Double), max
sizes, and key flags — the interface consumers of the PLS dataset
load from. This module re-declares that contract (field order + type
casts) and writes spec-conformant CSVs from the engine's output
DataFrames.

Reference: ``pls/definitions.json`` (all 9 ``table`` entries; field
``Order``/``Type``/``Size``/``iskey``); loader expectations in the
reference's export consumers. Column renames between the engine's
internal names (``schemas.PLS_TABLES``) and the export names (e.g.
``place_name_status_code`` → ``pl_name_status_code``) happen here, at
the edge — internal plans keep the DDL names.

Scale notes: CSV is the contract's format, one file per table, so
the writer coalesces each table to one partition before
``df.write.csv``. Width violations are checked BEFORE export via
``TableSpec.violations`` — the export must never truncate silently.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ExportField:
    name: str  # export column name (definitions.json "Field")
    dtype: str  # Integer | String | Double
    size: int
    iskey: bool = False
    source: str | None = None  # internal column name when it differs


@dataclass(frozen=True)
class ExportTable:
    csv_name: str
    dbname: str
    source_table: str  # key into schemas.PLS_TABLES
    fields: tuple[ExportField, ...]


E = ExportField
EXPORT_CONTRACT: dict[str, ExportTable] = {
    t.csv_name: t
    for t in [
        ExportTable(
            "local_auth.csv", "LOCAL_AUTH", "local_auth",
            (E("la_code", "Integer", 10, True), E("la_name", "String", 40)),
        ),
        ExportTable(
            "locality.csv", "LOCALITY", "locality",
            (
                E("locality_code", "String", 20, True),
                E("locality_name", "String", 40),
                E("locality_type", "String", 5),
                E("la_code", "Integer", 4),
                E("state", "String", 3),
                E("status", "String", 1, source="locality_status_code"),
            ),
        ),
        ExportTable(
            # Reference ETL never populates this table (definitions.json
            # declares it for consumers; address_etl has no loader) —
            # exported header-only unless a populated DataFrame is given.
            "lf_locality_alias_with_link.csv", "LOCALITY_ALIAS", "lf_locality_alias",
            (
                E("locality_alias_id", "Integer", 11, True),
                E("locality_alias_name", "String", 100),
                E("locality_code", "String", 10),
                E("status", "String", 10),
                E("loc_type", "String", 10),
            ),
        ),
        ExportTable(
            "lf_road.csv", "ROAD", "lf_road",
            (
                E("road_id", "Integer", 10, True),
                E("road_cat", "String", 20),
                E("road_name", "String", 50),
                E("road_name_suffix", "String", 30),
                E("road_name_type", "String", 20),
                E("locality_code", "String", 10),
                E("road_cat_desc", "String", 1),
            ),
        ),
        ExportTable(
            "lf_parcel.csv", "PARCEL", "lf_parcel",
            (
                E("parcel_id", "Integer", 15, True),
                E("plan_no", "String", 10),
                E("lot_no", "String", 5),
            ),
        ),
        ExportTable(
            "lf_site.csv", "site", "lf_site",
            (
                E("site_id", "Integer", 11, True),
                E("parent_site_id", "Integer", 11),
                E("site_type", "String", 50),
                E("parcel_id", "Integer", 11),
            ),
        ),
        ExportTable(
            "lf_geocode_sp_survey_point.csv", "GEOCODE", "lf_geocode_sp_survey_point",
            (
                E("geocode_id", "Integer", 11, True),
                E("geocode_type", "String", 4),
                E("site_id", "Integer", 11),
                E("centoid_lat", "Double", 12),
                E("centoid_lon", "Double", 12),
            ),
        ),
        ExportTable(
            "lf_place_name.csv", "PLACE_NAME", "lf_place_name",
            (
                E("place_name_id", "Integer", 11, True),
                E("pl_name_status_code", "String", 1, source="place_name_status_code"),
                E("pl_name_type_code", "String", 4, source="place_name_type"),
                E("pl_name", "String", 60, source="place_name"),
                E("site_id", "Integer", 11),
            ),
        ),
        ExportTable(
            "lf_address_with_parcel.csv", "ADDRESS", "lf_address",
            (
                E("parcel_id", "Integer", 11),
                E("addr_id", "Integer", 11, True),
                E("addr_status_code", "String", 1),
                E("unit_type", "String", 50),
                E("unit_no", "String", 5),
                E("unit_suffix", "String", 1),
                E("level_type", "String", 20),
                E("level_no", "String", 20),
                E("level_suffix", "String", 5),
                E("street_no_first", "String", 10),
                E("street_no_first_suffix", "String", 10),
                E("street_no_last", "String", 10),
                E("street_no_last_suffix", "String", 10),
                E("road_id", "Integer", 11),
                E("site_id", "Integer", 11),
                E("location_desc", "String", 50),
                E("address_standard", "String", 2),
            ),
        ),
    ]
}

_CAST = {"Integer": "long", "String": "string", "Double": "double"}


def export_projection(df: DataFrame, contract: ExportTable) -> DataFrame:
    """Project a PLS table onto its export shape: spec field order,
    export names, declared type casts (surrogate-id columns are text
    in the internal schema until the id_map rewrite; the cast here is
    the final Integer contract)."""
    cols = [
        F.col(f.source or f.name).cast(_CAST[f.dtype]).alias(f.name)
        for f in contract.fields
    ]
    return df.select(*cols)


def width_violations(df: DataFrame, contract: ExportTable) -> DataFrame:
    """(rule, violations) counts for export width checks — run before
    writing; a non-zero count means the upstream plan broke contract.

    Enforced for String (character width) and Integer (digit count
    incl. sign) fields. Double Sizes in definitions.json are *display*
    widths — a valid double's string form routinely exceeds them
    (full-precision repr), so truncation there would corrupt data;
    deliberately not enforced.
    """
    checked = [f for f in contract.fields if f.dtype in ("String", "Integer")]
    aggs = [
        F.count(
            F.when(F.length(F.col(f.name).cast("string")) > f.size, 1)
        ).alias(f"{f.name}_width")
        for f in checked
    ]
    wide = df.agg(*aggs)
    names = [f"{f.name}_width" for f in checked]
    stacked = ", ".join(f"'{n}', {n}" for n in names)
    return wide.selectExpr(f"stack({len(names)}, {stacked}) AS (rule, violations)")


def write_export(df: DataFrame, contract: ExportTable, out_dir: str) -> str:
    """Write one contract CSV (header, spec order) as a single file, as
    ``definitions.json`` specifies one CSV per table. Returns the
    output path. Raises if any width check fails — the contract forbids
    silent truncation."""
    projected = export_projection(df, contract)
    # bounded collect: width_violations is a single global agg stacked
    # to one row per declared field (≤17), never per-data-row.
    bad = [
        r
        for r in width_violations(projected, contract).collect()
        if r["violations"] > 0
    ]
    if bad:
        rules = ", ".join(f"{r['rule']}={r['violations']}" for r in bad)
        raise ValueError(f"{contract.csv_name}: width violations: {rules}")
    path = f"{out_dir}/{contract.csv_name}"
    projected.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return path
