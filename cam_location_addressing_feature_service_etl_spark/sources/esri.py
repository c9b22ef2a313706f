"""ESRI FeatureServer source: schema adaptation, incremental predicate
construction, feature normalization.

Reference behavior reproduced (file:line into /root/reference):

- S6 layer-schema probe with alternative field names (``address_pid``
  vs ``pid``, ``geocode_type`` vs ``type``, ``iri`` vs
  ``address_iri``) and incremental capability detection via presence
  of ``last_edited_date``      geocode.py:148-187; address_iri_pid_map.py:31-66
- P5 incremental where-clause ``last_edited_date >= DATE '<ts>'``
  falling back to full scan    geocode.py:190-202
- feature normalization: numeric attrs → strings, geometry x/y →
  lon/lat doubles              geocode.py:205-222

The paged fetch itself (S5, geocode.py:398-466) is the
``spark.read.format("esri")`` source in ``sources/esri_datasource.py``;
``normalize_geocode_features`` maps its rows to the geocode extract.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: alternative source field names per canonical column (S6)
FIELD_ALTERNATIVES: dict[str, tuple[str, ...]] = {
    "address_pid": ("address_pid", "pid"),
    "geocode_type": ("geocode_type", "type"),
    "address_iri": ("iri", "address_iri"),
    "objectid": ("objectid",),
    "last_edited_date": ("last_edited_date",),
}


@dataclass(frozen=True)
class LayerSchema:
    """Resolved layer schema: canonical name → actual source field."""

    fields: dict[str, str]

    @property
    def supports_incremental(self) -> bool:
        return "last_edited_date" in self.fields

    def out_fields(self, wanted: Sequence[str]) -> list[str]:
        """Column pruning pushed to the source (ESRI outFields)."""
        return [self.fields[w] for w in wanted if w in self.fields]


def resolve_layer_schema(source_field_names: Sequence[str]) -> LayerSchema:
    """S6: match canonical columns against the layer's actual fields,
    first alternative wins (mirrors geocode.py:148-187)."""
    available = {f.lower() for f in source_field_names}
    resolved: dict[str, str] = {}
    for canonical, alts in FIELD_ALTERNATIVES.items():
        for alt in alts:
            if alt.lower() in available:
                resolved[canonical] = alt
                break
    return LayerSchema(resolved)


def incremental_where(schema: LayerSchema, previous_run_start: str | None) -> str:
    """P5: server-side incremental predicate; '1=1' full scan when the
    layer can't support it or there is no previous run
    (geocode.py:190-202)."""
    if previous_run_start is not None and schema.supports_incremental:
        return f"last_edited_date >= DATE '{previous_run_start}'"
    return "1=1"


def requires_full_refresh(schema: LayerSchema, incremental_requested: bool) -> bool:
    """M5: a layer that lost ``last_edited_date`` forces DELETE+reload
    (geocode.py:469-484) → overwrite-mode write branch."""
    return incremental_requested and not schema.supports_incremental


def normalize_geocode_features(features: DataFrame) -> DataFrame:
    """``spark.read.format("esri")`` rows (objectid, pid, type, x, y) →
    the geocode extract (geocode.py:205-222): numeric attributes
    stringified (F7), type IRI → legacy code (F6), geometry x/y →
    lon/lat; ``site_id`` and ``hash`` are filled in later by the run."""
    return features.select(
        F.col("objectid").cast("string").alias("geocode_id"),
        normalize_geocode_type(F.col("type")).alias("geocode_type"),
        F.col("pid").cast("string").alias("address_pid"),
        F.lit(None).cast("string").alias("site_id"),
        F.col("y").cast("double").alias("centoid_lat"),
        F.col("x").cast("double").alias("centoid_lon"),
        F.lit(None).cast("string").alias("hash"),
    )


def normalize_geocode_type(code_iri: F.Column) -> F.Column:
    """F6: geocode-type IRI → ≤4-char legacy code with initialism
    fallback (geocode.py:123-145). A join with a map of known codes is
    the caller's; this is the fallback expression."""
    slug = F.regexp_replace(code_iri, "^.*geocode-types/", "")
    initials = F.array_join(
        F.transform(F.split(slug, "-"), lambda w: F.substring(w, 1, 1)), ""
    )
    return F.substring(F.upper(initials), 1, 4)
