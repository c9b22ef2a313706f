"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference ETL (Spatial-Information-QLD/
cam-location-addressing-feature-service-etl), re-expressed Spark-first.

Package map (see SURVEY.md for the operator inventory this implements):

- ``session``    — SparkSession construction / tuning knobs.
- ``tables``     — testdata + snapshot table loading.
- ``functions``  — scalar expression helpers (SURVEY §2.8) and text
  analysis (lang-id, quality, tokens, fingerprints).
- ``operators``  — relational operators (joins §2.3, aggregations §2.4,
  dedup §2.5, upserts/surrogate ids §2.9) plus the LLM-pipeline
  extensions (MinHash/SimHash dedup, ANN similarity, multimodal).
- ``sources``    — the ESRI and SPARQL Python Data Sources, ESRI
  schema adaptation, snapshot resolution.
- ``plans``      — the reference's end-to-end pipeline (§3.1) as a
  DataFrame DAG.
- ``streaming``  — Structured Streaming equivalents (watermarked
  windows, stateful sessionization).

Everything is built on the public PySpark DataFrame API; no RDDs, no
custom Catalyst rules. Python UDFs are avoided except for the
multimodal decode plumbing (Arrow-batched ``mapInPandas``).
"""

__version__ = "0.1.0"

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
