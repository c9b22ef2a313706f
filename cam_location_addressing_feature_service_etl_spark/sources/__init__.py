"""Connectors and snapshot lifecycle: the ESRI and SPARQL sources as
PySpark 4 Python Data Sources (``spark.read``/``readStream.format(
"esri"|"sparql")``), ESRI schema adaptation and feature normalization,
snapshot lifecycle. Network I/O is isolated behind injected transports
(``mode=fake`` swaps in a synthetic one) so everything is testable
offline (the reference's tests substitute fixtures the same way,
SURVEY §5)."""
