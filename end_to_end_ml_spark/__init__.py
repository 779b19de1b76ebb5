"""end_to_end_ml_spark — a PySpark-native analytics engine with the data-prep,
split, point-in-time-join, feature-engineering, metric, and serving capabilities
of the reference ML pipeline (Adeemy/end-to-end-ml), rebuilt Spark-first.

Layout
------
- ``session``    SparkSession factory (AQE on, UTC, tuned shuffle partitions)
- ``sources``    parquet/CSV/JSON readers+writers, schema registry
- ``operators``  relational operators: prep (clean/cast/dedup), split
                 (stratified/time), pit (as-of join), dedup (exact/MinHash/
                 SimHash), text analysis, similarity search, multimodal
- ``functions``  metric queries as pure relational aggregations (confusion,
                 P/R/F1/F-beta, AUC, ECE, lift/gains, curves, threshold sweep)
- ``plans``      composed end-to-end query plans (TPC-H-style demo queries,
                 the reference's prep→split→score flow)
- ``streaming``  Structured Streaming surface over event tables
- ``materialize`` the materialization policy: the scale decision behind
                 every scale-gated checkpoint and the guarded persist

Everything here is DataFrame/SQL-first: Catalyst owns physical planning; the
only Python-side loops are driver-side orchestration over small metric frames.
"""

__version__ = "0.1.0"
