"""meos_rs_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the jw3/meos-rs reference (MEOS / MobilityDB
temporal-and-spatiotemporal algebra), re-expressed Spark-first.

Layers (see SURVEY.md):
  * relational core   — declarative DataFrame/SQL plans, Catalyst-optimized
  * mobility layer    — trajectory/box struct columns + column-expr and
                        pandas_udf functions (the reference's L1/L2 surface)
  * scale operators   — dedup, similarity search, text analysis, multimodal
  * streaming         — Structured Streaming analogs of the incremental
                        trajectory pipeline (reference ais_to_db.rs upsert)

Everything is DataFrame-first: no RDDs, no driver-side collect loops; Python
UDFs only where built-in expressions genuinely cannot express the semantics,
and then always Arrow-vectorized (pandas_udf / applyInPandas / mapInPandas).
"""

__version__ = "0.1.0"

# installs the stat-keyed zipimport re-read on Python 3.10-3.11 (see module)
from meos_rs_spark import _zipimport_compat  # noqa: E402,F401
