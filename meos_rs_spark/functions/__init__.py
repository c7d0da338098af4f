"""Column-level function library (SURVEY.md §2.8, §2.10).

Modules:
  * :mod:`determinism` — cross-engine (Spark vs DuckDB oracle) deterministic
    numeric/string rendering conventions.
  * :mod:`trajectory`  — trajectory struct builders + accessors (F5/F6, L2a).
  * :mod:`boxes`       — TBox/STBox algebra as Column expressions (F8-F10).
  * :mod:`serde`       — WKT / MF-JSON / WKB (de)serialization (F1-F4).
  * :mod:`crs`         — WGS84 → UTM transverse-mercator transform.
  * :mod:`simplify`    — trajectory simplification (Douglas-Peucker).
  * :mod:`similarity`  — trajectory distances (DTW, Fréchet, Hausdorff, LCSS,
    ERP) and convex hulls.
  * :mod:`embeddings`  — sequential-fold vector kernels (dot, cosine, LSH).
  * :mod:`quantize`    — map-side centroid assignment, IVF and PQ kernels.
  * :mod:`media`       — stdlib PNG and baseline JPEG codecs.
  * :mod:`staging`     — parquet staging tables and scan fan-out.
"""
