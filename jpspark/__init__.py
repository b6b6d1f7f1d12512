"""jpspark — a from-scratch PySpark-native geospatial + training-data engine.

Re-expresses the query and data-processing capabilities of
KotobaMedia/jpksj-to-sql (a Rust ETL pipeline that loads Japanese national
land numerical information into PostGIS; see /root/reference) as distributed
Spark DataFrame operators:

- ``jpspark.geom``   — WKB codec, hierarchical cell index (H3/S2 analog),
                       ray-casting point-in-polygon (slab-indexed edges).
- ``jpspark.codec``  — image codecs (raw / PPM / zlib-PNG / quantizing lossy)
                       and 64-bit DCT pHash, all NumPy-vectorized.
- ``jpspark.ops``    — spatial join, kNN with ring expansion, raster-tile ↔
                       vector-cell assignment, dissolve, field mapping /
                       union / encoding normalization (the reference's load
                       semantics), dedup / similarity / text-quality ops.
- ``jpspark.manifest`` — per-partition checkpoint manifest with lineage +
                       row-count metrics; idempotent resume.
- ``jpspark.catalog`` — datasets metadata catalog (the reference's
                       ``datasets`` table + sidecar JSON).
- ``jpspark.fixtures`` — deterministic synthetic inputs (FIXTURES.md).

Everything is pure PySpark + NumPy/pandas/pyarrow; deployable with
``spark-submit --py-files``.
"""

__version__ = "0.1.0"
