"""TableIO seam (SURVEY §7.8): Iceberg when a catalog is configured,
Parquet-directory + our checkpoint manifest otherwise.

The target deployment stores the 10^12-row payload table as Iceberg
(BASELINE.json north_star); this sandbox ships no Iceberg runtime jar, so
the seam keeps every operator working against either backend without
forking the engine. Detection is by Spark conf: any
``spark.sql.catalog.<name>`` whose implementation mentions iceberg.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _sql_literal(v) -> str:
    """Render a Python value as a Spark SQL literal. Strings are
    single-quote-escaped ('' doubling), so values containing quotes can
    neither break the statement nor inject clauses (round-3 ADVICE:
    ``{value!r}`` produced Python repr — invalid for lists, unsafe for
    strings)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    # Spark's lexer honors BOTH backslash escapes and '' doubling inside
    # single-quoted strings, so backslashes must be doubled FIRST —
    # otherwise a value ending in \ eats the closing quote and a crafted
    # \' prefix re-opens the string (live injection)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def _sql_predicate(col: str, op: str, value) -> str:
    """One (col, op, value) filter as a SQL predicate; ``in`` renders a
    parenthesized literal tuple, not a Python list repr."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
        raise ValueError(f"unsafe column identifier: {col!r}")
    if op == "in":
        vals = ", ".join(_sql_literal(x) for x in value)
        return f"{col} IN ({vals})"
    if op not in ("=", "<", "<=", ">", ">="):
        raise ValueError(f"unsupported filter op: {op!r}")
    return f"{col} {op} {_sql_literal(value)}"


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None."""
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v.lower():
            return k.rsplit(".", 1)[-1]
    return None


class TableIO:
    def __init__(self, spark: SparkSession, root: str, namespace: str = "jpksj", storage=None):
        """``storage``: a ``manifest.Storage`` backend for the parquet
        fallback (default LocalStorage; pass ``storage_http.HttpStorage``
        or another fetch-by-key backend for stores with no filesystem
        address)."""
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.catalog = iceberg_catalog(spark)
        self.storage = storage

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, lineage: str = "", partitions: int | None = None):
        """createOrReplace semantics (the reference's OVERWRITE=YES,
        gdal.rs:121). Iceberg: writeTo().createOrReplace(); fallback:
        checkpoint-manifest parquet dir (per-partition lineage + resume)."""
        if self.catalog:
            df.writeTo(self._ident(name)).createOrReplace()
            return {"backend": "iceberg", "table": self._ident(name)}
        from . import manifest as mf

        return mf.write_checkpointed(
            df, self._path(name), lineage=lineage, num_partitions=partitions, storage=self.storage
        )

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the table; ``version`` time-travels to an archived snapshot
        (Iceberg: VERSION AS OF; fallback: manifest-listed files only, so
        orphaned part files from replaced versions can't leak rows)."""
        if self.catalog:
            if version is not None:
                return self.spark.read.option("versionAsOf", version).table(self._ident(name))
            return self.spark.table(self._ident(name))
        from . import manifest as mf

        return mf.read_snapshot(self.spark, self._path(name), version=version, storage=self.storage)

    def scan(self, name: str, filters, version: int | None = None):
        """Stats-pruned scan: (df, report) reading only the part files
        whose manifest column stats admit ``filters`` (Iceberg's
        data-file pruning; see manifest.scan). On an Iceberg catalog the
        runtime does this natively, so scan() is just read()+filter."""
        from pyspark.sql import functions as F

        from . import manifest as mf

        if self.catalog:
            df = self.read(name, version=version)
            for col, op, value in filters:
                df = df.filter(mf._FILTER_OPS[op](F.col(col), value))
            return df, {"backend": "iceberg"}
        return mf.scan(
            self.spark, self._path(name), filters, version=version, storage=self.storage
        )

    def append(self, df: DataFrame, name: str, lineage: str = "", partitions: int | None = None):
        """Append rows as a new snapshot (Iceberg append commit; fallback:
        manifest mode='append' — the stream read_incremental consumes)."""
        if self.catalog:
            df.writeTo(self._ident(name)).append()
            return {"backend": "iceberg", "table": self._ident(name)}
        from . import manifest as mf

        return mf.write_checkpointed(
            df, self._path(name), lineage=lineage, num_partitions=partitions,
            storage=self.storage, mode="append",
        )

    def read_incremental(self, name: str, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows added between two snapshots (append-only ranges only)."""
        from . import manifest as mf

        return mf.read_incremental(
            self.spark, self._path(name), from_version, to_version, storage=self.storage
        )

    def update_where(self, name: str, filters, set_exprs: dict):
        """Row-level UPDATE (CoW with file pruning on the fallback)."""
        from . import manifest as mf

        return mf.update_where(
            self.spark, self._path(name), filters, set_exprs, storage=self.storage
        )

    def delete_where(self, name: str, filters):
        """Row-level DELETE (Iceberg copy-on-write with file-level
        pruning on the parquet fallback — see manifest.delete_where;
        Iceberg catalogs take the engine's native DELETE)."""
        if self.catalog:
            cond = " AND ".join(
                _sql_predicate(c, op, value) for c, op, value in filters
            )
            return self.spark.sql(f"DELETE FROM {self._ident(name)} WHERE {cond}")
        from . import manifest as mf

        return mf.delete_where(
            self.spark, self._path(name), filters, storage=self.storage
        )

    def snapshots(self, name: str) -> list[dict]:
        from . import manifest as mf

        return mf.snapshots(self._path(name), storage=self.storage)

    def vacuum(self, name: str, keep_last: int = 1, grace_seconds: float = 86400.0) -> dict:
        """Expire old snapshots + delete unreferenced part files older
        than ``grace_seconds`` (in-flight writer protection)."""
        from . import manifest as mf

        return mf.vacuum(
            self._path(name), keep_last=keep_last, storage=self.storage,
            grace_seconds=grace_seconds,
        )

    def compact(self, name: str, target_bytes: int = 128 << 20) -> dict:
        """Rewrite small files into ~target_bytes partitions as a new
        snapshot (Iceberg: rewrite_data_files; fallback: manifest-backed
        rewrite — see manifest.compact)."""
        if self.catalog:
            return self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files('{self.namespace}.{name}')"
            ).collect()
        from . import manifest as mf

        return mf.compact(self.spark, self._path(name), target_bytes=target_bytes, storage=self.storage)

    def exists(self, name: str) -> bool:
        """S13 existence probe."""
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        from .manifest import MANIFEST_NAME, LocalStorage

        store = self.storage or LocalStorage()
        return store.exists(self._path(name), MANIFEST_NAME)

    def merge_upsert(self, df: DataFrame, name: str, key: str):
        """S10/S11 upsert: Iceberg MERGE INTO; manifest fallback: the
        file-pruned copy-on-write :func:`manifest.merge_into` when the
        source matches the table schema (untouched files carry over by
        reference), else — schema-evolving sources only — a full
        read-modify-write with last-write-wins on ``key``."""
        if self.catalog:
            df.createOrReplaceTempView("_upsert_src")
            cols = ", ".join(f"{c} = s.{c}" for c in df.columns if c != key)
            self.spark.sql(
                f"MERGE INTO {self._ident(name)} t USING _upsert_src s ON t.{key} = s.{key} "
                f"WHEN MATCHED THEN UPDATE SET {cols} WHEN NOT MATCHED THEN INSERT *"
            )
            return
        if self.exists(name):
            old = self.read(name)
            if sorted(df.columns) == sorted(old.columns):
                from . import manifest as mf

                mf.merge_into(self.spark, self._path(name), df, key, storage=self.storage)
                return
            kept = old.join(df.select(key), on=key, how="left_anti")
            merged = kept.unionByName(df, allowMissingColumns=True)
        else:
            merged = df
        self.write(merged.localCheckpoint(), name, lineage=f"upsert on {key}")
