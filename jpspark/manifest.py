"""Per-partition checkpoint manifest: lineage + row-count metrics +
idempotent resume (north_rule; SURVEY P10/S2/S13).

The reference's crash-safety idiom is *commit-marker-after-data*: the
``.meta.json`` sidecar is written only after the download completes
(/root/reference/src/downloader.rs:104), and ``--skip-if-exists`` probes
the target before re-running (/root/reference/src/loader/load_queue.rs:64-106,
gdal.rs:253-265). This module generalizes that to Spark partitions:

  * each task writes its partition to its own parquet object
    ``part-{pid:05d}-{fingerprint:016x}.parquet`` (executor-side pyarrow
    write — the distributed COPY path),
  * the task emits a manifest row (partition_id, input fingerprint,
    row_count, bytes, output key, lineage) only after the object is fully
    written,
  * the driver persists ``_manifest.json`` only after ALL tasks succeed —
    a crash anywhere leaves either no manifest entry or a complete one,
    never a "valid" partial,
  * a re-run with the same target dir consults the manifest: partitions
    whose fingerprint is already committed are SKIPPED inside the task
    (zero I/O), giving idempotent per-partition resume.

Fingerprints are content-based (order-insensitive xxhash-style fold over
row hashes), so resume is correct even if Spark re-plans partitioning of
an unchanged input — a changed fingerprint simply re-writes that partition.

Storage backend: ALL I/O — part files, manifest JSON, listing, deletion —
goes through the ``Storage`` seam below, whose contract is an OBJECT STORE,
not a POSIX filesystem: flat ``(root, key)`` namespace, atomic whole-object
PUT, list-by-prefix, no rename/mkdir/partial-write anywhere in the
protocol. Two backends implement it, one per distinct contract: the
default ``LocalStorage`` maps keys onto a filesystem shared between
driver and executors (local mode, NFS, a FUSE-mounted bucket), so Spark
reads part files by URI; ``storage_http.HttpStorage`` has no filesystem
address (the S3/GCS shape), so executors fetch part objects by key
(see ``_read_parts``). Storage objects ship to executors, so they must
be picklable.

Manifests store part-file KEYS relative to the table root (never absolute
paths), so a table directory can be renamed/moved — or addressed with a
differently-spelled root (relative vs absolute) — and every read, compact,
and vacuum still resolves the same objects. Absolute paths written by
pre-seam manifests are normalized to their key on read.

Snapshots (the Iceberg-shaped behaviors the north_star's 10^12-row table
relies on, without the Iceberg runtime): part files are content-addressed
(``part-{pid}-{fingerprint}.parquet``), every commit archives its manifest
as ``_manifests/manifest-{version}.json``, readers resolve EXACTLY the
files their manifest lists (never a glob — concurrent/failed writers
can't leak phantom rows), ``read_snapshot(version=...)`` time-travels,
and ``vacuum`` deletes files unreferenced by the kept snapshots AND the
live manifest pointer (so the crash window between archive-write and
pointer-replace can never expire the snapshot the pointer references).

File-skipping scans: every committed part file carries per-column
(min, max, null_count) stats in its manifest row — Iceberg's data-file
stats — and ``scan(spark, out_dir, filters)`` prunes files whose bounds
prove no row can match, before Spark opens anything. On a clustered
column this turns a 10^12-row point/range query into a metadata decision
plus O(matching files) of I/O.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame

MANIFEST_NAME = "_manifest.json"
MANIFESTS_DIR = "_manifests"


class Storage:
    """The Storage seam: the object-store contract every part file,
    manifest commit, resume, vacuum and DML goes through — flat
    ``(root, key)`` namespace, atomic whole-object PUT, exclusive create,
    list-by-prefix, no rename/mkdir/partial write.

    A backend implements only the byte primitives: ``put_bytes``,
    ``put_text_new`` (exclusive create; False if the key exists),
    ``get_bytes`` (None if missing), ``exists``, ``size``, ``mtime``,
    ``list``, ``delete`` and ``uri``. The text and Parquet-table
    conversions are derived here, once. Backends ship to executors, so
    they must be picklable."""

    def put_text(self, root: str, key: str, text: str) -> None:
        self.put_bytes(root, key, text.encode())

    def put_table(self, root: str, key: str, table: "pa.Table") -> None:
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        self.put_bytes(root, key, sink.getvalue())

    def get_text(self, root: str, key: str) -> str | None:
        data = self.get_bytes(root, key)
        return None if data is None else data.decode()

    def get_table(self, root: str, key: str) -> "pa.Table":
        data = self.get_bytes(root, key)
        if data is None:
            raise FileNotFoundError(f"{root}: no object {key}")
        return pq.read_table(pa.BufferReader(data))


class LocalStorage(Storage):
    """Default backend, the filesystem-addressable contract: keys map to
    paths under the table root on a filesystem shared by driver and
    executors (local mode, NFS, a FUSE-mounted bucket), and ``uri()``
    hands Spark's parquet reader that path."""

    def _p(self, root: str, key: str) -> str:
        return os.path.join(root, key)

    def put_bytes(self, root: str, key: str, data) -> None:
        path = self._p(root, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic: data complete before visible

    def put_text_new(self, root: str, key: str, text: str) -> bool:
        """Exclusive create (the object-store conditional PUT /
        If-None-Match): False if the key already exists. The primitive
        optimistic concurrency builds on."""
        path = self._p(root, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            with open(path, "xb") as f:
                f.write(text.encode())
            return True
        except FileExistsError:
            return False

    def get_bytes(self, root: str, key: str) -> bytes | None:
        try:
            with open(self._p(root, key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def exists(self, root: str, key: str) -> bool:
        return os.path.exists(self._p(root, key))

    def size(self, root: str, key: str) -> int:
        return os.path.getsize(self._p(root, key))

    def list(self, root: str, prefix: str) -> list[str]:
        """All keys under ``root`` starting with ``prefix`` (which may
        contain '/'), sorted."""
        base, _, name_prefix = prefix.rpartition("/")
        d = os.path.join(root, base) if base else root
        if not os.path.isdir(d):
            return []
        out = [
            (f"{base}/{f}" if base else f)
            for f in os.listdir(d)
            if f.startswith(name_prefix) and os.path.isfile(os.path.join(d, f))
        ]
        return sorted(out)

    def delete(self, root: str, key: str) -> None:
        os.remove(self._p(root, key))

    def mtime(self, root: str, key: str) -> float:
        """Last-modified time (epoch seconds) — object-store PUT time.
        vacuum's orphan grace window is measured against this."""
        return os.path.getmtime(self._p(root, key))

    def uri(self, root: str, key: str) -> str:
        """Location Spark's parquet reader resolves for this object."""
        return self._p(root, key)


def _arrow_schema_of(df: "DataFrame") -> "pa.Schema":
    """The Arrow schema Spark's OWN type mapping declares for a frame —
    not pandas inference, which turns null-filled int columns into
    float64 (⇒ DOUBLE parquet that later clashes with INT files from
    sibling partitions) and empty binary columns into the null type.

    Every field is declared NULLABLE regardless of the Spark schema:
    the pandas boundary cannot distinguish float NaN from null (both are
    NaN in a numpy-backed column), and Arrow canonicalizes that NaN to
    parquet NULL — a declared non-null double field would make
    ``Table.from_pandas`` raise on any NaN row. NaN ⇒ NULL is this
    table format's write contract (see _col_stats), and Spark reads
    parquet as nullable anyway."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(df.schema)
    return pa.schema([f.with_nullable(True) for f in sch])


def _spark_readable(table: "pa.Table") -> "pa.Table":
    """Cast nanosecond timestamps to microseconds before writing: pandas
    hands the sink datetime64[ns], but parquet TIMESTAMP(NANOS) is
    unreadable by Spark's vectorized reader (PARQUET_TYPE_ILLEGAL) — and
    Spark timestamps are µs anyway, so nothing is lost."""
    fields = []
    changed = False
    for f in table.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(f.with_type(pa.timestamp("us", tz=f.type.tz)))
            changed = True
        else:
            fields.append(f)
    return table.cast(pa.schema(fields)) if changed else table


def _fingerprint_pdf(pdf: pd.DataFrame) -> int:
    """Order-insensitive content fingerprint of a partition (uint64 as int).

    Per-row hash via pandas.util.hash_pandas_object (stable across runs),
    combined by addition (commutative) + count mixing.
    """
    if not len(pdf):
        return 0
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy().astype(np.uint64)
    total = np.uint64(0)
    for v in h:  # int64 overflow-safe fold
        total = np.uint64((int(total) + int(v)) & 0xFFFFFFFFFFFFFFFF)
    mix = (int(total) ^ (len(pdf) << 1)) & 0x7FFFFFFFFFFFFFFF
    return int(mix)


_STR_BOUND = 64  # Iceberg-style truncated string bounds


def _col_stats(pdf: pd.DataFrame, bloom_cols=None, bloom_fpp: float = 0.01) -> dict:
    """Per-column (min, max, null_count) for prune-able dtypes — the
    Iceberg data-file stats that let a 10^12-row scan skip files from
    metadata alone. JSON-safe values only.

    Types: "n" numeric/bool, "s" string, "ts" datetime (ns int bounds).
    String bounds longer than _STR_BOUND chars keep a truncated LOWER
    bound (a prefix is always <= the full string) but drop the UPPER
    bound (a prefix is < the full string, so it would be an invalid max)
    — matching Iceberg's truncate(16) semantics without the increment
    trick. Columns of other dtypes (binary, arrays) carry null counts
    only.

    Float NaN (round-3 ADVICE): pandas counts NaN as null here, which
    would be unsound if NaN values reached the part files — Spark orders
    NaN above every double, so ``x > 5`` matches NaN rows while these
    stats would prune the file. They never do: the part-file sink
    (``_part_sink``) converts through ``pa.Table.from_pandas``, which
    canonicalizes float NaN to parquet NULL (verified by
    test_scan_nan_rows_not_pruned), so a NaN produced anywhere upstream
    is stored as NULL, reads back as NULL, fails every predicate — exactly what counting it in ``nulls``
    assumes. An Iceberg-style separate ``nan_count`` would only be
    needed for a writer that bypasses the pandas/Arrow boundary."""
    out: dict = {}
    for c in pdf.columns:
        s = pdf[c]
        nulls = int(s.isna().sum())
        ent: dict = {"nulls": nulls}
        nn = s.dropna()
        if bloom_cols and c in bloom_cols and len(nn):
            bloom = _bloom_build(nn.unique(), bloom_fpp)
            if bloom is not None:
                ent["bloom"] = bloom
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            ent["t"] = "n"
            if len(nn):
                lo, hi = nn.min(), nn.max()
                ent["lo"], ent["hi"] = (
                    (int(lo), int(hi))
                    if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s)
                    else (float(lo), float(hi))
                )
        elif pd.api.types.is_datetime64_any_dtype(s):
            ent["t"] = "ts"
            if len(nn):
                ent["lo"] = int(pd.Timestamp(nn.min()).value)
                ent["hi"] = int(pd.Timestamp(nn.max()).value)
        elif pd.api.types.is_object_dtype(s) or isinstance(s.dtype, pd.StringDtype):
            vals = [v for v in nn if isinstance(v, str)]
            if len(vals) != len(nn):
                out[str(c)] = ent  # mixed/binary object column: nulls only
                continue
            ent["t"] = "s"
            if vals:
                lo, hi = min(vals), max(vals)
                ent["lo"] = lo[:_STR_BOUND]
                ent["hi"] = hi if len(hi) <= _STR_BOUND else None
        out[str(c)] = ent
    return out


def _coerce(value, t):
    if t == "ts":
        return int(pd.Timestamp(value).value)
    return value


# ------------------------------------------------------------ bloom filters
#
# Iceberg-parity point-lookup pruning (Puffin's blob idea, inlined): min/max
# stats cannot prune an equality probe on a NON-clustered high-cardinality
# column — every file's [lo, hi] spans most of the domain, so a point
# lookup on e.g. image_id still opens every file. A per-file Bloom filter
# over the column's distinct values makes that probe a metadata decision:
# "definitely absent" prunes the file, "maybe" reads it — never unsound.
# Deterministic by construction (blake2b double hashing, no seeds), so
# retries/speculative rewrites of identical content produce identical bits.

_BLOOM_MAX_DISTINCT = 200_000  # ~350 KB at 1% fpp; larger files skip bloom


def _bloom_key(v) -> bytes | None:
    """Canonical hash bytes per value; None = type not bloom-able.
    Floats are excluded deliberately (equality probes on floats are
    pathological); datetimes hash their ns integer."""
    if isinstance(v, (bool, np.bool_)):
        return b"i" + (b"1" if v else b"0")
    if isinstance(v, (int, np.integer)):
        return b"i" + str(int(v)).encode()
    if isinstance(v, str):
        return b"s" + v.encode()
    if isinstance(v, (bytes, bytearray)):
        return b"b" + bytes(v)
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return b"i" + str(int(pd.Timestamp(v).value)).encode()
    return None


def _bloom_hashes(key: bytes) -> tuple[int, int]:
    import hashlib

    d = hashlib.blake2b(key, digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_build(values, fpp: float = 0.01) -> dict | None:
    """Bloom filter dict {"m", "k", "b"(base64 bits)} over an iterable of
    distinct non-null values; None if empty, oversized, or un-bloom-able."""
    import base64
    import math

    keys = []
    for v in values:
        kb = _bloom_key(v)
        if kb is None:
            return None
        keys.append(kb)
    n = len(keys)
    if not n or n > _BLOOM_MAX_DISTINCT:
        return None
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) & ~7  # whole bytes
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray(m // 8)
    for kb in keys:
        h1, h2 = _bloom_hashes(kb)
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": k, "b": base64.b64encode(bytes(bits)).decode()}


def _bloom_probe_compatible(t: str | None, v) -> bool:
    """A bloom may only prune when the probe's canonical key category
    matches the column's stats type — an int probe against a string
    column hashes to a different key prefix ('i5' vs 's5'), so the bloom
    would report "absent" while Spark's residual filter could still
    match via implicit cast (round-5 review finding). Mirrors the
    TypeError-continue conservatism of the range path."""
    kb = _bloom_key(v)
    if kb is None:
        return False
    if t == "s":
        return kb[:1] == b"s"
    if t in ("n", "ts"):
        return kb[:1] == b"i"
    return False


def _bloom_may_contain(bloom: dict, value, bits: bytes | None = None) -> bool:
    """False ONLY when the filter proves the value absent. ``bits`` is
    the decoded bitmap (callers hoist the decode/fetch out of per-value
    loops); falls back to the inline base64 payload for legacy stats."""
    kb = _bloom_key(value)
    if kb is None:
        return True  # un-hashable probe type: never prune
    if bits is None:
        bits = _bloom_bits(bloom, None, None)
        if bits is None:
            return True
    m, k = int(bloom["m"]), int(bloom["k"])
    h1, h2 = _bloom_hashes(kb)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


# decoded-bitmap cache keyed by sidecar ref / inline payload — NEVER
# stored on the stats dicts themselves: DML carries prior-manifest metas
# into the next commit's json.dumps, and a bytes memo there would break
# serialization. Bounded: cleared wholesale past _BLOOM_CACHE_MAX.
_BLOOM_BITS_CACHE: dict[str, bytes] = {}
_BLOOM_CACHE_MAX = 4096


def _bloom_bits(bloom: dict, store, out_dir: str | None) -> bytes | None:
    """Decoded bitmap for a stats bloom entry, memoized in a module
    cache. Sidecar form ({"ref": key}) fetches the blob through the
    Storage seam; legacy inline form ({"b": base64}) decodes. None when
    the blob is unavailable (missing object => never prune)."""
    # m/k in the key: identical content-addressed refs built at a
    # different fpp must not alias each other's bitmaps. out_dir too:
    # sidecar refs are table-root-relative (part-….bloom.col), so two
    # tables whose part keys collide (basename-reduced legacy manifests,
    # or a pid + fingerprint collision) must not alias process-wide.
    base = bloom.get("ref") or ("inline:" + bloom["b"] if "b" in bloom else None)
    if base is None:
        return None
    ck = f"{out_dir}:{base}:{bloom.get('m')}:{bloom.get('k')}"
    cached = _BLOOM_BITS_CACHE.get(ck)
    if cached is not None:
        return cached
    import base64

    bits: bytes | None = None
    if "b" in bloom:
        bits = base64.b64decode(bloom["b"])
    elif store is not None:
        bits = store.get_bytes(out_dir, bloom["ref"])
    if bits is not None:
        if len(_BLOOM_BITS_CACHE) >= _BLOOM_CACHE_MAX:
            _BLOOM_BITS_CACHE.clear()
        _BLOOM_BITS_CACHE[ck] = bits
    return bits


def _col_stats_sidecar_blooms(
    stats: dict, store, out_dir: str, part_key: str
) -> dict:
    """Move inline bloom bitmaps out of the stats dict into sidecar
    objects next to the part file (``<part>.bloom.<col>``) — the Puffin
    idea: the manifest stays O(bounds), multi-KB bitmaps are fetched
    lazily and only for files that survive the range check. Runs inside
    the sink task, so the blob rides the same Storage seam as the data.
    Vacuum sweeps a bloom blob when its part file goes."""
    import base64

    for c, ent in stats.items():
        bloom = ent.get("bloom")
        if bloom and "b" in bloom:
            ref = f"{part_key}.bloom.{c}"
            store.put_bytes(out_dir, ref, base64.b64decode(bloom.pop("b")))
            bloom["ref"] = ref
    return stats


def _file_may_match(stats: dict, row_count: int, filters, bloom_ctx=None) -> bool:
    """Conservative metadata test: False ONLY when the file's stats prove
    no row can satisfy ALL of ``filters`` (conjunction). Unknown columns,
    missing bounds, or unsupported ops never prune. ``bloom_ctx`` is a
    (store, out_dir) pair enabling sidecar bloom lookups for =/IN probes;
    without it only inline (legacy) blooms participate."""
    _store, _odir = bloom_ctx if bloom_ctx else (None, None)
    for col, op, value in filters:
        ent = stats.get(col)
        if ent is None:
            continue
        if row_count and ent.get("nulls") == row_count:
            return False  # all-null column: no predicate matches null
        t = ent.get("t")
        lo, hi = ent.get("lo"), ent.get("hi")
        if t is None:
            continue
        try:
            bloom = ent.get("bloom")
            if op == "in":
                vs = [_coerce(v, t) for v in value]
                if lo is not None and hi is not None and all(v < lo or v > hi for v in vs):
                    return False
                if bloom is not None and all(_bloom_probe_compatible(t, v) for v in vs):
                    bits = _bloom_bits(bloom, _store, _odir)
                    if bits is not None and all(
                        not _bloom_may_contain(bloom, v, bits) for v in vs
                    ):
                        return False
                continue
            v = _coerce(value, t)
            if op == "=" and (
                (lo is not None and v < lo) or (hi is not None and v > hi)
            ):
                return False
            if op == "=" and bloom is not None and _bloom_probe_compatible(t, v):
                bits = _bloom_bits(bloom, _store, _odir)
                if bits is not None and not _bloom_may_contain(bloom, v, bits):
                    return False
            if op in ("<", "<=") and lo is not None and (
                lo > v or (op == "<" and lo >= v)
            ):
                return False
            if op in (">", ">=") and hi is not None and (
                hi < v or (op == ">" and hi <= v)
            ):
                return False
        except TypeError:
            continue  # incomparable literal: don't prune
    return True


_FILTER_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "in": lambda c, v: c.isin(list(v)),
}


def _conjunction(filters):
    """The Spark predicate a ``(col, op, value)`` filter list means: the
    AND of its terms, literals compared as given."""
    from pyspark.sql import functions as F

    pred = None
    for col, op, value in filters:
        c = _FILTER_OPS[op](F.col(col), value)
        pred = c if pred is None else (pred & c)
    return pred


def _meta_may_match(meta: dict, filters, store, out_dir: str) -> bool:
    """:func:`_file_may_match` on a manifest entry, sidecar blooms on."""
    return _file_may_match(
        meta.get("stats") or {}, int(meta["row_count"]), filters,
        bloom_ctx=(store, out_dir),
    )


def scan(
    spark,
    out_dir: str,
    filters,
    version: int | None = None,
    storage=None,
) -> tuple["DataFrame", dict]:
    """Stats-pruned snapshot scan: read ONLY the part files whose manifest
    column stats admit rows matching ``filters`` (a conjunction of
    ``(col, op, value)`` with op in =, <, <=, >, >=, in), then apply the
    same filters as Spark predicates on the surviving files (stats prune
    is file-granular; the row-granular residual still runs, and parquet
    row-group pushdown applies within each file).

    At 10^12 rows this is the difference between a metadata operation and
    a full scan: a filter on a clustered column touches O(matching files)
    of the table, and the decision uses only the manifest — no footer
    reads, no file opens. Returns (df, report) where report counts
    files/rows/bytes read vs skipped."""
    store = storage or LocalStorage()
    m = _load_version(store, out_dir, version)
    parts = m.get("partitions", {})
    if not parts:
        raise ValueError(f"snapshot has no committed partitions: {out_dir}")
    keep, report = [], {
        "files_total": len(parts), "files_read": 0,
        "rows_skipped": 0, "bytes_skipped": 0,
    }
    for meta in parts.values():
        if _meta_may_match(meta, filters, store, out_dir):
            keep.append(_part_key(meta["path"]))
        else:
            report["rows_skipped"] += int(meta["row_count"])
            report["bytes_skipped"] += int(meta["bytes"])
    report["files_read"] = len(keep)
    if not keep:
        df = read_snapshot(spark, out_dir, version=version, storage=store).limit(0)
    else:
        df = _read_parts(spark, out_dir, keep, store, m, filters=filters)
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for col, op, value in filters:
        # a column absent from the data (e.g. a clustering key this table
        # was never written with) can't be filtered row-wise; stats
        # pruning above already treated it as unknown (no prune)
        if col in df.columns:
            # coerce the literal(s) to the COLUMN's type via try_cast: a
            # mistyped probe (int vs string column) then matches nothing
            # instead of blowing up in ANSI-mode cast at runtime — and
            # identically on the URI fast path and the object-read path
            dt = dtypes[col]
            if op == "in":
                lit = [F.lit(v).try_cast(dt) for v in value]
                df = df.filter(F.col(col).isin(lit))
            else:
                df = df.filter(_FILTER_OPS[op](F.col(col), F.lit(value).try_cast(dt)))
    return df, report


def _part_key(stored_path: str) -> str:
    """Manifest 'path' → storage key. New manifests store relative keys;
    pre-seam manifests stored absolute paths whose part files always sat
    directly under the table root, so the basename IS the key."""
    return os.path.basename(stored_path) if os.path.isabs(stored_path) else stored_path


def _snapshot_spark_schema(spark, store, out_dir: str, m: dict, keys):
    """The Spark schema a snapshot's rows carry: the manifest's declared
    schema (Spark's JSON schema, ``df.schema.json()``, at commit time —
    DML commits carry it forward), falling back to the first part file's
    parquet footer for pre-schema manifests (one driver-side GET).
    Manifests committed before the JSON form stored
    ``df.schema.simpleString()``, which still parses here as long as its
    column names do (DDL parsing rejects unquoted non-ASCII names)."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    s = m.get("schema")
    if s:
        if s.startswith("{"):
            return StructType.fromJson(json.loads(s))
        return _parse_datatype_string(s)
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(store.get_table(out_dir, keys[0]).schema)


_PA_FILTER_OPS = {"=": "==", "<": "<", "<=": "<=", ">": ">", ">=": ">=", "in": "in"}


def _read_parts(spark, out_dir: str, keys, store, m: dict, filters=None):
    """DataFrame over a manifest's part-file keys.

    Filesystem-addressable stores hand Spark native parquet URIs — the
    fast path, with parquet row-group pushdown, vectorized decode, and
    data-locality scheduling all owned by Spark. Object stores with no
    filesystem address (``uri()`` raises NotImplementedError: the HTTP/S3
    shape) read the DATA PLANE through the Storage seam
    instead: the driver ships only the key list; each executor task
    fetches its part objects with ``get_bytes`` and decodes them
    from the buffer with pyarrow inside ``mapInArrow`` — no local
    filesystem, no driver round-trip, one task per file (the reference
    analog is its streamed HTTP download path,
    /root/reference/src/downloader.rs:33-107, which also never lands
    source bytes on the driver). Manifest-level stats/Bloom pruning has
    already happened in the caller; ``filters`` (the scan's conjunction)
    is additionally pushed into the pyarrow reader for row-group-level
    pruning inside each fetched object — best-effort, the caller's
    residual Spark predicate still runs."""
    try:
        uris = [store.uri(out_dir, k) for k in keys]
    except NotImplementedError:
        uris = None
    if uris is not None:
        return spark.read.parquet(*uris)

    schema = _snapshot_spark_schema(spark, store, out_dir, m, keys)
    from pyspark.sql.pandas.types import to_arrow_schema

    target = pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])
    pa_filters = None
    if filters:
        try:
            pa_filters = [
                (c, _PA_FILTER_OPS[op], list(v) if op == "in" else v)
                for c, op, v in filters
            ]
        except (KeyError, TypeError):
            pa_filters = None  # unknown op: skip reader-level pushdown

    def fetch(batches):
        import io as _io

        for kb in batches:
            for key in kb.column(0).to_pylist():
                buf = store.get_bytes(out_dir, key)
                if buf is None:
                    raise FileNotFoundError(f"{out_dir}: missing part object {key}")
                try:
                    tbl = pq.read_table(_io.BytesIO(buf), filters=pa_filters)
                except (
                    pa.ArrowInvalid,
                    pa.ArrowNotImplementedError,  # e.g. string col vs int probe
                    pa.ArrowTypeError,
                    OSError,
                    ValueError,
                ):
                    if pa_filters is None:
                        raise
                    # filter pushdown is opportunistic (e.g. a probe type the
                    # reader can't compare): fall back to a plain decode; the
                    # caller's Spark-side residual keeps semantics exact
                    tbl = pq.read_table(_io.BytesIO(buf))
                # align to the snapshot schema: evolution-carried files may
                # lack newer columns (null-fill) or need a widening cast
                cols = []
                for f in target:
                    if f.name in tbl.schema.names:
                        c = tbl.column(f.name)
                        cols.append(c.cast(f.type) if c.type != f.type else c)
                    else:
                        cols.append(pa.nulls(tbl.num_rows, f.type))
                for rb in pa.table(cols, schema=target).to_batches(8192):
                    yield rb

    n_tasks = min(len(keys), max(spark.sparkContext.defaultParallelism * 4, 1))
    keys_df = spark.createDataFrame(
        [(k,) for k in keys], "__part_key string"
    ).repartition(n_tasks)
    return keys_df.mapInArrow(fetch, schema)


_ROOT_MANIFEST_RE = None  # compiled lazily (re import kept local)


def _is_root_manifest(key: str) -> bool:
    global _ROOT_MANIFEST_RE
    if _ROOT_MANIFEST_RE is None:
        import re

        _ROOT_MANIFEST_RE = re.compile(r"manifest-\d{6}\.json$")
    return bool(_ROOT_MANIFEST_RE.search(key))


def _resolve_partitions(m: dict, out_dir: str, store) -> dict:
    """Materialize a (possibly sharded) manifest's partition map. Large
    commits store partitions across ``manifest-{v}-shard-{i}.json`` files
    (Iceberg's manifest-of-manifests shape — DESIGN.md §7/§10: one JSON
    stops scaling around 10^5–10^6 files); the root then carries only the
    shard key list. Small commits keep partitions inline."""
    shards = m.get("partition_shards")
    if not shards:
        return m
    parts: dict = {}
    for sk in shards:
        parts.update(json.loads(store.get_text(out_dir, sk))["partitions"])
    out = dict(m)
    out["partitions"] = parts
    return out


def load_manifest(out_dir: str, storage=None) -> dict:
    store = storage or LocalStorage()
    text = store.get_text(out_dir, MANIFEST_NAME)
    if text is not None:
        return _resolve_partitions(json.loads(text), out_dir, store)
    return {"partitions": {}, "committed_at": None, "schema": None}


def _root_key(version: int) -> str:
    return f"{MANIFESTS_DIR}/manifest-{version:06d}.json"


def _load_version(store, out_dir: str, version: int | None) -> dict:
    """The live snapshot (``version=None``) or an archived one (time travel)."""
    if version is None:
        return load_manifest(out_dir, store)
    text = store.get_text(out_dir, _root_key(version))
    if text is None:
        raise FileNotFoundError(f"no snapshot version {version} under {out_dir}")
    return _resolve_partitions(json.loads(text), out_dir, store)


def _latest_committed_version(store, out_dir: str) -> int:
    """Highest version with a committed root manifest archive. A root's
    existence IS commit (exclusive create, below); in-flight writers have
    no root yet and don't count. Falls back to the live pointer for
    pre-archive tables."""
    import re

    names = [
        k for k in store.list(out_dir, f"{MANIFESTS_DIR}/manifest-") if _is_root_manifest(k)
    ]
    if names:
        return max(int(re.search(r"manifest-(\d{6})\.json$", k).group(1)) for k in names)
    text = store.get_text(out_dir, MANIFEST_NAME)
    if text is None:
        return 0
    return int(json.loads(text).get("version", 0) or 0)


def _load_committed(store, out_dir: str) -> dict:
    """The latest COMMITTED snapshot, resolved from the root archive —
    not the live pointer, which can briefly lag a concurrent publisher.
    This is the base every committer must derive from (Iceberg's
    'refresh before commit')."""
    v = _latest_committed_version(store, out_dir)
    text = store.get_text(out_dir, _root_key(v)) if v else None
    if text is None:
        return load_manifest(out_dir, store)
    return _resolve_partitions(json.loads(text), out_dir, store)


def _publish_pointer(store, out_dir: str, version: int, body: str) -> None:
    """Monotonic live-pointer publish. The pointer is a plain PUT
    (last-writer-wins on object stores), so a slower committer of an
    OLDER version could clobber a newer pointer and silently roll the
    live table back (round-3 ADVICE lost-update family). Publish only
    while ours is the newest committed root, and re-check afterwards:
    a rival's root is always written BEFORE its pointer, so the
    post-write check is guaranteed to see any root whose pointer write
    ours could have overwritten; republishing that newer root converges."""
    cur_v, cur_body = version, body
    for _ in range(64):  # each lap strictly advances cur_v
        h = _latest_committed_version(store, out_dir)
        if h > cur_v:
            t = store.get_text(out_dir, _root_key(h))
            if t is not None:
                cur_v, cur_body = h, t
                continue
        store.put_text(out_dir, MANIFEST_NAME, cur_body)
        h2 = _latest_committed_version(store, out_dir)
        if h2 <= cur_v:
            return
        t = store.get_text(out_dir, _root_key(h2))
        if t is None:
            return
        cur_v, cur_body = h2, t
    # 64 laps of strictly-advancing contention exhausted (64 rival commits
    # landed during one publish — pathological). The fallback must keep
    # the loop's invariant — every put is FOLLOWED by a newest-root
    # re-check, else our put could roll back a rival who already finished
    # its own post-check (round-5 review finding). Re-fetch the freshest
    # root, put it, re-check; a small budget of further laps, then warn
    # loudly rather than fall off silently.
    for _ in range(8):
        h = _latest_committed_version(store, out_dir)
        if h > cur_v:
            t = store.get_text(out_dir, _root_key(h))
            if t is not None:
                cur_v, cur_body = h, t
        store.put_text(out_dir, MANIFEST_NAME, cur_body)
        h2 = _latest_committed_version(store, out_dir)
        if h2 <= cur_v:
            return
    import warnings

    warnings.warn(
        f"_publish_pointer: live pointer may lag newest root under {out_dir} "
        f"(published v{cur_v}, newest observed v{h2}); next commit will converge",
        RuntimeWarning,
        stacklevel=2,
    )


def _try_commit(store, out_dir: str, manifest: dict, shard_size: int | None = None) -> bool:
    """Iceberg-style atomic commit. The exclusive create of the root
    manifest archive IS the commit point: it fails exactly when a rival
    committed the same successor version, which is how a stale snapshot
    base is DETECTED (round-3 ADVICE: a bare version-number claim
    serialized numbers but not the base, silently dropping interleaved
    commits). Callers reload the base and retry on False.

    Order inside a winning commit: partition shards first (under
    content-addressed keys, so two racers for the same version can never
    overwrite each other's shards), then the root referencing them, then
    the monotonic live-pointer publish — a crash at any point leaves a
    readable previous state and no root referencing missing shards."""
    import hashlib

    version = int(manifest["version"])
    to_write = manifest
    parts = manifest["partitions"]
    if shard_size is not None and len(parts) > shard_size:
        pids = sorted(parts, key=int)
        shard_keys = []
        for i in range(0, len(pids), shard_size):
            chunk = {p: parts[p] for p in pids[i : i + shard_size]}
            body = json.dumps({"partitions": chunk})
            tok = hashlib.blake2b(body.encode(), digest_size=6).hexdigest()
            sk = (
                f"{MANIFESTS_DIR}/manifest-{version:06d}"
                f"-shard-{i // shard_size:04d}-{tok}.json"
            )
            store.put_text(out_dir, sk, body)
            shard_keys.append(sk)
        to_write = dict(manifest)
        to_write["partitions"] = {}
        to_write["partition_shards"] = shard_keys
    body = json.dumps(to_write, ensure_ascii=False, indent=1)
    if not store.put_text_new(out_dir, _root_key(version), body):
        return False
    _publish_pointer(store, out_dir, version, body)
    return True


def _part_sink(
    df: DataFrame, store, out_dir: str, arrow_schema, base_pid: int,
    bloom_cols, bloom_fpp: float, committed=None,
) -> dict:
    """Write each partition of ``df`` as one part object and return the
    manifest entries, keyed by partition id (task partition + ``base_pid``).
    The one sink every writer uses — load, append, compaction and the
    copy-on-write rewrites.

    Keys are content-addressed, ``part-{pid:05d}-{fp:016x}.parquet``: a
    changed partition writes a NEW object, the old one stays referenced
    by the previous snapshot (time travel). ``committed`` maps partition
    id -> fingerprint of the prior snapshot's files; a partition whose
    content is already stored under its key is not written again
    (resume-skip). Without it nothing is ever skipped."""
    committed = committed or {}

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = (ctx.partitionId() if ctx is not None else 0) + base_pid
        parts = [b for b in batches if len(b)]
        pdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        fp = _fingerprint_pdf(pdf)
        key = f"part-{pid:05d}-{fp:016x}.parquet"
        skipped = committed.get(pid) == fp and store.exists(out_dir, key)
        if not skipped:
            table = _spark_readable(
                pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
                if len(pdf)
                else arrow_schema.empty_table()
            )
            store.put_table(out_dir, key, table)
        stats = _col_stats_sidecar_blooms(
            _col_stats(pdf, bloom_cols, bloom_fpp), store, out_dir, key
        )
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "fingerprint": [fp],
                "row_count": [len(pdf)],
                "bytes": [store.size(out_dir, key)],
                "path": [key],
                "skipped": [skipped],
                "col_stats": [json.dumps(stats)],
            }
        )

    return {
        str(r.partition_id): {
            "fingerprint": int(r.fingerprint),
            "row_count": int(r.row_count),
            "bytes": int(r.bytes),
            "path": r.path,
            "status": "committed",
            "skipped_on_last_run": bool(r.skipped),
            "stats": json.loads(r.col_stats),
        }
        for r in df.mapInPandas(
            write_part,
            "partition_id int, fingerprint long, row_count long, bytes long, "
            "path string, skipped boolean, col_stats string",
        ).collect()
    }


def write_checkpointed(
    df: DataFrame,
    out_dir: str,
    lineage: str = "",
    num_partitions: int | None = None,
    storage=None,
    shard_size: int = 8192,
    mode: str = "overwrite",
    bloom_cols: list[str] | None = None,
    bloom_fpp: float | None = None,
) -> dict:
    """Write ``df`` to ``out_dir`` with per-partition commit semantics.

    Returns the (resolved) manifest dict. Re-running on the same out_dir
    skips partitions whose content fingerprint is already committed
    (idempotent resume). Call again after a simulated crash and only
    missing/changed partitions are re-written.

    ``mode="append"`` commits the prior snapshot's partitions PLUS the
    new rows (new partition ids continue after the existing ones; no
    resume-skip, every append writes fresh parts) — the append stream
    :func:`read_incremental` consumes. Default "overwrite" replaces the
    table contents as a new snapshot (createOrReplace semantics).

    ``shard_size``: commits with more partitions than this store the
    partition map across shard files and keep only the shard list in the
    root manifest (manifest-of-manifests) — at 10^12 rows / 512 MB files
    a snapshot has ~200k partitions, and the root stays O(shards), not
    O(files). Commit order: shards first, then the archived root, then
    the live pointer — a crash at any point leaves a readable previous
    state and no root referencing missing shards.

    ``bloom_cols``: columns to carry a per-file Bloom filter in their
    manifest stats (int/string/bool/datetime). Equality and IN probes on
    these columns prune files min/max bounds cannot (non-clustered
    high-cardinality ids) — see the bloom section above ``_bloom_build``.
    The setting persists in the manifest as a table property (Iceberg's
    ``write.*.bloom-filter-enabled`` shape): later writes, compactions,
    and DML rewrites that don't name ``bloom_cols`` inherit it and
    rebuild blooms on every file they rewrite. Pass ``[]`` to turn the
    property off for a table that had it.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    store = storage or LocalStorage()
    prior = _load_committed(store, out_dir)
    prior_parts = prior.get("partitions", {})
    committed = (
        {}
        if mode == "append"
        else {
            int(pid): meta["fingerprint"]
            for pid, meta in prior_parts.items()
            if meta.get("status") == "committed"
        }
    )
    base_pid = (
        max((int(p) for p in prior_parts), default=-1) + 1 if mode == "append" else 0
    )
    # table-property semantics (Iceberg write.*.bloom-filter-enabled):
    # bloom_cols persists in the manifest, so re-writes/appends/compactions
    # that don't name it inherit the table's configuration
    if bloom_cols is None:
        bloom_cols = prior.get("bloom_cols")
    # bloom_fpp is a table property too (round-5 ADVICE): rewrites that
    # don't name it must not silently change the filters' false-positive
    # rate — inherit the persisted value, else the 0.01 default
    if bloom_fpp is None:
        bloom_fpp = float(prior.get("bloom_fpp", 0.01))
    if num_partitions:
        df = df.repartition(num_partitions)
    new_parts = _part_sink(
        df, store, out_dir, _arrow_schema_of(df), base_pid, bloom_cols, bloom_fpp,
        committed,
    )
    # Iceberg commit loop: target the latest committed version + 1 and
    # let the exclusive root create arbitrate. On conflict, reload the
    # base — and in append mode RE-MERGE onto the rival's partitions
    # (remapping our partition ids past its tail if they collide), so a
    # commit that landed between our base read and ours is never dropped
    # (round-3 ADVICE lost update). Part objects are content-addressed,
    # so only manifest ids move on remap, never data files. Overwrite
    # mode replaces table contents by definition — a stale base only
    # means our resume-skip decisions were conservative.
    base_version = int(prior.get("version", 0) or 0)
    for _attempt in range(1000):
        all_parts = {**prior_parts, **new_parts} if mode == "append" else new_parts
        manifest = {
            "version": base_version + 1,
            "lineage": lineage,
            "schema": df.schema.json(),
            "committed_at": time.time(),
            "total_rows": int(sum(int(p["row_count"]) for p in all_parts.values())),
            "partitions": all_parts,
        }
        if bloom_cols:
            manifest["bloom_cols"] = list(bloom_cols)
            manifest["bloom_fpp"] = float(bloom_fpp)
        if _try_commit(store, out_dir, manifest, shard_size=shard_size):
            return manifest
        base = _load_committed(store, out_dir)
        base_version = max(base_version + 1, int(base.get("version", 0) or 0))
        if mode == "append":
            prior_parts = base.get("partitions", {})
            max_pid = max((int(p) for p in prior_parts), default=-1)
            if any(int(p) <= max_pid for p in new_parts):
                new_parts = {
                    str(max_pid + 1 + i): meta
                    for i, (_, meta) in enumerate(
                        sorted(new_parts.items(), key=lambda kv: int(kv[0]))
                    )
                }
    raise RuntimeError(
        f"write_checkpointed: commit conflict persisted after 1000 retries under {out_dir}"
    )


def read_snapshot(spark, out_dir: str, version: int | None = None, storage=None) -> "DataFrame":
    """Read exactly the part files a snapshot's manifest lists (never a
    glob — stale/orphaned files from replaced table versions can't leak
    phantom rows). ``version=None`` reads the latest commit; an integer
    time-travels to that archived snapshot."""
    store = storage or LocalStorage()
    m = _load_version(store, out_dir, version)
    keys = [_part_key(meta["path"]) for meta in m.get("partitions", {}).values()]
    if not keys:
        raise ValueError(f"snapshot has no committed partitions: {out_dir} v{version}")
    return _read_parts(spark, out_dir, keys, store, m)


def snapshots(out_dir: str, storage=None) -> list[dict]:
    """All archived snapshots, oldest first: version/committed_at/rows."""
    store = storage or LocalStorage()
    out = []
    for key in store.list(out_dir, f"{MANIFESTS_DIR}/manifest-"):
        if not _is_root_manifest(key):  # partition shards are not snapshots
            continue
        m = json.loads(store.get_text(out_dir, key))
        out.append(
            {
                "version": m.get("version"),
                "committed_at": m.get("committed_at"),
                "total_rows": m.get("total_rows"),
                "lineage": m.get("lineage"),
            }
        )
    return out


def compact(spark, out_dir: str, target_bytes: int = 128 << 20, storage=None) -> dict:
    """Small-files compaction (Iceberg ``rewrite_data_files`` analog):
    read the current snapshot, rewrite it into partitions sized to
    ~``target_bytes`` (estimated from the manifest's measured bytes/row),
    and commit as a NEW snapshot. The replaced snapshot stays readable
    via time travel until ``vacuum`` expires it — compaction is just
    another commit, never an in-place mutation."""
    m = load_manifest(out_dir, storage)
    parts = m.get("partitions", {})
    if not parts:
        raise ValueError(f"nothing to compact: no committed snapshot under {out_dir}")
    total_bytes = sum(int(p["bytes"]) for p in parts.values())
    n_parts = max(1, round(total_bytes / target_bytes))
    df = read_snapshot(spark, out_dir, storage=storage)
    return write_checkpointed(
        df,
        out_dir,
        lineage=f"compact v{m.get('version')} ({len(parts)} -> {n_parts} files)",
        num_partitions=n_parts,
        storage=storage,
    )


def vacuum(
    out_dir: str, keep_last: int = 1, storage=None, grace_seconds: float = 86400.0
) -> dict:
    """Expire old snapshots: keep the newest ``keep_last`` manifest
    archives, delete part files referenced by none of them, drop expired
    manifest archives. The LIVE ``_manifest.json`` is always unioned into
    the referenced set — so a table written before snapshot archiving
    existed, or caught in the crash window where the archive is written
    but the latest pointer still names the previous version, never loses
    the data its pointer references. Part files are matched by storage
    KEY (root-relative), so a moved/renamed table root or a relative-vs-
    absolute spelling of ``out_dir`` cannot misclassify live files.

    ``grace_seconds`` (round-3 ADVICE; Iceberg's orphan-file retention):
    an UNREFERENCED part file younger than this is kept — it may belong
    to an in-flight writer that has PUT its data objects but not yet
    committed its root manifest; deleting it would leave that commit
    referencing missing objects. Pass 0 only when no writer can be
    concurrent (tests, single-writer maintenance windows). Referenced
    files are never touched regardless.
    Returns {kept_versions, removed_files, removed_snapshots}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest snapshot must survive)")
    store = storage or LocalStorage()
    all_keys = [k for k in store.list(out_dir, f"{MANIFESTS_DIR}/manifest-") if k.endswith(".json")]
    names = [k for k in all_keys if _is_root_manifest(k)]
    keep, expire = names[-keep_last:], names[:-keep_last]
    referenced: set[str] = set()
    kept_shards: set[str] = set()
    kept_versions = []
    for key in keep:
        m = _resolve_partitions(json.loads(store.get_text(out_dir, key)), out_dir, store)
        kept_versions.append(m.get("version"))
        kept_shards |= set(m.get("partition_shards") or [])
        referenced |= {_part_key(meta["path"]) for meta in m.get("partitions", {}).values()}
    # the live pointer's snapshot must survive even if its archive is
    # missing (pre-archive table) or already rotated out (crash window)
    live_raw = json.loads(store.get_text(out_dir, MANIFEST_NAME) or "{}")
    kept_shards |= set(live_raw.get("partition_shards") or [])
    live = _resolve_partitions(live_raw, out_dir, store) if live_raw else {}
    referenced |= {_part_key(meta["path"]) for meta in live.get("partitions", {}).values()}
    removed_files = 0
    now = time.time()
    for key in store.list(out_dir, "part-"):
        if key.endswith(".parquet") and key not in referenced:
            if grace_seconds > 0 and (now - store.mtime(out_dir, key)) < grace_seconds:
                continue  # possibly an in-flight writer's data — keep
            store.delete(out_dir, key)
            removed_files += 1
        elif ".parquet.bloom." in key:
            # sidecar bloom blob: referenced iff its part file is
            if key.split(".bloom.")[0] in referenced:
                continue
            if grace_seconds > 0 and (now - store.mtime(out_dir, key)) < grace_seconds:
                continue
            store.delete(out_dir, key)
            removed_files += 1
    # expired roots take their partition shards AND their claim markers
    # with them (only committed-then-expired claims: deleting the claim
    # of an in-flight commit could let a racer reuse its version number;
    # shards of kept snapshots and of the live pointer survive)
    for key in expire:
        m = json.loads(store.get_text(out_dir, key))
        for sk in m.get("partition_shards") or []:
            if sk not in kept_shards:
                store.delete(out_dir, sk)
        store.delete(out_dir, key)
        claim = key[: -len(".json")] + ".claim"
        if store.exists(out_dir, claim):
            store.delete(out_dir, claim)
    # orphan SHARD sweep (round-4 review): a losing commit attempt writes
    # its content-addressed shard files BEFORE the exclusive root create,
    # so shards referenced by no root accumulate under concurrent sharded
    # writers. Kept-root shards are in kept_shards; expired-root shards
    # were just deleted with their roots; anything else older than the
    # grace window (an in-flight commit's shards are younger) is a loser
    # attempt's leftovers.
    for key in store.list(out_dir, f"{MANIFESTS_DIR}/manifest-"):
        if "-shard-" in key and key.endswith(".json") and key not in kept_shards:
            if grace_seconds > 0 and (now - store.mtime(out_dir, key)) < grace_seconds:
                continue
            if store.exists(out_dir, key):  # expired-root loop may have taken it
                store.delete(out_dir, key)
    return {
        "kept_versions": kept_versions,
        "removed_files": removed_files,
        "removed_snapshots": len(expire),
    }


def simulate_partition_loss(out_dir: str, partition_id: int, storage=None) -> None:
    """Test helper: delete one partition's data file + manifest entry,
    as if its task died before commit."""
    store = storage or LocalStorage()
    m = load_manifest(out_dir, store)
    m.pop("partition_shards", None)  # write back inline (shards would resurrect the row)
    meta = m["partitions"].pop(str(partition_id), None)
    if meta is not None:
        key = _part_key(meta["path"])
        if store.exists(out_dir, key):
            store.delete(out_dir, key)
    store.put_text(out_dir, MANIFEST_NAME, json.dumps(m))


def observe_metrics(df: DataFrame, name: str = "metrics"):
    """Attach row-count/sum accumulators via df.observe — the engine's
    analog of the reference's progress counters
    (/root/reference/src/loader/load_queue.rs:273-283)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_clustered_by_cell(
    df: DataFrame,
    out_dir: str,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    num_partitions: int | None = None,
    lineage: str = "",
    storage=None,
) -> dict:
    """Z-order-clustered checkpoint write: add a Morton ``cell_id`` at
    ``res`` (pure column math, geom/cell layout) and range-partition on
    it before the manifest sink. Because Morton order interleaves x/y
    bits, range partitions are spatially compact — every part file's
    (min, max) cell_id stats cover a tight curve segment — which is what
    makes :func:`scan_bbox` a file-skipping operation. The Iceberg
    analog: write ordered by a space-filling curve so data-file bounds
    align with spatial predicates."""
    from pyspark.sql import functions as F

    from .ops.tiles import with_cell_id

    with_cell = with_cell_id(df, lon_col, lat_col, res)
    n = num_partitions or with_cell.rdd.getNumPartitions()
    clustered = with_cell.repartitionByRange(n, "cell_id")
    return write_checkpointed(
        clustered, out_dir, lineage=lineage or f"cluster_by_cell res={res}", storage=storage
    )


def scan_bbox(
    spark,
    out_dir: str,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    version: int | None = None,
    storage=None,
) -> tuple["DataFrame", dict]:
    """Spatial scan over a cell-clustered table: prune part files by the
    bbox's cell cover against the per-file ``cell_id`` stats (the "in"
    predicate prunes any file whose [min, max] excludes every cover
    cell), then apply the EXACT lon/lat bbox as the residual — results
    always equal a full-scan bbox filter regardless of clustering. On a
    Z-ordered table a city-sized query over 10^12 rows touches
    O(matching files); on an unclustered table it degrades to a full
    scan, never to a wrong answer."""
    from pyspark.sql import functions as F

    from .geom import cell as cell_mod

    cover = [int(c) for c in cell_mod.cover_bbox(xmin, ymin, xmax, ymax, res)]
    df, report = scan(
        spark, out_dir, [("cell_id", "in", cover)], version=version, storage=storage
    )
    df = df.filter(
        (F.col(lon_col) >= xmin) & (F.col(lon_col) < xmax)
        & (F.col(lat_col) >= ymin) & (F.col(lat_col) < ymax)
    )
    report["cover_cells"] = len(cover)
    return df, report


def _cow_rewrite(spark, out_dir: str, store, shard_size: int, op: str, plan) -> dict:
    """The copy-on-write commit loop behind :func:`delete_where`,
    :func:`update_where` and :func:`merge_into`.

    Each attempt loads the latest committed snapshot and calls
    ``plan(prior)``, which returns the op's four parts:

    * ``may_match(meta)`` — False only when a file's stats prove the op
      touches none of its rows; such files carry over BY REFERENCE
      (content-addressed, so snapshots share them);
    * ``rewrite(old)`` — the rows that replace the affected files, given
      their rows (``old`` is None when no file is affected); None writes
      nothing;
    * ``report(rows_before, rows_after)`` — the op's ``*_report`` fields
      beyond ``files_total`` / ``files_rewritten``;
    * ``lineage(report)`` — the snapshot's lineage text.

    The rewrite goes through :func:`_part_sink` with the table's bloom
    properties, one output file per affected file, under partition ids
    past the prior's; the new manifest carries ``schema``, ``bloom_cols``
    and ``bloom_fpp`` forward. ``shard_size`` is threaded to the commit,
    so a rewrite of a sharded-manifest table stays sharded instead of
    inlining 10^5-10^6 partitions into one root JSON.

    Concurrency: a rival commit between our base read and our root create
    fails the exclusive create. A rewrite derived from a replaced snapshot
    cannot be merged (unlike an append), so the whole pass re-runs on the
    new base, up to 8 attempts; part files written by a lost attempt are
    orphans that vacuum's grace window collects."""
    for _attempt in range(8):
        prior = _load_committed(store, out_dir)
        parts = prior.get("partitions", {})
        if not parts:
            raise ValueError(f"{op}: no committed snapshot under {out_dir}")
        may_match, rewrite, report_fields, lineage = plan(prior)
        affected = {pid: meta for pid, meta in parts.items() if may_match(meta)}
        entries = {pid: meta for pid, meta in parts.items() if pid not in affected}
        old = (
            _read_parts(
                spark, out_dir, [_part_key(m["path"]) for m in affected.values()],
                store, prior,
            )
            if affected
            else None
        )
        out = rewrite(old)
        bloom_cols = prior.get("bloom_cols")
        bloom_fpp = float(prior.get("bloom_fpp", 0.01))
        if out is not None:
            # files keep the table's column types: the arrow schema comes
            # from the rows read back, not from what the rewrite computed
            arrow_schema = _arrow_schema_of(out if old is None else old)
            entries.update(_part_sink(
                out.repartition(len(affected)) if affected else out,
                store, out_dir, arrow_schema,
                max(int(p) for p in parts) + 1, bloom_cols, bloom_fpp,
            ))
        rows_before = sum(int(p["row_count"]) for p in parts.values())
        rows_after = sum(int(p["row_count"]) for p in entries.values())
        report = {
            "files_total": len(parts),
            "files_rewritten": len(affected),
            **report_fields(rows_before, rows_after),
        }
        manifest = {
            "version": int(prior.get("version", 0) or 0) + 1,
            "lineage": lineage(report),
            "schema": prior.get("schema"),
            **({"bloom_cols": list(bloom_cols), "bloom_fpp": bloom_fpp} if bloom_cols else {}),
            "committed_at": time.time(),
            "total_rows": rows_after,
            "partitions": entries,
            f"{op.split('_')[0]}_report": report,
        }
        if _try_commit(store, out_dir, manifest, shard_size=shard_size):
            return manifest
    raise RuntimeError(f"{op}: commit conflict persisted after 8 retries under {out_dir}")


def _files_rewritten(report: dict) -> str:
    return f"{report['files_rewritten']}/{report['files_total']} files rewritten"


def delete_where(spark, out_dir: str, filters, storage=None, shard_size: int = 8192) -> dict:
    """Row-level DELETE, Iceberg copy-on-write style with FILE-LEVEL
    pruning: part files whose column stats prove no row matches the
    predicate conjunction carry over into the new snapshot BY REFERENCE
    (content-addressed, so snapshots share them); only files that may
    contain matching rows are read, filtered, and rewritten. At 10^12
    rows a clustered-key delete rewrites O(matching files), not the
    table. Deleting is just another commit: the previous snapshot stays
    readable by version until vacuum; concurrent committers are resolved
    by the Iceberg commit loop — if a rival commit lands between our
    base read and our root create, the whole operation RETRIES against
    the new base (a rewrite derived from a replaced snapshot can't be
    merged; part files written by a lost attempt become orphans that
    vacuum's grace window collects).

    Returns the new manifest plus a ``delete_report`` entry
    {files_total, files_rewritten, rows_before, rows_deleted}."""
    store = storage or LocalStorage()
    pred = _conjunction(filters)

    def plan(prior):
        return (
            lambda meta: _meta_may_match(meta, filters, store, out_dir),
            # NULL predicate values never match a delete (SQL three-valued
            # logic): such rows survive
            lambda old: None if old is None else old.filter((~pred) | pred.isNull()),
            lambda before, after: {"rows_before": before, "rows_deleted": before - after},
            lambda r: f"delete_where {filters!r} ({_files_rewritten(r)})",
        )

    return _cow_rewrite(spark, out_dir, store, shard_size, "delete_where", plan)


def update_where(spark, out_dir: str, filters, set_exprs: dict, storage=None, shard_size: int = 8192) -> dict:
    """Row-level UPDATE, same copy-on-write machinery as
    :func:`delete_where`: files whose stats exclude the predicate carry
    over by reference; affected files are read once and rewritten with
    ``set_exprs`` (column -> Spark Column/literal) applied to matching
    rows only (NULL predicates never match). Completes the DML triad
    next to write (insert/overwrite), merge_upsert, and delete_where."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    store = storage or LocalStorage()
    pred = _conjunction(filters)

    def rewrite(old):
        if old is None:
            return None
        for col, expr in set_exprs.items():
            val = expr if isinstance(expr, Column) else F.lit(expr)
            old = old.withColumn(col, F.when(pred, val).otherwise(F.col(col)))
        return old

    def plan(prior):
        return (
            lambda meta: _meta_may_match(meta, filters, store, out_dir),
            rewrite,
            lambda before, after: {},
            lambda r: f"update_where {filters!r} ({_files_rewritten(r)})",
        )

    return _cow_rewrite(spark, out_dir, store, shard_size, "update_where", plan)


def merge_into(
    spark,
    out_dir: str,
    source: "DataFrame",
    key: str,
    storage=None,
    shard_size: int = 8192,
    max_probe_keys: int = 100_000,
) -> dict:
    """Keyed MERGE (upsert) as file-pruned copy-on-write — the Iceberg
    ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *`` shape (reference analog: the
    conflict-skip/replace ingest decision, SURVEY §2 S10/S11), done the way
    a 100-TB table must: files whose key stats (min/max + sidecar Bloom)
    exclude every source key carry over BY REFERENCE; only possibly-matching
    files are read, anti-joined against the source keys, and rewritten
    together with the full source.

    Pruning probe: when the source's distinct key count fits
    ``max_probe_keys`` the keys are collected (bounded driver budget) and
    probed per-file as an IN filter — range + Bloom pruning, the sharp
    path for the common trickle-merge. Bigger sources fall back to a
    min/max range probe (no collect). Source keys must be non-null and
    unique (multiple source rows per key would make the merge result
    order-dependent — same rule Iceberg enforces by raising).

    Commit follows the DML retry protocol: optimistic commit via
    exclusive-create; on conflict the whole CoW pass re-runs on the new
    base (8 attempts)."""
    import bisect

    from pyspark.sql import functions as F

    store = storage or LocalStorage()

    def plan(prior):
        table_schema = _snapshot_spark_schema(
            spark, store, out_dir, prior,
            [_part_key(m["path"]) for m in prior["partitions"].values()],
        )
        cols = table_schema.fieldNames()
        if sorted(source.columns) != sorted(cols):
            raise ValueError(
                f"merge_into: source columns {sorted(source.columns)} != table "
                f"columns {sorted(cols)} (MERGE is whole-row; "
                "project/null-fill the source first)"
            )
        if key not in source.columns:
            raise ValueError(f"merge_into: key column {key!r} not in source")
        # one source pass for the key profile: distinct/duplicate/null counts
        # + bounds — everything the prune decision needs, as ONE aggregate
        prof = source.agg(
            F.count("*").alias("n"),
            F.count(key).alias("n_nonnull"),
            F.countDistinct(key).alias("n_keys"),
            F.min(key).alias("mn"),
            F.max(key).alias("mx"),
        ).collect()[0]
        n = int(prof.n)

        def report(before, after):
            return {"source_rows": n}

        def lineage(r):
            return f"merge_into on {key!r} ({_files_rewritten(r)}, {n} source rows)"

        if n == 0:
            # empty merge: no-op, but still a committed snapshot for lineage
            return lambda meta: False, lambda old: None, report, lineage
        if int(prof.n_nonnull) != n:
            raise ValueError("merge_into: source has NULL merge keys")
        if int(prof.n_keys) != n:
            raise ValueError(
                f"merge_into: source keys not unique ({n} rows, "
                f"{int(prof.n_keys)} distinct {key!r}) — pre-aggregate the source"
            )
        if int(prof.n_keys) <= max_probe_keys:
            key_vals = sorted(r[0] for r in source.select(key).collect())

            def may_match(meta: dict) -> bool:
                # sorted-key fast path: bisect the file's [lo, hi] range
                # once instead of scanning all K keys per file, and feed
                # only the in-range slice to the Bloom probe
                ent = (meta.get("stats") or {}).get(key) or {}
                lo, hi = ent.get("lo"), ent.get("hi")
                cand = key_vals
                if lo is not None and hi is not None:
                    try:
                        i = bisect.bisect_left(key_vals, lo)
                        j = bisect.bisect_right(key_vals, hi)
                    except TypeError:
                        i, j = 0, len(key_vals)  # incomparable: no prune
                    if i >= j:
                        return False
                    cand = key_vals[i:j]
                return _meta_may_match(meta, [(key, "in", cand)], store, out_dir)

        else:
            range_probe = [(key, ">=", prof.mn), (key, "<=", prof.mx)]

            def may_match(meta: dict) -> bool:
                return _meta_may_match(meta, range_probe, store, out_dir)

        src = source.select(*cols)

        def rewrite(old):
            if old is None:  # insert-only: no file holds a source key
                return src.repartition(max(1, spark.sparkContext.defaultParallelism // 4))
            survivors = old.join(src.select(key), on=key, how="left_anti")
            return survivors.select(*cols).unionByName(src)

        return may_match, rewrite, report, lineage

    # pin the source: it is read up to three times per attempt (profile
    # aggregate, key collect, anti-join) and again on commit retry — a
    # non-deterministic source would otherwise pass the uniqueness/null
    # checks yet merge a DIFFERENT key set. The profile aggregate is a
    # full pass, so it materializes the cache before any reuse.
    source = source.persist()
    try:
        return _cow_rewrite(spark, out_dir, store, shard_size, "merge_into", plan)
    finally:
        source.unpersist()


def read_incremental(
    spark, out_dir: str, from_version: int, to_version: int | None = None, storage=None
) -> "DataFrame":
    """Iceberg incremental (append) scan: the rows ADDED between two
    snapshots = rows of part files present in ``to_version`` but not in
    ``from_version`` (content-addressed keys make the diff exact).
    Raises if files were REMOVED in the range (delete/update/compaction
    rewrote data — the diff is then not an append stream; consume such
    tables by full snapshot instead)."""
    store = storage or LocalStorage()
    m_from = _load_version(store, out_dir, from_version)
    m_to = _load_version(store, out_dir, to_version)
    keys_from = {_part_key(p["path"]) for p in m_from.get("partitions", {}).values()}
    keys_to = {_part_key(p["path"]) for p in m_to.get("partitions", {}).values()}
    removed = keys_from - keys_to
    if removed:
        raise ValueError(
            f"read_incremental: {len(removed)} file(s) of v{from_version} were "
            "rewritten/removed in the range — not an append-only diff; read the "
            "full snapshot instead"
        )
    added = sorted(keys_to - keys_from)
    if not added:
        return read_snapshot(spark, out_dir, version=to_version, storage=store).limit(0)
    return _read_parts(spark, out_dir, added, store, m_to)


def snapshot_diff(
    spark,
    out_dir: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: tuple = ("id",),
    storage=None,
) -> "DataFrame":
    """Row-level CDC between two snapshots — the general companion to
    :func:`read_incremental` that also survives delete/update/compaction
    rewrites: both versions are time-travel reads, joined full-outer on
    the key, and each key classifies as ``insert`` (new only), ``delete``
    (old only), or ``update`` (present in both with any value column
    differing, NULL-safe); unchanged rows are dropped. Output columns:
    key columns, ``op``, then ``old_<c>``/``new_<c>`` for every value
    column. ``key_cols`` must uniquely identify rows in EACH snapshot —
    row-level CDC is keyed by definition; a duplicated key makes the
    full-outer join emit a cross product of contradictory rows.

    Scale shape: one co-partitioned key join of two pruned snapshot
    scans; at 10^12 rows the join is the honest cost of a row-level diff
    across rewrites (the append-only fast path stays read_incremental).
    Requires both snapshots to share the key's schema; value columns are
    the union, with a column absent from one version reading as NULL on
    that side (schema evolution shows up as an update)."""
    from pyspark.sql import functions as F

    a = read_snapshot(spark, out_dir, version=from_version, storage=storage)
    b = read_snapshot(spark, out_dir, version=to_version, storage=storage)
    keys = list(key_cols)
    for k in keys:
        if k not in a.columns or k not in b.columns:
            raise ValueError(f"snapshot_diff: key column {k!r} missing from a snapshot")
    vals = [c for c in a.columns if c not in keys]
    vals += [c for c in b.columns if c not in keys and c not in vals]
    # a column absent from one version fills as a TYPED null (the other
    # side's dtype) — an untyped lit(None) would make the output column
    # VOID, which parquet sinks reject
    dtypes = {f.name: f.dataType for f in b.schema.fields}
    dtypes.update({f.name: f.dataType for f in a.schema.fields if f.name not in dtypes})
    left = a.select(
        *keys,
        *[
            (
                F.col(c) if c in a.columns else F.lit(None).cast(dtypes[c])
            ).alias(f"old_{c}")
            for c in vals
        ],
        F.lit(True).alias("_in_old"),
    )
    right = b.select(
        *keys,
        *[
            (
                F.col(c) if c in b.columns else F.lit(None).cast(dtypes[c])
            ).alias(f"new_{c}")
            for c in vals
        ],
        F.lit(True).alias("_in_new"),
    )
    j = left.join(right, keys, "full_outer")
    changed = F.lit(False)
    for c in vals:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op", *[f"old_{c}" for c in vals], *[f"new_{c}" for c in vals])
    )
