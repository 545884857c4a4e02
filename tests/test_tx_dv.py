"""Deletion vectors (merge-on-read) on the transactional table
(streaming/tx_table.py): positional-delete sidecars applied at read,
bit-for-bit equality with copy-on-write deletes, DV union on repeated
deletes, metadata-only counts, CDF rows for DV commits (DataFrame and
txcdf twin), compaction fold-in, and vacuum interplay.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_pipeline_spark.streaming import tx_table

EPOCHS = [
    [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
    [("a", 9), ("e", 5)],
    [("b", 7), ("a", 8)],
]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def _content(spark, table_dir, version=None):
    df = tx_table.read_table(spark, table_dir, version=version)
    return set() if df is None else {(r.k, r.v) for r in df.select("k", "v").collect()}


def _build(spark, tx, n_buckets=2, stats=None):
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=n_buckets,
                        order_col="v", epoch_id=i, stats_cols=stats)


def test_dv_delete_matches_cow_bitwise(spark, tmp_path):
    """The same keyed delete through mode='dv' and mode='cow' must
    read back identically — and the DV path must rewrite NO data
    file (its file set is unchanged, only pointers move)."""
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    _build(spark, cow)
    _build(spark, dv)
    keys = spark.createDataFrame([("a",), ("c",)], "k string")

    files_before = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}
    v_cow = tx_table.delete(spark, cow, keys, epoch_id=10)
    v_dv = tx_table.delete(spark, dv, keys, epoch_id=10, mode="dv")
    files_after = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}

    assert files_before == files_after  # merge-on-read: no rewrite
    got_cow = _content(spark, cow, v_cow)
    got_dv = _content(spark, dv, v_dv)
    assert got_cow == got_dv == {("b", 7), ("d", 4), ("e", 5)}
    # time travel still sees the pre-delete snapshot
    assert _content(spark, dv, v_dv - 1) == {
        ("a", 8), ("b", 7), ("c", 3), ("d", 4), ("e", 5)
    }


def test_dv_repeated_deletes_union(spark, tmp_path):
    """A second DV delete hitting an already-DV'd file must union the
    positions (the new sidecar carries old + new), and exactly-once
    replay protection applies to DV commits too."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    tx_table.delete(spark, tx, spark.createDataFrame([("a",)], "k string"),
                    epoch_id=10, mode="dv")
    v = tx_table.delete(spark, tx, spark.createDataFrame([("b",)], "k string"),
                        epoch_id=11, mode="dv")
    assert _content(spark, tx) == {("c", 3), ("d", 4), ("e", 5)}
    # replay of epoch 11: no-op
    assert tx_table.delete(spark, tx, spark.createDataFrame([("b",)], "k string"),
                           epoch_id=11, mode="dv") == v
    # an upsert after DV deletes re-inserts cleanly (rewrites the bucket)
    tx_table.upsert(spark, tx, _batch(spark, [("a", 100)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=12)
    assert _content(spark, tx) == {("a", 100), ("c", 3), ("d", 4), ("e", 5)}


def test_dv_delete_where_with_skipping_and_count(spark, tmp_path):
    """delete_where(mode='dv') composes with between-stats pruning,
    and table_count stays metadata-only via n_deleted."""
    tx = str(tmp_path / "tx")
    rows = [(f"key{i}", i) for i in range(40)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    assert tx_table.table_count(tx) == 40
    v = tx_table.delete_where(spark, tx, F.col("v") < 10,
                              between={"v": (None, 9)}, mode="dv")
    assert tx_table.table_count(tx, v) == 30  # no scan needed
    df = tx_table.read_table(spark, tx)
    assert df.count() == 30
    assert df.filter(F.col("v") < 10).count() == 0
    # no-op predicate: stats prove empty, no commit
    assert tx_table.delete_where(spark, tx, F.col("v") > 1000,
                                 between={"v": (1001, None)}, mode="dv") == v


def test_dv_cdf_rows_match_cow(spark, tmp_path):
    """read_changes for a DV commit yields exactly the killed rows as
    deletes — identical to what the cow path reports for the same
    operation."""
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    _build(spark, cow)
    _build(spark, dv)
    keys = spark.createDataFrame([("a",), ("d",)], "k string")
    v_cow = tx_table.delete(spark, cow, keys, epoch_id=10)
    v_dv = tx_table.delete(spark, dv, keys, epoch_id=10, mode="dv")

    def changes(t, v):
        df = tx_table.read_changes(spark, t, v)
        return {(r.k, r.v, r._change_type)
                for r in df.select("k", "v", "_change_type").collect()}

    assert changes(dv, v_dv) == changes(cow, v_cow) == {
        ("a", 8, "delete"), ("d", 4, "delete")
    }
    # a second DV delete reports only the newly-dead rows
    v2 = tx_table.delete(spark, dv, spark.createDataFrame([("b",)], "k string"),
                         epoch_id=11, mode="dv")
    assert changes(dv, v2) == {("b", 7, "delete")}


def test_dv_txcdf_stream_parity(spark, tmp_path):
    """The txcdf streaming source (pure-Python twin) reconstructs DV
    commits identically to the DataFrame read_changes path."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    tx_table.delete(spark, tx, spark.createDataFrame([("a",), ("c",)], "k string"),
                    epoch_id=10, mode="dv")
    tx_table.delete(spark, tx, spark.createDataFrame([("b",)], "k string"),
                    epoch_id=11, mode="dv")

    name = "cdf_dv_parity"
    q = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    want = set()
    for v in range(tx_table.latest_version(tx) + 1):
        df = tx_table.read_changes(spark, tx, v)
        if df is None:
            continue
        want |= {(r.k, r.v, r._change_type, v)
                 for r in df.select("k", "v", "_change_type").collect()}
    assert got == want
    assert {(k, v, ct, cv) for k, v, ct, cv in got if ct == "delete"} == {
        ("a", 8, "delete", 3), ("c", 3, "delete", 3), ("b", 7, "delete", 4)
    }


def test_dv_compaction_folds_and_vacuum_sweeps(spark, tmp_path):
    """Compaction rewrites the snapshot clean (no DV pointers left);
    vacuum keeps live sidecars while the DV'd manifest is retained and
    sweeps them once it falls out of the tail."""
    tx = str(tmp_path / "tx")
    _build(spark, tx, stats=["v"])
    tx_table.delete(spark, tx, spark.createDataFrame([("a",)], "k string"),
                    epoch_id=10, mode="dv")
    before = _content(spark, tx)
    assert tx_table.table_count(tx) == len(before)  # metadata-only, DV-adjusted

    def dv_parts():
        return [p for p in pathlib.Path(tx, "data").rglob("_dv/*.parquet")]

    assert any(f.get("dv") for f in tx_table.snapshot(tx)[1]["files"])
    assert dv_parts()

    # vacuum while the DV'd version is live: sidecar survives
    tx_table.vacuum(tx, keep_versions=2, retention_seconds=0.0)
    assert dv_parts()
    assert _content(spark, tx) == before

    vc = tx_table.compact(spark, tx)
    assert not any(f.get("dv") for f in tx_table.snapshot(tx)[1]["files"])
    assert _content(spark, tx, vc) == before
    assert tx_table.table_count(tx, vc) == len(before)

    # once the DV'd versions leave the retained tail, the sidecar goes
    tx_table.vacuum(tx, keep_versions=1, retention_seconds=0.0)
    assert not dv_parts()
    assert _content(spark, tx) == before


def test_dv_bad_mode_rejected(spark, tmp_path):
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    with pytest.raises(ValueError, match="mode"):
        tx_table.delete(spark, tx, spark.createDataFrame([("a",)], "k string"),
                        mode="nope")


def test_update_where_cow_and_dv_match(spark, tmp_path):
    """UPDATE ... SET through both modes: identical read-back, keys
    and untouched rows preserved, _epoch lineage preserved, and the
    DV path rewrites no candidate file (it only appends + DVs)."""
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    _build(spark, cow, stats=["v"])
    _build(spark, dv, stats=["v"])

    files_before = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}
    v1 = tx_table.update_where(spark, cow, F.col("v") >= 5, {"v": F.col("v") * 10},
                               epoch_id=20)
    v2 = tx_table.update_where(spark, dv, F.col("v") >= 5, {"v": F.col("v") * 10},
                               epoch_id=20, mode="dv")
    got_cow = _content(spark, cow, v1)
    got_dv = _content(spark, dv, v2)
    assert got_cow == got_dv == {("a", 80), ("b", 70), ("c", 3), ("d", 4), ("e", 50)}
    # dv mode: every pre-update file is still in the manifest (DV'd or
    # untouched), plus fresh appended files for the updated rows
    paths_after = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}
    assert files_before <= paths_after
    # _epoch lineage preserved: a replayed old epoch still loses LWW
    eps = {r.k: r["_epoch"] for r in
           tx_table.read_table(spark, dv).select("k", "_epoch").collect()}
    assert eps == {"a": 2, "b": 2, "c": 0, "d": 0, "e": 1}
    # metadata-only count unchanged by an update
    assert tx_table.table_count(dv) == 5
    # replay protection
    assert tx_table.update_where(spark, dv, F.col("v") >= 5, {"v": F.lit(0)},
                                 epoch_id=20, mode="dv") == v2
    # key/bucket/lineage columns are not updatable
    with pytest.raises(ValueError, match="key/bucket"):
        tx_table.update_where(spark, dv, F.lit(True), {"k": F.lit("x")})


def test_update_where_cdf_tuple_diff(spark, tmp_path):
    """The change feed for UPDATE commits reports tuple-level pre/post
    images (carried-verbatim rows cancel), identically for cow and dv
    — and the txcdf streaming twin agrees."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    spark.dataSource.register(TxChangeFeedDataSource)
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    _build(spark, cow)
    _build(spark, dv)
    v1 = tx_table.update_where(spark, cow, F.col("v") >= 7, {"v": F.col("v") + 100})
    v2 = tx_table.update_where(spark, dv, F.col("v") >= 7, {"v": F.col("v") + 100},
                               mode="dv")

    def changes(t, v):
        df = tx_table.read_changes(spark, t, v)
        return {(r.k, r.v, r._change_type)
                for r in df.select("k", "v", "_change_type").collect()}

    want = {
        ("a", 8, "update_preimage"), ("a", 108, "update_postimage"),
        ("b", 7, "update_preimage"), ("b", 107, "update_postimage"),
    }
    assert changes(cow, v1) == changes(dv, v2) == want

    # streamed parity over the dv table's whole history
    name = "cdf_upd_parity"
    q = (
        spark.readStream.format("txcdf").option("table_dir", dv).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    want_all = set()
    for v in range(tx_table.latest_version(dv) + 1):
        df = tx_table.read_changes(spark, dv, v)
        if df is None:
            continue
        want_all |= {(r.k, r.v, r._change_type, v)
                     for r in df.select("k", "v", "_change_type").collect()}
    assert got == want_all
    assert {x for x in got if x[3] == v2} == {(k, v, ct, v2) for k, v, ct in want}


def test_update_where_with_skipping_then_compact(spark, tmp_path):
    """between-stats pruning applies to UPDATE too; compaction folds
    the DV'd + appended layout back into clean files with identical
    content."""
    tx = str(tmp_path / "tx")
    rows = [(f"key{i}", i) for i in range(40)]
    tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0, stats_cols=["v"])
    v = tx_table.update_where(spark, tx, F.col("v") < 5, {"v": F.col("v") + 1000},
                              between={"v": (None, 4)}, mode="dv")
    content = _content(spark, tx, v)
    assert {("key%d" % i, i + 1000) for i in range(5)} <= content
    assert len(content) == 40
    # stats-proven no-op
    assert tx_table.update_where(spark, tx, F.col("v") < 0, {"v": F.lit(1)},
                                 between={"v": (None, -1)}, mode="dv") == v
    vc = tx_table.compact(spark, tx)
    assert not any(f.get("dv") for f in tx_table.snapshot(tx)[1]["files"])
    assert _content(spark, tx, vc) == content


def test_merge_into_all_three_clauses(spark, tmp_path):
    """MERGE INTO: matched-delete, conditional matched-update with
    source-column references, and not-matched-insert compose in ONE
    atomic commit; the change feed reports them through the upsert
    logic (update images + inserts + deletes)."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)  # {a:8, b:7, c:3, d:4, e:5}
    v0 = tx_table.latest_version(tx)

    src = spark.createDataFrame(
        [("a", 100), ("c", -1), ("z", 50)], "k string, v int"
    )
    v = tx_table.merge(
        spark, tx, src,
        when_matched_update={"v": F.col("_src_v")},
        when_matched_delete=F.col("_src_v") < 0,   # kills c
        epoch_id=30,
    )
    assert v == v0 + 1
    assert _content(spark, tx, v) == {
        ("a", 100), ("b", 7), ("d", 4), ("e", 5), ("z", 50)
    }
    # LWW lineage: written rows (a updated, z inserted) carry eff_epoch
    eps = {r.k: r["_epoch"] for r in
           tx_table.read_table(spark, tx).select("k", "_epoch").collect()}
    assert eps["a"] == 30 and eps["z"] == 30 and eps["b"] == 2

    ch = tx_table.read_changes(spark, tx, v)
    got = {(r.k, r.v, r._change_type)
           for r in ch.select("k", "v", "_change_type").collect()}
    assert got == {
        ("a", 8, "update_preimage"), ("a", 100, "update_postimage"),
        ("z", 50, "insert"), ("c", 3, "delete"),
    }
    # replay protection
    assert tx_table.merge(spark, tx, src, when_matched_update={"v": F.lit(0)},
                          epoch_id=30) == v


def test_merge_guards_and_variants(spark, tmp_path):
    """MERGE guardrails: key updates rejected, missing key column
    rejected, at least one clause required; update-only and
    insert-only variants behave."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    src = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="key/bucket"):
        tx_table.merge(spark, tx, src, when_matched_update={"k": F.lit("x")})
    with pytest.raises(ValueError, match="key column"):
        tx_table.merge(spark, tx, spark.createDataFrame([(1,)], "v int"))
    with pytest.raises(ValueError, match="WHEN clause"):
        tx_table.merge(spark, tx, src, when_not_matched_insert=False)

    # update-only: unmatched source rows do NOT insert
    v = tx_table.merge(spark, tx,
                       spark.createDataFrame([("a", 11), ("q", 1)], "k string, v int"),
                       when_matched_update={"v": F.col("_src_v")},
                       when_not_matched_insert=False, epoch_id=40)
    assert _content(spark, tx, v) == {("a", 11), ("b", 7), ("c", 3), ("d", 4), ("e", 5)}

    # insert-only (WHEN NOT MATCHED THEN INSERT): matched rows untouched
    v2 = tx_table.merge(spark, tx,
                        spark.createDataFrame([("a", 99), ("n", 9)], "k string, v int"),
                        epoch_id=41)
    assert _content(spark, tx, v2) == {
        ("a", 11), ("b", 7), ("c", 3), ("d", 4), ("e", 5), ("n", 9)
    }


def test_merge_txcdf_stream_parity(spark, tmp_path):
    """The txcdf streaming twin reconstructs merge commits identically
    to the DataFrame read_changes path."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    spark.dataSource.register(TxChangeFeedDataSource)
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    tx_table.merge(
        spark, tx,
        spark.createDataFrame([("a", 100), ("c", -1), ("z", 50)], "k string, v int"),
        when_matched_update={"v": F.col("_src_v")},
        when_matched_delete=F.col("_src_v") < 0,
        epoch_id=30,
    )
    name = "cdf_merge_parity"
    q = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    want = set()
    for v in range(tx_table.latest_version(tx) + 1):
        df = tx_table.read_changes(spark, tx, v)
        if df is None:
            continue
        want |= {(r.k, r.v, r._change_type, v)
                 for r in df.select("k", "v", "_change_type").collect()}
    assert got == want


def test_compact_zorder_multi_dim_skipping(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY on the tx table: after
    compact(zorder_cols=['x','y']), the manifest's per-file stats are
    narrow in BOTH dimensions, so prune_files keeps only a small file
    subset for a conjunctive (x, y) box — which a single-column sort
    cannot give for the second column."""
    tx = str(tmp_path / "tx")
    rows = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("x"),
        ((F.col("id") / 100).cast("long") % 100).alias("y"),
    )
    tx_table.upsert(spark, tx, rows, ["k"], n_buckets=1, epoch_id=0,
                    stats_cols=["x", "y"])
    v = tx_table.compact(spark, tx, zorder_cols=["x", "y"],
                         max_records_per_file=1250)
    m = tx_table.read_manifest(tx, v)
    assert len(m["files"]) >= 8
    box = {"x": (10, 19), "y": (10, 19)}
    kept = tx_table.prune_files(m, box)
    frac = len(kept) / len(m["files"])
    assert frac <= 0.5, f"z-order kept {frac:.0%} of files for a 1% box"

    # the pruned read still returns a superset of the exact box rows
    df = tx_table.read_table(spark, tx, version=v, between=box)
    exact = df.filter("x between 10 and 19 and y between 10 and 19").count()
    want = rows.filter("x between 10 and 19 and y between 10 and 19").count()
    assert exact == want > 0

    # contrast: a single-dimension sort leaves y's span global — the
    # same box prunes (almost) nothing on the y bound
    tx2 = str(tmp_path / "tx2")
    tx_table.upsert(spark, tx2, rows, ["k"], n_buckets=1, epoch_id=0,
                    stats_cols=["x", "y"])
    v2 = tx_table.compact(spark, tx2, sort_cols=["x"], max_records_per_file=1250)
    m2 = tx_table.read_manifest(tx2, v2)
    kept_y = tx_table.prune_files(m2, {"y": (10, 19)})
    assert len(kept_y) / len(m2["files"]) > 0.9  # y-only query: no skip

    with pytest.raises(ValueError, match="not both"):
        tx_table.compact(spark, tx, sort_cols=["x"], zorder_cols=["y", "x"])


def test_merge_dv_matches_cow(spark, tmp_path):
    """MERGE mode='dv': identical read-back and change feed to the
    cow merge; matched rows NO clause touches stay in their original
    files (no rewrite), clause-touched rows die via DV and reappear
    as appended rows."""
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    spark.dataSource.register(TxChangeFeedDataSource)
    cow, dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    _build(spark, cow)  # {a:8, b:7, c:3, d:4, e:5}
    _build(spark, dv)
    src = spark.createDataFrame(
        [("a", 100), ("c", -1), ("z", 50)], "k string, v int"
    )
    kw = dict(
        when_matched_update={"v": F.col("_src_v")},
        when_matched_delete=F.col("_src_v") < 0,
        epoch_id=30,
    )
    files_before = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}
    v1 = tx_table.merge(spark, cow, src, **kw)
    v2 = tx_table.merge(spark, dv, src, mode="dv", **kw)
    want = {("a", 100), ("b", 7), ("d", 4), ("e", 5), ("z", 50)}
    assert _content(spark, cow, v1) == _content(spark, dv, v2) == want
    # dv: every pre-merge file survives in the manifest
    paths_after = {f["path"] for f in tx_table.snapshot(dv)[1]["files"]}
    assert files_before <= paths_after

    def changes(t, v):
        df = tx_table.read_changes(spark, t, v)
        return {(r.k, r.v, r._change_type)
                for r in df.select("k", "v", "_change_type").collect()}

    want_ch = {
        ("a", 8, "update_preimage"), ("a", 100, "update_postimage"),
        ("z", 50, "insert"), ("c", 3, "delete"),
    }
    assert changes(cow, v1) == changes(dv, v2) == want_ch

    # streamed twin parity over the dv table
    name = "cdf_merge_dv"
    q = (
        spark.readStream.format("txcdf").option("table_dir", dv).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    assert {(k, v, ct) for k, v, ct, cv in got if cv == v2} == want_ch

    # replay protection + compaction folds the dv-merge layout
    assert tx_table.merge(spark, dv, src, mode="dv", **kw) == v2
    vc = tx_table.compact(spark, dv)
    assert _content(spark, dv, vc) == want
    assert not any(f.get("dv") for f in tx_table.snapshot(dv)[1]["files"])


def test_merge_dv_untouched_matched_rows_stay(spark, tmp_path):
    """A dv-merge with ONLY a matched-delete clause must not DV or
    rewrite matched rows the condition spares."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    src = spark.createDataFrame([("a", -1), ("b", 7)], "k string, v int")
    v = tx_table.merge(spark, tx, src, when_matched_delete=F.col("_src_v") < 0,
                       when_not_matched_insert=False, epoch_id=50, mode="dv")
    assert _content(spark, tx, v) == {("b", 7), ("c", 3), ("d", 4), ("e", 5)}
    ch = tx_table.read_changes(spark, tx, v)
    got = {(r.k, r.v, r._change_type)
           for r in ch.select("k", "v", "_change_type").collect()}
    assert got == {("a", 8, "delete")}  # b matched but untouched: no image


def test_restore_rolls_back_content_not_protections(spark, tmp_path):
    """RESTORE TO VERSION: an O(metadata) rollback commit — content
    equals the target version bit-for-bit (including reviving
    DV-killed rows), history stays readable, the change feed reports
    the diff, and neither the exactly-once ledger nor the LWW epoch
    ceiling rewinds."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)                       # v0..v2 -> {a:8,b:7,c:3,d:4,e:5}
    v2_content = _content(spark, tx)
    tx_table.delete(spark, tx, spark.createDataFrame([("a",)], "k string"),
                    epoch_id=10, mode="dv")  # v3
    tx_table.upsert(spark, tx, _batch(spark, [("x", 1)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=11)  # v4
    v = tx_table.restore(tx, 2)
    assert v == 5
    assert _content(spark, tx) == v2_content        # 'a' revived, 'x' gone
    assert _content(spark, tx, version=4) == (v2_content - {("a", 8)}) | {("x", 1)}

    # CDF of the restore = the content diff (revival + removal)
    ch = tx_table.read_changes(spark, tx, v)
    got = {(r.k, r.v, r._change_type)
           for r in ch.select("k", "v", "_change_type").collect()}
    assert ("a", 8, "insert") in got
    assert ("x", 1, "delete") in got
    assert not any(ct == "update_postimage" and k == "b" for k, _, ct in got)

    # the replay ledger did NOT rewind: epochs 0-2 and 10-11 stay no-ops
    before = tx_table.latest_version(tx)
    assert tx_table.upsert(spark, tx, _batch(spark, [("a", 999)]), ["k"],
                           n_buckets=2, order_col="v", epoch_id=1) == before
    # the LWW ceiling did not rewind: a batch upsert still wins
    tx_table.upsert(spark, tx, _batch(spark, [("a", 123)]), ["k"], n_buckets=2,
                    order_col="v")
    assert ("a", 123) in _content(spark, tx)

    # txcdf twin agrees across the whole history incl. the restore
    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    spark.dataSource.register(TxChangeFeedDataSource)
    name = "cdf_restore_parity"
    q = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got_all = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    want_all = set()
    for vv in range(tx_table.latest_version(tx) + 1):
        df = tx_table.read_changes(spark, tx, vv)
        if df is None:
            continue
        want_all |= {(r.k, r.v, r._change_type, vv)
                     for r in df.select("k", "v", "_change_type").collect()}
    assert got_all == want_all


def test_restore_past_vacuum_fails_loudly(spark, tmp_path):
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    tx_table.vacuum(tx, keep_versions=2, retention_seconds=0.0)
    with pytest.raises((ValueError, FileNotFoundError)):
        tx_table.restore(tx, 0)  # v0's manifest/files are gone


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: read_table(timestamp=...) resolves the newest
    commit at or before the instant — including instants between
    commits — and composes with version time travel's guarantees."""
    import time

    tx = str(tmp_path / "tx")
    marks = []
    for i, rows in enumerate(EPOCHS):
        tx_table.upsert(spark, tx, _batch(spark, rows), ["k"], n_buckets=2,
                        order_col="v", epoch_id=i)
        time.sleep(0.05)
        marks.append(time.time())  # strictly after commit i
    h = tx_table.history(tx)
    assert all(e["committed_at"] is not None for e in h)
    assert [e["committed_at"] for e in h] == sorted(e["committed_at"] for e in h)

    def at(ts):
        df = tx_table.read_table(spark, tx, timestamp=ts)
        return None if df is None else {(r.k, r.v) for r in df.select("k", "v").collect()}

    assert at(marks[0]) == {("a", 1), ("b", 2), ("c", 3), ("d", 4)}
    assert at(marks[1]) == {("a", 9), ("b", 2), ("c", 3), ("d", 4), ("e", 5)}
    assert at(marks[2]) == _content(spark, tx)  # latest
    assert at(h[0]["committed_at"] - 1.0) is None  # before the first commit
    assert tx_table.version_as_of(tx, marks[1]) == 1
    with pytest.raises(ValueError, match="not both"):
        tx_table.read_table(spark, tx, version=1, timestamp=marks[1])


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    """Delta MERGE semantics: two source rows for one key must raise,
    not silently fan the matched join out (dv mode would kill the old
    row once but append two updated copies, breaking the
    one-row-per-key invariant). Both modes; table must be untouched."""
    for mode in ("cow", "dv"):
        tx = str(tmp_path / f"tx_{mode}")
        _build(spark, tx)
        before = _content(spark, tx)
        v_before = tx_table.latest_version(tx)
        dup = spark.createDataFrame(
            [("a", 11), ("a", 12), ("x", 3)], "k string, v int"
        )
        with pytest.raises(ValueError, match="duplicate key"):
            tx_table.merge(spark, tx, dup,
                           when_matched_update={"v": F.col("_src_v")},
                           mode=mode, epoch_id=50)
        assert tx_table.latest_version(tx) == v_before  # no commit
        assert _content(spark, tx) == before
        # a deduped source (upsert's rule: keep max order_col) succeeds
        deduped = spark.createDataFrame([("a", 12), ("x", 3)], "k string, v int")
        v = tx_table.merge(spark, tx, deduped,
                           when_matched_update={"v": F.col("_src_v")},
                           mode=mode, epoch_id=50)
        assert _content(spark, tx, v) == {
            ("a", 12), ("b", 7), ("c", 3), ("d", 4), ("e", 5), ("x", 3)
        }


def test_restore_missing_dv_sidecar_fails_loudly(spark, tmp_path):
    """restore()'s vacuumed-file guard must also cover DV sidecar dirs:
    a target whose sidecar is gone (data file still present) would
    otherwise restore fine and then fail at read time, contradicting
    the fail-loudly-here contract."""
    import os
    import shutil

    tx = str(tmp_path / "tx")
    _build(spark, tx)
    keys = spark.createDataFrame([("a",)], "k string")
    v_dv = tx_table.delete(spark, tx, keys, epoch_id=10, mode="dv")
    # a later cow commit drops the DV reference from the head
    tx_table.upsert(spark, tx, _batch(spark, [("a", 20)]), ["k"], n_buckets=2,
                    order_col="v", epoch_id=11)
    target = tx_table.read_manifest(tx, v_dv)
    dv_dirs = [f["dv"] for f in target["files"] if f.get("dv")]
    assert dv_dirs, "delete(mode='dv') must record a sidecar"
    for d in dv_dirs:
        shutil.rmtree(os.path.join(tx, "data", d))
    with pytest.raises(ValueError, match="vacuumed"):
        tx_table.restore(tx, v_dv)


def test_concurrent_dv_merge_writers_with_readers_and_cdf_tail(spark, tmp_path):
    """The r5 DML surface under TRUE concurrency (VERDICT r5 #8): one
    thread fires DV deletes + upserts, another fires dv-mode MERGEs
    (update+delete+insert clauses), while a reader thread time-travels
    pinned snapshots throughout. Invariants:
      - no torn reads: every pinned-version read succeeds and holds
        the one-row-per-key invariant;
      - the version log is gapless and every commit's change feed
        REPLAYS: content(v) == content(v-1) ± read_changes(v) for all
        v (the strongest no-torn-commit check available without an
        interleaving model);
      - the txcdf streaming tail replays the same history as the
        batch read_changes path, version by version."""
    import threading

    from real_time_event_streaming_pipeline_spark.streaming.tx_cdf_source import (
        TxChangeFeedDataSource,
    )

    tx = str(tmp_path / "tx")
    base = [(f"k{i}", i) for i in range(10)]
    tx_table.upsert(spark, tx, _batch(spark, base), ["k"], n_buckets=4,
                    order_col="v", epoch_id=0)
    errors: list = []
    stop = threading.Event()

    def writer_a():
        try:
            for i in range(3):
                tx_table.delete(
                    spark, tx,
                    spark.createDataFrame([(f"k{(3 * i) % 10}",)], "k string"),
                    epoch_id=100 + i, mode="dv",
                )
                tx_table.upsert(
                    spark, tx,
                    _batch(spark, [(f"k{(3 * i) % 10}", 1000 + i), (f"a{i}", i)]),
                    ["k"], n_buckets=4, order_col="v", epoch_id=110 + i,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(("A", e))

    def writer_b():
        try:
            for i in range(3):
                src = spark.createDataFrame(
                    [(f"k{(2 * i) % 10}", None, 2000 + i),
                     (f"k{(2 * i + 5) % 10}", None, 2500 + i),
                     (f"b{i}", 3000 + i, None)],
                    "k string, v int, mv int",
                )
                tx_table.merge(
                    spark, tx, src,
                    when_matched_update={"v": F.col("_src_mv")},
                    when_matched_delete=F.col("v") % 2 == 1,
                    epoch_id=200 + i, mode="dv",
                )
        except Exception as e:  # pragma: no cover
            errors.append(("B", e))

    def reader():
        try:
            while not stop.is_set():
                v = tx_table.latest_version(tx)
                rows = tx_table.read_table(spark, tx, version=v).select("k", "v").collect()
                keys = [r.k for r in rows]
                assert len(keys) == len(set(keys)), f"duplicate keys at v{v}: {sorted(keys)}"
        except Exception as e:  # pragma: no cover
            errors.append(("R", e))

    ta = threading.Thread(target=writer_a)
    tb = threading.Thread(target=writer_b)
    tr = threading.Thread(target=reader)
    tr.start(); ta.start(); tb.start()
    ta.join(300); tb.join(300)
    stop.set(); tr.join(60)
    assert not errors, errors

    hist = tx_table.history(tx)
    latest = tx_table.latest_version(tx)
    assert [h["version"] for h in hist] == list(range(latest + 1))  # gapless

    # change-feed replay reconstructs every snapshot
    def content_at(v):
        return sorted(
            (r.k, r.v)
            for r in tx_table.read_table(spark, tx, version=v).select("k", "v").collect()
        )

    state: list = content_at(0)
    for v in range(1, latest + 1):
        ch = tx_table.read_changes(spark, tx, v)
        if ch is not None:
            for r in ch.select("k", "v", "_change_type").collect():
                if r._change_type in ("delete", "update_preimage"):
                    state.remove((r.k, r.v))
                else:
                    state.append((r.k, r.v))
        assert sorted(state) == content_at(v), f"replay diverged at v{v}"

    # txcdf tail sees the identical history
    spark.dataSource.register(TxChangeFeedDataSource)
    name = "cdf_conc_tail"
    q = (
        spark.readStream.format("txcdf").option("table_dir", tx).load()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.sql(
            f"SELECT k, v, _change_type, _commit_version FROM {name}"
        ).collect()
    }
    want = set()
    for v in range(latest + 1):
        df = tx_table.read_changes(spark, tx, v)
        if df is None:
            continue
        want |= {(r.k, r.v, r._change_type, v)
                 for r in df.select("k", "v", "_change_type").collect()}
    assert got == want


def test_concurrent_schema_evolution_merge_compaction(spark, tmp_path):
    """r7 (VERDICT r6 #7): the r6 guards interleaved — the schema
    EVOLVES (merge_schema upserts adding a column) while a dv-mode
    MERGE and periodic compactions race, with a reader thread pinning
    snapshot versions throughout. Invariants:
      - every pinned-version read succeeds with one row per key
        (pinned manifests resolve across both evolution and
        compaction);
      - the version log is gapless;
      - the change feed REPLAYS the full history ACROSS the evolution
        boundary: content(v) == content(v-1) ± read_changes(v) under
        the union schema (pre-evolution rows read w=NULL)."""
    import threading

    tx = str(tmp_path / "tx")
    tx_table.upsert(
        spark, tx, _batch(spark, [(f"k{i}", i) for i in range(12)]),
        ["k"], n_buckets=4, order_col="v", epoch_id=0,
    )
    errors: list = []
    stop = threading.Event()

    def evolver():
        try:
            for i in range(3):
                widened = spark.createDataFrame(
                    [(f"k{(4 * i) % 12}", 500 + i, f"w{i}"), (f"n{i}", i, f"w{i}")],
                    "k string, v int, w string",
                )
                tx_table.upsert(
                    spark, tx, widened, ["k"], n_buckets=4, order_col="v",
                    epoch_id=300 + i, merge_schema=True, app_id="evolver",
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(("E", e))

    saw_schema_race = []

    def merger():
        # a real pipeline racing an additive evolution: when the merge
        # lands after the table widened, the full-schema insert guard
        # fires (the additive-only doctrine — inserting rows that LACK
        # an existing column must be explicit, not silent NULLs); the
        # writer acknowledges the migration by widening its source and
        # retrying. Both the guard firing and the recovery are part of
        # the pinned contract.
        try:
            for i in range(3):
                src = spark.createDataFrame(
                    [(f"k{(5 * i + 1) % 12}", None, 7000 + i),
                     (f"m{i}", 8000 + i, None)],
                    "k string, v int, mv int",
                )
                try:
                    tx_table.merge(
                        spark, tx, src,
                        when_matched_update={"v": F.col("_src_mv")},
                        epoch_id=400 + i, mode="dv",
                    )
                except ValueError as e:
                    if "full-schema" not in str(e):
                        raise
                    saw_schema_race.append(i)
                    tx_table.merge(
                        spark, tx,
                        src.withColumn("w", F.lit(None).cast("string")),
                        when_matched_update={"v": F.col("_src_mv")},
                        epoch_id=400 + i, mode="dv",
                    )
        except Exception as e:  # pragma: no cover
            errors.append(("M", e))

    def compactor():
        try:
            for _ in range(2):
                tx_table.compact(spark, tx)
        except Exception as e:  # pragma: no cover
            errors.append(("C", e))

    def reader():
        try:
            while not stop.is_set():
                v = tx_table.latest_version(tx)
                rows = tx_table.read_table(spark, tx, version=v).select("k").collect()
                keys = [r.k for r in rows]
                assert len(keys) == len(set(keys)), f"duplicate keys at v{v}"
        except Exception as e:  # pragma: no cover
            errors.append(("R", e))

    tr = threading.Thread(target=reader)
    threads = [threading.Thread(target=f) for f in (evolver, merger, compactor)]
    tr.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    stop.set()
    tr.join(60)
    assert not errors, errors

    latest = tx_table.latest_version(tx)
    assert [h["version"] for h in tx_table.history(tx)] == list(range(latest + 1))
    final = tx_table.read_table(spark, tx)
    assert "w" in final.columns  # the evolution landed

    # CDF replay across the evolution boundary, under the union schema
    def content_at(v):
        df = tx_table.read_table(spark, tx, version=v)
        cols = [
            F.col("k"),
            F.col("v"),
            F.col("w") if "w" in df.columns else F.lit(None).alias("w"),
        ]
        return sorted(
            ((r.k, r.v, r.w) for r in df.select(*cols).collect()),
            key=str,
        )

    state = content_at(0)
    for v in range(1, latest + 1):
        ch = tx_table.read_changes(spark, tx, v)
        if ch is not None:
            wcol = (
                F.col("w") if "w" in ch.columns else F.lit(None).alias("w")
            )
            for r in ch.select("k", "v", wcol, "_change_type").collect():
                if r._change_type in ("delete", "update_preimage"):
                    state.remove((r.k, r.v, r.w))
                else:
                    state.append((r.k, r.v, r.w))
        state.sort(key=str)
        assert state == content_at(v), f"replay diverged at v{v}"


@pytest.mark.parametrize("failing", ["_dv_write_sidecar", "_write_txn_files"])
@pytest.mark.parametrize("op", ["update_where", "merge"])
def test_dv_overlapped_write_failure_leaves_no_txn_dir(spark, tmp_path, monkeypatch,
                                                       op, failing):
    """UPDATE/MERGE in dv mode overlap the sidecar write and the row
    append. When one of them fails after writing its files, the
    sibling's transaction directory (and its own) must be removed
    before the error propagates: no orphaned txn dir is left under
    data/, and the table still reads as the previous snapshot."""
    tx = str(tmp_path / "tx")
    _build(spark, tx)
    data = pathlib.Path(tx) / "data"
    dirs_before = {p.name for p in data.iterdir()}
    v_before, want = tx_table.latest_version(tx), _content(spark, tx)

    real = getattr(tx_table, failing)

    def write_then_crash(*a, **k):
        real(*a, **k)
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(tx_table, failing, write_then_crash)
    with pytest.raises(RuntimeError, match="injected write failure"):
        if op == "update_where":
            tx_table.update_where(spark, tx, F.col("k") == "a", {"v": F.lit(100)},
                                  epoch_id=40, mode="dv")
        else:
            tx_table.merge(spark, tx,
                           spark.createDataFrame([("a", 100), ("z", 50)], "k string, v int"),
                           when_matched_update={"v": F.col("_src_v")},
                           epoch_id=40, mode="dv")
    monkeypatch.undo()

    assert {p.name for p in data.iterdir()} == dirs_before
    assert tx_table.latest_version(tx) == v_before
    assert _content(spark, tx) == want
