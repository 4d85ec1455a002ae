"""Deletion vectors: surgical key deletion without rewriting data blobs.

The mechanism (engine.delete_keys / delete_keys_checkpoint) appends
sidecar manifest rows whose blob is the chunk's deleted row positions;
decode applies the mask after rebuild, and re-encoding compaction
materializes the deletes. The reference format has no delete operation
(write-once container, wills-columnar-format.org) — this is the
lakehouse-grade extension a mutable 100 TB corpus needs.
"""
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark.engine import (
    DELETES_PREFIX,
    column_stats,
    compact_checkpoint,
    decode_checkpoint,
    decode_table,
    delete_keys,
    delete_keys_checkpoint,
    encode_table,
    runs_table,
    write_checkpoint,
    _decode_positions,
    _encode_positions,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_position_codec_roundtrip():
    for pos in ([0], [5], [0, 1, 2], [3, 70000, 70001], list(range(100))):
        arr = np.asarray(pos, dtype=np.int64)
        assert (_decode_positions(_encode_positions(arr)) == arr).all()
    assert len(_decode_positions(_encode_positions(np.empty(0, np.int64)))) == 0


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(DOCS)
    rows = {r.doc_id: r for r in df.collect()}
    victims = [d for d in sorted(rows) if d % 10 == 3][:30]
    return df, rows, victims


def test_delete_roundtrip_values(spark, docs):
    df, rows, victims = docs
    m = delete_keys(encode_table(df, key_col="doc_id", num_partitions=4),
                    victims, "doc_id")
    got = {r.doc_id: r for r in decode_table(m, df.schema).collect()}
    assert set(got) == set(rows) - set(victims)
    for d, r in got.items():
        assert r == rows[d]


def test_delete_projection_keeps_mask(spark, docs):
    df, rows, victims = docs
    m = delete_keys(encode_table(df, key_col="doc_id", num_partitions=4),
                    victims, "doc_id")
    got = decode_table(m, df.schema, columns=["doc_id", "n_chars"])
    ids = {r.doc_id for r in got.collect()}
    assert ids == set(rows) - set(victims)


def test_delete_point_lookup_and_value_range(spark, docs):
    df, rows, victims = docs
    kept = sorted(set(rows) - set(victims))[0]
    m = delete_keys(encode_table(df, key_col="doc_id", num_partitions=4),
                    victims, "doc_id").cache()
    try:
        out = decode_table(m, df.schema, keys=[victims[0], kept],
                           key_col="doc_id")
        assert [r.doc_id for r in out.collect()] == [kept]
        # value_range prune composes with the mask
        vr = decode_table(m, df.schema, value_range=("n_chars", 0, 10**9))
        assert {r.doc_id for r in vr.collect()} == set(rows) - set(victims)
    finally:
        m.unpersist()


def test_delete_idempotent_and_overlapping(spark, docs):
    df, rows, victims = docs
    base = encode_table(df, key_col="doc_id", num_partitions=4)
    m1 = delete_keys(base, victims, "doc_id")
    # same delete again: byte-identical sidecars, dropDuplicates collapses
    m2 = delete_keys(m1, victims, "doc_id")
    got = {r.doc_id for r in decode_table(m2, df.schema).collect()}
    assert got == set(rows) - set(victims)
    # overlapping second delete with one extra key
    extra = sorted(got)[0]
    m3 = delete_keys(m1, victims[:5] + [extra], "doc_id")
    got3 = {r.doc_id for r in decode_table(m3, df.schema).collect()}
    assert got3 == set(rows) - set(victims) - {extra}


def test_delete_nonexistent_and_empty_keys(spark, docs):
    df, rows, _ = docs
    base = encode_table(df, key_col="doc_id", num_partitions=4)
    m = delete_keys(base, [10**15, 10**15 + 1], "doc_id")
    assert m.filter(F.col("column").startswith(DELETES_PREFIX)).isEmpty()
    assert decode_table(m, df.schema).count() == len(rows)
    m0 = delete_keys(base, [], "doc_id")
    assert decode_table(m0, df.schema).count() == len(rows)


def test_delete_arranged_fast_path_raises_loudly(spark, docs):
    df, _, victims = docs
    m = delete_keys(encode_table(df, key_col="doc_id", num_partitions=4),
                    victims, "doc_id")
    with pytest.raises(Exception, match="deletion-vector sidecar|not chunk-contiguous"):
        decode_table(m, df.schema, assume_unique=True, arranged=True).count()


def test_runs_table_refuses_deleted_manifest(spark):
    sdf = spark.sql(
        "SELECT id AS k, CAST(id / 100 AS INT) AS grp FROM range(1000)"
    )
    m = encode_table(sdf, key_col="k", codec="rle", num_partitions=2,
                     chunk_rows=256)
    md = delete_keys(m, [5, 6], "k")
    with pytest.raises(Exception, match="deletion vectors"):
        runs_table(md, "grp").count()


def test_delete_checkpoint_fast_path(spark, docs, tmp_path):
    df, rows, victims = docs
    ck = str(tmp_path / "ck")
    write_checkpoint(encode_table(df, key_col="doc_id", num_partitions=4),
                     ck, schema=df.schema)
    gen = delete_keys_checkpoint(spark, ck, victims, "doc_id")
    assert gen
    dec = decode_checkpoint(spark, ck, df.schema, verify_checksums=True)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # sidecars ride out-of-band
    got = {r.doc_id: r for r in dec.collect()}
    assert set(got) == set(rows) - set(victims)
    for d, r in got.items():
        assert r == rows[d]
    # point lookup on the file path: deleted key gone, kept key present
    kept = sorted(got)[0]
    out = decode_checkpoint(spark, ck, df.schema,
                            keys=[victims[0], kept], key_col="doc_id")
    assert [r.doc_id for r in out.collect()] == [kept]


def test_delete_checkpoint_corrupt_blob_fails_checksum(spark, docs, tmp_path):
    df, _, victims = docs
    ck = str(tmp_path / "ck")
    write_checkpoint(encode_table(df, key_col="doc_id", num_partitions=4),
                     ck, schema=df.schema)
    delete_keys_checkpoint(spark, ck, victims, "doc_id")
    # swap every deletion blob for garbage, keep the recorded checksum
    m = spark.read.parquet(ck)
    clean = m.filter(~F.col("column").startswith(DELETES_PREFIX))
    bad = (
        m.filter(F.col("column").startswith(DELETES_PREFIX))
        .withColumn("blob", F.lit(_encode_positions(np.asarray([1], np.int64))))
    )
    ck2 = str(tmp_path / "ck2")
    clean.unionByName(bad).write.parquet(ck2)
    write_checkpoint(spark.createDataFrame([], m.schema), str(tmp_path / "nop"))
    with pytest.raises(Exception, match="checksum mismatch on deletion vector"):
        decode_checkpoint(spark, ck2, df.schema,
                          verify_checksums=True).count()
    # without verification the swap silently applies (documented trade)


def test_delete_compaction_materializes(spark, docs, tmp_path):
    df, rows, victims = docs
    want = set(rows) - set(victims)
    ck = str(tmp_path / "ck")
    write_checkpoint(encode_table(df, key_col="doc_id", num_partitions=4),
                     ck, schema=df.schema)
    delete_keys_checkpoint(spark, ck, victims, "doc_id")
    # plain compact re-clusters sidecars next to their chunks
    ck2 = str(tmp_path / "ck2")
    compact_checkpoint(spark, ck, ck2)
    got2 = {r.doc_id for r in decode_checkpoint(spark, ck2, df.schema).collect()}
    assert got2 == want
    # re-encoding compaction materializes: no sidecars survive, stats return
    ck3 = str(tmp_path / "ck3")
    compact_checkpoint(spark, ck2, ck3, rechunk_rows=256, key_col="doc_id")
    mr = spark.read.parquet(ck3)
    assert mr.filter(F.col("column").startswith(DELETES_PREFIX)).isEmpty()
    got3 = {r.doc_id for r in decode_checkpoint(spark, ck3, df.schema).collect()}
    assert got3 == want
    stats = {r.column_name for r in column_stats(mr).collect()}
    assert "n_chars" in stats and "doc_id" in stats


def test_column_stats_excluded_while_deleted(spark, docs):
    df, _, victims = docs
    base = encode_table(df, key_col="doc_id", num_partitions=4).cache()
    try:
        assert {r.column_name for r in column_stats(base).collect()} >= {
            "doc_id", "n_chars"}
        md = delete_keys(base, victims, "doc_id")
        assert column_stats(md).isEmpty()
    finally:
        base.unpersist()


def test_delete_temporal_keys(spark):
    sdf = spark.sql(
        """
        SELECT timestamp_ntz '2024-01-01 00:00:00'
                 + make_interval(0, 0, 0, 0, 0, 0, id * 60) AS ts,
               CAST(id AS INT) AS v
        FROM range(2000)
        """
    )
    rows = {r.ts: r.v for r in sdf.collect()}
    victims = sorted(rows)[100:110]
    m = delete_keys(
        encode_table(sdf, key_col="ts", num_partitions=2, chunk_rows=256),
        victims, "ts")
    got = {r.ts for r in decode_table(m, sdf.schema).collect()}
    assert got == set(rows) - set(victims)
    out = decode_table(m, sdf.schema, keys=[victims[0]], key_col="ts")
    assert out.count() == 0


# ---------------------------------------------------------------------------
# upsert: deletion vectors + append generation
# ---------------------------------------------------------------------------


def test_upsert_replaces_and_appends(spark, docs):
    from wills_columnar_format_spark.engine import upsert_table

    df, rows, _ = docs
    mod = df.filter("doc_id % 7 = 2").withColumn("text", F.upper("text"))
    new = df.filter("doc_id % 13 = 1").withColumn(
        "doc_id", F.col("doc_id") + 1000000)
    batch = mod.unionByName(new)
    m = upsert_table(encode_table(df, key_col="doc_id", num_partitions=4),
                     batch, "doc_id", num_partitions=2)
    got = {r.doc_id: r.text for r in decode_table(m, df.schema).collect()}
    want = {d: r.text for d, r in rows.items() if d % 7 != 2}
    want.update({r.doc_id: r.text for r in batch.collect()})
    assert got == want


def test_upsert_aligned_chunk_collision_is_salted(spark):
    """chunk_key is a content hash of the chunk's KEYS — a replacement
    batch covering exactly one existing chunk's key set would collide
    with the masked original and corrupt the group decode; the
    generation salt prevents it (this test fails without it)."""
    from wills_columnar_format_spark.engine import upsert_table

    base_df = spark.sql("SELECT id AS k, CAST(id * 2 AS INT) AS v FROM range(1024)")
    m = encode_table(base_df, key_col="k", num_partitions=1,
                     chunk_rows=256, partitioner="range")
    first = spark.sql("SELECT id AS k, CAST(-1 AS INT) AS v FROM range(256)")
    mu = upsert_table(m, first, "k", num_partitions=1, chunk_rows=256,
                      partitioner="range")
    rows = {r.k: r.v for r in decode_table(mu, base_df.schema).collect()}
    assert len(rows) == 1024
    assert all(rows[k] == -1 for k in range(256))
    assert all(rows[k] == 2 * k for k in range(256, 1024))


@pytest.mark.parametrize("keys_max", [None, 5])
def test_upsert_table_replay_needs_salt(spark, docs, monkeypatch, keys_max):
    """A replayed batch without gen_salt would mint the first
    application's chunk keys again and its own mask pass would kill
    both copies: refused loudly, on the driver-probe and the
    distributed mark path alike. With a salt every row survives."""
    from wills_columnar_format_spark import engine as eng

    if keys_max is not None:
        monkeypatch.setattr(eng, "UPSERT_KEYS_MAX", keys_max)
    df, rows, _ = docs
    batch = df.filter("doc_id % 7 = 2").withColumn("text", F.upper("text"))
    m1 = eng.upsert_table(encode_table(df, key_col="doc_id",
                                       num_partitions=4),
                          batch, "doc_id", num_partitions=2)
    with pytest.raises(ValueError, match="gen_salt"):
        eng.upsert_table(m1, batch, "doc_id", num_partitions=2)
    m2 = eng.upsert_table(m1, batch, "doc_id", num_partitions=2,
                          gen_salt="replay-1")
    got = {r.doc_id: r.text for r in decode_table(m2, df.schema).collect()}
    want = {d: (r.text.upper() if d % 7 == 2 else r.text)
            for d, r in rows.items()}
    assert got == want


def test_upsert_checkpoint_keeps_shuffle_free_read(spark, docs, tmp_path):
    from wills_columnar_format_spark.engine import upsert_checkpoint

    df, rows, _ = docs
    ck = str(tmp_path / "ck")
    write_checkpoint(encode_table(df, key_col="doc_id", num_partitions=4),
                     ck, schema=df.schema)
    batch = df.filter("doc_id % 7 = 2").withColumn("text", F.upper("text"))
    gen = upsert_checkpoint(spark, ck, batch, "doc_id", num_partitions=2)
    assert gen
    dec = decode_checkpoint(spark, ck, df.schema)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r.doc_id: r.text for r in dec.collect()}
    want = {d: (r.text.upper() if d % 7 == 2 else r.text)
            for d, r in rows.items()}
    assert got == want
    # point lookup of a replaced key returns the NEW value
    victim = sorted(d for d in rows if d % 7 == 2)[0]
    out = decode_checkpoint(spark, ck, df.schema, keys=[victim],
                            key_col="doc_id").collect()
    assert len(out) == 1 and out[0].text == rows[victim].text.upper()


# ---------------------------------------------------------------------------
# column backfill: schema evolution without rewriting existing blobs
# ---------------------------------------------------------------------------


def test_backfill_scalar_with_missing_keys(spark, docs):
    from wills_columnar_format_spark.engine import backfill_column

    df, rows, _ = docs
    new = (df.filter("doc_id % 10 <> 7")
             .select("doc_id",
                     (F.length("text") % 1000).cast("int").alias("tok_est")))
    m = backfill_column(encode_table(df, key_col="doc_id", num_partitions=4),
                        new, "doc_id", "tok_est")
    ext = df.withColumn("tok_est", F.lit(None).cast("int")).schema
    got = {r.doc_id: r.tok_est for r in decode_table(m, ext).collect()}
    want = {d: (len(r.text) % 1000 if d % 10 != 7 else None)
            for d, r in rows.items()}
    assert got == want
    # value_range prunes on the backfilled column's fresh zone maps
    vr = decode_table(m, ext, value_range=("tok_est", 0, 100))
    assert all(r.tok_est is not None and 0 <= r.tok_est <= 100
               for r in vr.collect())
    # projection decode of (key, new column) only
    proj = decode_table(m, ext, columns=["doc_id", "tok_est"])
    assert {r.doc_id: r.tok_est for r in proj.collect()} == want


def test_backfill_list_column(spark, docs):
    from wills_columnar_format_spark.engine import backfill_column

    df, rows, _ = docs
    lst = df.select(
        "doc_id",
        F.array(F.length("text").cast("int"), F.lit(1)).alias("feats"))
    m = backfill_column(encode_table(df, key_col="doc_id", num_partitions=4),
                        lst, "doc_id", "feats")
    ext = df.withColumn("feats", F.lit(None).cast("array<int>")).schema
    got = {r.doc_id: list(r.feats) for r in decode_table(m, ext).collect()}
    assert got == {d: [len(r.text), 1] for d, r in rows.items()}


def test_backfill_duplicate_keys_fail_loudly(spark, docs):
    from wills_columnar_format_spark.engine import backfill_column

    df, _, _ = docs
    new = df.select("doc_id", F.lit(1).alias("one"))
    dup = new.unionByName(new.limit(1))
    m = backfill_column(encode_table(df, key_col="doc_id", num_partitions=4),
                        dup, "doc_id", "one")
    ext = df.withColumn("one", F.lit(None).cast("int")).schema
    with pytest.raises(Exception, match="position permutation"):
        decode_table(m, ext).count()


def test_backfill_composes_with_deletes(spark, docs):
    from wills_columnar_format_spark.engine import backfill_column

    df, rows, victims = docs
    new = df.select("doc_id", (F.col("n_chars") * 2).alias("dbl"))
    m = backfill_column(encode_table(df, key_col="doc_id", num_partitions=4),
                        new, "doc_id", "dbl")
    md = delete_keys(m, victims, "doc_id")
    ext = df.withColumn("dbl", F.lit(None).cast("bigint")).schema
    got = {r.doc_id: r.dbl for r in decode_table(md, ext).collect()}
    assert got == {d: r.n_chars * 2 for d, r in rows.items()
                   if d not in set(victims)}


def test_backfill_refuses_temporal_keys(spark):
    from wills_columnar_format_spark.engine import backfill_column

    sdf = spark.sql(
        "SELECT timestamp_ntz '2024-01-01' + make_interval(0,0,0,0,0,0,id) "
        "AS ts, CAST(id AS INT) AS v FROM range(100)")
    m = encode_table(sdf, key_col="ts", num_partitions=1)
    with pytest.raises(TypeError, match="unsupported key type"):
        backfill_column(m, sdf.select("ts", "v"), "ts", "v")


# ---------------------------------------------------------------------------
# distributed delete: unbounded key sets as a DataFrame
# ---------------------------------------------------------------------------


def test_delete_keys_df_matches_driver_path(spark, docs):
    from wills_columnar_format_spark.engine import delete_keys_df

    df, rows, victims = docs
    kdf = spark.createDataFrame([(v,) for v in victims], "doc_id bigint")
    m = delete_keys_df(encode_table(df, key_col="doc_id", num_partitions=4),
                       kdf, "doc_id")
    got = {r.doc_id: r for r in decode_table(m, df.schema).collect()}
    assert set(got) == set(rows) - set(victims)
    for d, r in got.items():
        assert r == rows[d]
    # idempotent replay: same key set -> same generation, dedup collapses
    m2 = delete_keys_df(m, kdf, "doc_id")
    assert decode_table(m2, df.schema).count() == len(got)


def test_delete_keys_df_empty_and_checkpoint_fallback(spark, docs, tmp_path):
    from wills_columnar_format_spark.engine import delete_keys_df

    df, rows, victims = docs
    base = encode_table(df, key_col="doc_id", num_partitions=4)
    empty = spark.createDataFrame([], "doc_id bigint")
    assert decode_table(delete_keys_df(base, empty, "doc_id"),
                        df.schema).count() == len(rows)
    # write the distributed-delete manifest as a checkpoint: torn layout
    # (sidecars in their own partitions) -> decode_checkpoint falls back
    # to the shuffling path and still masks correctly
    kdf = spark.createDataFrame([(v,) for v in victims], "doc_id bigint")
    ck = str(tmp_path / "ck")
    import warnings

    write_checkpoint(delete_keys_df(base, kdf, "doc_id"), ck,
                     schema=df.schema)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = {r.doc_id for r in decode_checkpoint(spark, ck, df.schema).collect()}
    assert got == set(rows) - set(victims)


def test_marker_certifies_sidecar_verdict(spark, docs, tmp_path):
    """First full decode stamps has_deletes into the _clustered marker;
    a False lets later decodes skip the sidecar scan entirely, and any
    append invalidates it via the file signature."""
    import json

    from wills_columnar_format_spark.engine import _clustered_marker_rec

    df, rows, victims = docs
    ck = str(tmp_path / "ck")
    write_checkpoint(encode_table(df, key_col="doc_id", num_partitions=4),
                     ck, schema=df.schema)
    assert decode_checkpoint(spark, ck, df.schema).count() == len(rows)
    rec = _clustered_marker_rec(ck)
    assert rec is not None and rec["has_deletes"] is False
    # append a delete -> marker stale -> re-verify -> True
    delete_keys_checkpoint(spark, ck, victims, "doc_id")
    assert _clustered_marker_rec(ck) is None
    assert decode_checkpoint(spark, ck, df.schema).count() == (
        len(rows) - len(victims))
    rec2 = _clustered_marker_rec(ck)
    assert rec2 is not None and rec2["has_deletes"] is True
    # and the deletes still apply on the marker-fresh second read
    assert decode_checkpoint(spark, ck, df.schema).count() == (
        len(rows) - len(victims))
