"""TOP-K pushdown (``topk_table``): ORDER BY ... LIMIT k over compressed
chunks, decoding only chunks the certified zone-map threshold (tau)
cannot exclude. Pins: exact equality with a full decode + sort on both
directions; the prune actually prunes on value-clustered layouts; every
degrade rule (legacy manifest, nullable, deletion-masked, floats without
histograms, k >= n) keeps the same exact answer; NaN rows never
rank; int64 values past 2^53 survive the float64 zone metadata (the
non-tau side of the synthesized range is open by design)."""

import math

import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark.engine import (
    _topk_threshold,
    _value_range_keys,
    checkpoint_history,
    delete_keys,
    delete_keys_checkpoint,
    encode_table,
    topk_checkpoint,
    topk_table,
    write_checkpoint,
)


def _exact_topk(df, col, k, descending=True, tie="id"):
    rows = [r for r in df.select(col, tie).collect()
            if r[col] is not None and not (
                isinstance(r[col], float) and math.isnan(r[col]))]
    rows.sort(key=lambda r: (r[col], r[tie]), reverse=False)
    if descending:
        rows.sort(key=lambda r: (-r[col], r[tie]))
    return [(r[col], r[tie]) for r in rows[:k]]


def _got_topk(m, schema, col, k, descending=True, tie="id"):
    out = topk_table(m, schema, col, k, descending=descending,
                     extra_order=(tie,))
    return [(r[col], r[tie]) for r in out.select(col, tie).collect()]


@pytest.fixture(scope="module")
def clustered(spark):
    # value rides monotone with the range-partitioned key: tight
    # per-chunk zones, the shape the prune is built for
    df = spark.createDataFrame(
        [(i, i * 3 + (i % 7), float((i * 13) % 2000) / 4.0)
         for i in range(2000)],
        "id long, v long, f double")
    m = encode_table(df, key_col="id", num_partitions=4, chunk_rows=128,
                     histograms=True).localCheckpoint(eager=True)
    return df, m


def test_desc_and_asc_exact(spark, clustered):
    df, m = clustered
    for col in ("v", "f"):
        for desc in (True, False):
            for k in (1, 10, 257):
                assert _got_topk(m, df.schema, col, k, desc) == \
                    _exact_topk(df, col, k, desc), (col, desc, k)


def test_prune_engages_on_clustered_layout(spark, clustered):
    df, m = clustered
    vr = _topk_threshold(m, "v", 25, descending=True, need_hist=False)
    assert vr is not None and vr[0] == "v" and vr[2] == float("inf")
    hit = _value_range_keys(m, vr).count()
    total = m.filter("column = 'v'").select("chunk_key").distinct().count()
    assert 0 < hit <= max(1, total // 4), (hit, total)
    # ascending prunes from the other end
    vr2 = _topk_threshold(m, "v", 25, descending=False, need_hist=False)
    assert vr2 is not None and vr2[1] == float("-inf")
    assert 0 < _value_range_keys(m, vr2).count() <= max(1, total // 4)


def test_float_requires_histograms(spark, clustered):
    df, m = clustered
    # histograms present -> certified
    assert _topk_threshold(m, "f", 10, True, need_hist=True) is not None
    m2 = encode_table(df, key_col="id", num_partitions=4,
                      chunk_rows=128).localCheckpoint(eager=True)
    # no histograms -> floats degrade, ints still certify
    assert _topk_threshold(m2, "f", 10, True, need_hist=True) is None
    assert _topk_threshold(m2, "v", 10, True, need_hist=False) is not None
    # and the degraded path is still exact
    assert _got_topk(m2, df.schema, "f", 15) == _exact_topk(df, "f", 15)


def test_nan_rows_never_rank(spark):
    df = spark.createDataFrame(
        [(i, float("nan") if i % 5 == 0 else float(i))
         for i in range(300)],
        "id long, f double")
    m = encode_table(df, key_col="id", num_partitions=2, chunk_rows=64,
                     histograms=True).localCheckpoint(eager=True)
    # NaN-bearing chunks carry no histogram -> not certified
    assert _topk_threshold(m, "f", 5, True, need_hist=True) is None
    got = _got_topk(m, df.schema, "f", 5)
    assert got == [(299.0, 299), (298.0, 298), (297.0, 297),
                   (296.0, 296), (294.0, 294)]  # 295 is NaN


def test_nullable_and_deleted_fall_back_exact(spark):
    df = spark.createDataFrame(
        [(i, None if i % 9 == 0 else i * 2) for i in range(400)],
        "id long, v long")
    m = encode_table(df, key_col="id", num_partitions=2, chunk_rows=64,
                     allow_nulls=True).localCheckpoint(eager=True)
    assert _topk_threshold(m, "v", 5, True, need_hist=False) is None
    assert _got_topk(m, df.schema, "v", 5) == _exact_topk(df, "v", 5)

    clean = df.filter(F.col("v").isNotNull())
    m2 = encode_table(clean, key_col="id", num_partitions=2,
                      chunk_rows=64).localCheckpoint(eager=True)
    deleted = delete_keys(m2, [398, 399], "id").localCheckpoint(eager=True)
    # deletion-masked chunks only drop out of the tau, so any tau must
    # still be sound for the live rows: <= the k-th largest live value
    vr = _topk_threshold(deleted, "v", 5, True, need_hist=False)
    live = sorted((r["v"] for r in clean.filter(
        ~F.col("id").isin(398, 399)).select("v").collect()), reverse=True)
    assert vr is None or vr[1] <= live[4]
    # ...and the unmasked chunks still certify one
    assert vr is not None
    want = _exact_topk(clean.filter(~F.col("id").isin(398, 399)), "v", 5)
    assert _got_topk(deleted, clean.schema, "v", 5) == want


def test_k_at_least_n_returns_everything_sorted(spark):
    df = spark.createDataFrame([(i, i) for i in range(50)],
                               "id long, v long")
    m = encode_table(df, key_col="id", num_partitions=1, chunk_rows=16)
    assert _topk_threshold(m, "v", 50, True, need_hist=False) is None
    assert _got_topk(m, df.schema, "v", 60) == _exact_topk(df, "v", 60)


def test_uncorrelated_layout_still_exact(spark):
    # value decorrelated from the key: zones admit everything, the
    # prune degrades to a full decode — same rows out
    df = spark.createDataFrame(
        [(i, (i * 7919) % 10_000) for i in range(3000)],
        "id long, v long")
    m = encode_table(df, key_col="id", num_partitions=4, chunk_rows=256,
                     partitioner="hash").localCheckpoint(eager=True)
    assert _got_topk(m, df.schema, "v", 20) == _exact_topk(df, "v", 20)


def test_int64_past_2_53_exact(spark):
    # zone metadata is float64; the open non-tau side must not clip
    # true maxima that double-round below themselves
    base = 1 << 62
    df = spark.createDataFrame(
        [(i, base + i * 4096 + (i % 3)) for i in range(1000)],
        "id long, v long")
    m = encode_table(df, key_col="id", num_partitions=2,
                     chunk_rows=128).localCheckpoint(eager=True)
    assert _got_topk(m, df.schema, "v", 7) == _exact_topk(df, "v", 7)
    assert _topk_threshold(m, "v", 7, True, need_hist=False) is not None


def test_checkpoint_exact_pruned_and_shuffle_free(spark, clustered,
                                                  tmp_path):
    df, m = clustered
    d = str(tmp_path / "ck")
    write_checkpoint(m, d, schema=df.schema)
    # sidecar-resolved schema (out_schema=None), both directions exact
    for desc in (True, False):
        out = topk_checkpoint(spark, d, "v", 30, descending=desc,
                              extra_order=("id",))
        got = [(r["v"], r["id"]) for r in out.select("v", "id").collect()]
        assert got == _exact_topk(df, "v", 30, desc)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "TakeOrderedAndProject" in plan
    # float path with histograms certifies through the checkpoint read
    out = topk_checkpoint(spark, d, "f", 12, extra_order=("id",))
    assert [(r["f"], r["id"]) for r in out.select("f", "id").collect()] \
        == _exact_topk(df, "f", 12)


def test_checkpoint_as_of_and_deletion_degrade(spark, clustered, tmp_path):
    df, m = clustered
    d = str(tmp_path / "ck2")
    write_checkpoint(m, d, schema=df.schema)
    top_id = max(range(2000), key=lambda i: (i * 3 + (i % 7), i))
    delete_keys_checkpoint(spark, d, [top_id], "id")
    # current snapshot: sidecars flip 'v' to degraded; masks still apply
    got = [(r["v"], r["id"]) for r in
           topk_checkpoint(spark, d, "v", 5, extra_order=("id",))
           .select("v", "id").collect()]
    want = _exact_topk(df.filter(F.col("id") != top_id), "v", 5)
    assert got == want
    # as_of the pre-delete commit: the deleted row ranks again
    seqs = [r["seq"] for r in checkpoint_history(spark, d).collect()]
    got0 = [(r["v"], r["id"]) for r in
            topk_checkpoint(spark, d, "v", 5, as_of=min(seqs),
                            extra_order=("id",)).select("v", "id").collect()]
    assert got0 == _exact_topk(df, "v", 5)
    assert got0 != got


def test_validation(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    m = encode_table(df, key_col="id", num_partitions=1)
    with pytest.raises(ValueError, match="k >= 1"):
        topk_table(m, df.schema, "id", 0)
    with pytest.raises(TypeError, match="int/float"):
        topk_table(m, df.schema, "s", 1)


# ---------------------------------------------------------------------------
# topk_table / topk_checkpoint with where=: the filtered leaderboard
# ---------------------------------------------------------------------------


def _exact_topk_where(df, cond, col, k, descending=True, tie="id"):
    rows = [r for r in df.filter(cond).select(col, tie).collect()
            if r[col] is not None and not (
                isinstance(r[col], float) and math.isnan(r[col]))]
    rows.sort(key=lambda r: (r[col], r[tie]))
    if descending:
        rows.sort(key=lambda r: (-r[col], r[tie]))
    return [(r[col], r[tie]) for r in rows[:k]]


@pytest.fixture(scope="module")
def sliced(spark):
    from pyspark.sql import functions as F  # noqa: F811

    df = spark.createDataFrame(
        [(i, ["en", "fr"][i % 2], i * 3 + (i % 7),
          float((i * 13) % 2000) / 4.0)
         for i in range(2000)],
        "id long, lang string, v long, f double")
    cl = df.repartitionByRange(4, "lang", "v").sortWithinPartitions(
        "lang", "v")
    m = encode_table(cl, key_col="id", partitioner="none", chunk_rows=128,
                     histograms=True).localCheckpoint(eager=True)
    return df, m


def test_topk_where_exact_all_shapes(spark, sliced):
    df, m = sliced
    cases = [
        (dict(where=("f", 50.0, 400.0)), F.col("f").between(50.0, 400.0),
         "v", True),
        (dict(where_in=("lang", ["en"])), F.col("lang") == "en", "v", True),
        (dict(where=("v", 600, 4000)), F.col("v").between(600, 4000),
         "f", False),
        (dict(where=[("v", 600, 4000)], where_in=("lang", ["fr"])),
         F.col("v").between(600, 4000) & (F.col("lang") == "fr"),
         "v", True),
    ]
    for kw, cond, col, desc in cases:
        got = [(r[col], r["id"]) for r in
               topk_table(m, df.schema, col, 25, descending=desc,
                          extra_order=("id",), **kw)
               .select(col, "id").collect()]
        assert got == _exact_topk_where(df, cond, col, 25, desc)


def test_topk_where_prunes_and_degrades(spark, sliced):
    from wills_columnar_format_spark.engine import _count_where_classify
    from pyspark.sql.pandas.types import to_arrow_schema

    df, m = sliced
    schema = to_arrow_schema(df.schema)
    # tau certifies on the clustered layout (the 'in' chunks carry it)
    cls = _count_where_classify(m, schema, [], [("lang", ["en"])])
    vr = _topk_threshold(m, "v", 25, True, need_hist=False, cls=cls)
    assert vr is not None and vr[1] > 0
    # nullable ranked column -> no tau, still exact
    df2 = spark.createDataFrame(
        [(i, "en", None if i % 9 == 0 else i) for i in range(600)],
        "id long, lang string, v long")
    m2 = encode_table(df2, key_col="id", num_partitions=2, chunk_rows=128,
                      allow_nulls=True).localCheckpoint(eager=True)
    got = [(r["v"], r["id"]) for r in
           topk_table(m2, df2.schema, "v", 10,
                      where_in=("lang", ["en"]), extra_order=("id",))
           .select("v", "id").collect()]
    assert got == _exact_topk_where(df2, F.col("lang") == "en", "v", 10)


def test_topk_where_empty_and_validation(spark, sliced):
    df, m = sliced
    assert topk_table(m, df.schema, "v", 5,
                      where=("v", 10, 5)).collect() == []
    assert topk_table(m, df.schema, "v", 5,
                      where=("v", 10**8, 10**9)).collect() == []
    with pytest.raises(ValueError):
        topk_table(m, df.schema, "v", 5, where=[])
    with pytest.raises(TypeError):
        topk_table(m, df.schema, "lang", 5, where=("v", 0, 1))


def test_topk_where_checkpoint_exact(spark, sliced, tmp_path):
    from wills_columnar_format_spark.engine import (
        delete_keys_checkpoint, write_checkpoint)

    df, m = sliced
    d = str(tmp_path / "twc")
    write_checkpoint(m, d, schema=df.schema)
    got = [(r["v"], r["id"]) for r in
           topk_checkpoint(spark, d, "v", 25,
                           where_in=("lang", ["en"]),
                           extra_order=("id",))
           .select("v", "id").collect()]
    assert got == _exact_topk_where(df, F.col("lang") == "en", "v", 25)
    # ascending + range predicate on the float column
    got = [(r["f"], r["id"]) for r in
           topk_checkpoint(spark, d, "f", 25,
                           where=("v", 600, 4000),
                           descending=False, extra_order=("id",))
           .select("f", "id").collect()]
    assert got == _exact_topk_where(df, F.col("v").between(600, 4000),
                                    "f", 25, descending=False)
    # deletes apply; as_of=0 restores the pre-delete leaderboard
    delete_keys_checkpoint(spark, d, list(range(100, 200)), key_col="id")
    live = df.filter(~F.col("id").between(100, 199))
    got = [(r["v"], r["id"]) for r in
           topk_checkpoint(spark, d, "v", 25,
                           where_in=("lang", ["fr"]),
                           extra_order=("id",))
           .select("v", "id").collect()]
    assert got == _exact_topk_where(live, F.col("lang") == "fr", "v", 25)
    got0 = [(r["v"], r["id"]) for r in
            topk_checkpoint(spark, d, "v", 25,
                            where_in=("lang", ["fr"]),
                            extra_order=("id",), as_of=0)
            .select("v", "id").collect()]
    assert got0 == _exact_topk_where(df, F.col("lang") == "fr", "v", 25)


def test_topk_where_checkpoint_over_cap(spark, sliced, tmp_path,
                                        monkeypatch):
    from wills_columnar_format_spark import engine
    from wills_columnar_format_spark.engine import write_checkpoint

    df, m = sliced
    d = str(tmp_path / "twc_cap")
    write_checkpoint(m, d, schema=df.schema)
    monkeypatch.setattr(engine, "VALUE_PRUNE_MAX_KEYS", 1)
    got = [(r["v"], r["id"]) for r in
           topk_checkpoint(spark, d, "v", 10,
                           where_in=("lang", ["en"]),
                           extra_order=("id",))
           .select("v", "id").collect()]
    assert got == _exact_topk_where(df, F.col("lang") == "en", "v", 10)
