"""Predicate-filtered grouped pushdowns (``group_sums`` /
``group_stats`` with ``where=``): the sliced-rollup OLAP shape. A chunk answers
from metadata only when it is group-pure AND the count_where
classifier proves every row inside every range; 'out' chunks vanish;
the rest decode with the exact filter. Pins: equality with a plain
filtered groupBy in every configuration; the metadata side genuinely
engages (blob-NULLED proof on a (group, predicate)-clustered layout);
nullable values, deletion masks, NaN floats, and unsatisfiable ranges
stay exact."""

import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark.engine import (
    delete_keys,
    encode_table,
    group_stats,
    group_sums,
)


@pytest.fixture(scope="module")
def clustered(spark):
    df = spark.createDataFrame(
        [(i, f"src{i % 4}", i * 3 + (i % 7), float((i * 13) % 2000) / 4.0)
         for i in range(2000)],
        "id long, source string, v long, f double")
    cl = (df.repartitionByRange(4, "source", "v")
          .sortWithinPartitions("source", "v"))
    m = encode_table(cl, key_col="id", partitioner="none", chunk_rows=128,
                     histograms=True).localCheckpoint(eager=True)
    return df, m


def _exp_sums(df, cond, g, v):
    rows = (df.filter(cond).groupBy(g)
            .agg(F.sum(v), F.count(F.lit(1)), F.count(v)).collect())
    return sorted((r[0], int(r[1]), r[2], r[3]) for r in rows)


def _got_sums(m, schema, g, v, where):
    rows = group_sums(m, schema, g, v, where).collect()
    return sorted((r[g], int(r["v_sum"]), r["n_rows"], r["n_nonnull"])
                  for r in rows)


def test_sums_exact(spark, clustered):
    df, m = clustered
    cases = [("v", 1000, 4000), ("f", 50.0, 400.0), ("v", -10**6, 10**9)]
    for spec in cases:
        cond = F.col(spec[0]).between(spec[1], spec[2])
        assert (_got_sums(m, df.schema, "source", "v", spec)
                == _exp_sums(df, cond, "source", "v"))
    specs = [("v", 500, 5000), ("f", 10.0, 450.0)]
    cond = (F.col("v").between(500, 5000) & F.col("f").between(10.0, 450.0))
    assert (_got_sums(m, df.schema, "source", "v", specs)
            == _exp_sums(df, cond, "source", "v"))


def test_stats_exact(spark, clustered):
    df, m = clustered
    got = group_stats(m, df.schema, "source", "v",
                      ("f", 50.0, 400.0)).collect()
    got = sorted((r["source"], r["v_min"], r["v_max"], r["n_rows"])
                 for r in got)
    exp = (df.filter(F.col("f").between(50.0, 400.0)).groupBy("source")
           .agg(F.min("v"), F.max("v"), F.count(F.lit(1))).collect())
    exp = sorted((r[0], float(r[1]), float(r[2]), r[3]) for r in exp)
    assert got == exp


def test_metadata_engages_blobless(spark, clustered):
    from pyspark.sql.pandas.types import to_arrow_schema

    from wills_columnar_format_spark.engine import (
        _grouped_split, _where_parse)

    df, m = clustered
    # the sharpest proof: NULL the blobs of exactly the chunks the
    # hybrid certifies from metadata — the answer must not change
    # (certified chunks never read their bytes), and certification
    # must actually engage on this (group, predicate)-clustered layout
    spec = ("v", 1000, 4000)
    schema = to_arrow_schema(df.schema)
    pure_in, _, _ = _grouped_split(
        m, schema, "source", "v",
        value_cond=F.col("val_sum").isNotNull(),
        value_cols=["val_sum", "n_values"], nullable_value_ok=True,
        where=_where_parse(schema, spec, None, "group_sums"))
    certified = [r["chunk_key"] for r in
                 pure_in.select("chunk_key").collect()]
    assert len(certified) > 0
    blobless = m.withColumn(
        "blob",
        F.when(F.col("chunk_key").isin(certified),
               F.lit(None).cast("binary")).otherwise(F.col("blob"))
    ).localCheckpoint(eager=True)
    cond = F.col("v").between(1000, 4000)
    assert (_got_sums(blobless, df.schema, "source", "v", spec)
            == _exp_sums(df, cond, "source", "v"))


def test_empty_and_out_predicates(spark, clustered):
    df, m = clustered
    assert group_sums(m, df.schema, "source", "v",
                      ("v", 10, 5)).collect() == []
    assert group_sums(m, df.schema, "source", "v",
                      ("v", 10**8, 10**9)).collect() == []
    assert group_stats(m, df.schema, "source", "v",
                       ("v", 10, 5)).collect() == []


def test_deletion_mask_exact(spark, clustered):
    df, m = clustered
    m2 = delete_keys(m, list(range(500, 520)),
                     key_col="id").localCheckpoint(eager=True)
    live = df.filter(~F.col("id").between(500, 519))
    cond = F.col("v").between(1000, 4000)
    assert (_got_sums(m2, df.schema, "source", "v", ("v", 1000, 4000))
            == _exp_sums(live, cond, "source", "v"))


def test_nullable_value_and_nan(spark):
    rows = [(i, f"s{i % 3}",
             None if i % 5 == 0 else i * 2,
             float("nan") if i % 7 == 0 else float(i))
            for i in range(900)]
    df = spark.createDataFrame(rows, "id long, g string, v long, f double")
    m = encode_table(df, key_col="id", num_partitions=2, chunk_rows=128,
                     allow_nulls=True).localCheckpoint(eager=True)
    cond = F.col("f").between(100.0, 700.0)
    assert (_got_sums(m, df.schema, "g", "v", ("f", 100.0, 700.0))
            == _exp_sums(df, cond, "g", "v"))
    got = group_stats(m, df.schema, "g", "f",
                      ("id", 100, 800)).collect()
    got = sorted((r["g"], r["v_min"], r["v_max"], r["n_rows"])
                 for r in got)
    exp = (df.filter(F.col("id").between(100, 800)).groupBy("g")
           .agg(F.min(F.when(~F.isnan("f"), F.col("f"))),
                F.max(F.when(~F.isnan("f"), F.col("f"))),
                F.count(F.lit(1))).collect())
    exp = sorted((r[0], r[1], r[2], r[3]) for r in exp)
    assert got == exp


def test_type_validation(spark, clustered):
    df, m = clustered
    with pytest.raises(TypeError):
        group_sums(m, df.schema, "source", "f", ("v", 0, 1))
    with pytest.raises(TypeError):
        group_sums(m, df.schema, "source", "v", ("source", "a", "z"))
