"""The one chunk-prune plan behind ``decode_table`` and
``decode_checkpoint``.

Pins: both decode paths return exactly the rows of a plain Spark filter
for every pruning predicate, at the default hit-key cap and past it
(``VALUE_PRUNE_MAX_KEYS`` and ``BLOOM_PRUNE_MAX_KEYS`` monkeypatched to
1: a checkpoint value pass then keeps whole files, a manifest pass and
the key-Bloom pass prune nothing); on a
``value_blooms=True`` hash-layout checkpoint ``value_in=``/``contains=``
take the value-Bloom pass and read fewer chunks than the zone maps keep.
"""

import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark import engine
from wills_columnar_format_spark.engine import (
    decode_checkpoint,
    decode_table,
    encode_table,
    write_checkpoint,
)

N = 2000


@pytest.fixture(scope="module")
def docs(spark):
    # `word` is high-cardinality and spread over every chunk by the
    # hash layout, so its zone maps keep nearly everything and only the
    # value Blooms can prune it
    return spark.createDataFrame(
        [(i, f"lang{i % 5}", f"w{(i * 7919) % N:05d}", (i * 37) % 1000,
          [f"t{i % 97}", f"t{(i * 13) % 401}"])
         for i in range(N)],
        "doc_id long, lang string, word string, n long, toks array<string>",
    )


@pytest.fixture(scope="module")
def ckpt(docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prune") / "ck")
    m = encode_table(docs, key_col="doc_id", num_partitions=4,
                     partitioner="hash", chunk_rows=50, value_blooms=True)
    write_checkpoint(m, d, schema=docs.schema)
    return d


# predicate -> (decode kwargs, the plain Spark SQL filter it must equal)
PREDICATES = {
    "value_range": (
        dict(value_range=[("n", 100, 400), ("lang", "lang1", "lang3")]),
        "n BETWEEN 100 AND 400 AND lang BETWEEN 'lang1' AND 'lang3'",
    ),
    "value_in": (
        dict(value_in=("word", ["w00007", "w01234", "w01999"])),
        "word IN ('w00007', 'w01234', 'w01999')",
    ),
    "contains": (
        dict(contains=("toks", ["t5", "t400"])),
        "array_contains(toks, 't5') OR array_contains(toks, 't400')",
    ),
    "keys": (
        dict(keys=[3, 77, 1500, 1999, 5000], key_col="doc_id"),
        "doc_id IN (3, 77, 1500, 1999, 5000)",
    ),
    "combined": (
        dict(keys=list(range(0, N, 3)), key_col="doc_id",
             value_range=("n", 0, 700), value_in=("lang", ["lang1", "lang2"]),
             contains=("toks", ["t1", "t2", "t3"])),
        "doc_id % 3 = 0 AND n BETWEEN 0 AND 700 AND lang IN ('lang1', "
        "'lang2') AND arrays_overlap(toks, array('t1', 't2', 't3'))",
    ),
}


def _rows(df):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda r: r["doc_id"])


@pytest.mark.parametrize("cap", ["default", "one"])
@pytest.mark.parametrize("path", ["decode_table", "decode_checkpoint"])
@pytest.mark.parametrize("pred", sorted(PREDICATES))
def test_prune_paths_equal_plain_filter(spark, docs, ckpt, monkeypatch,
                                        pred, path, cap):
    if cap == "one":
        monkeypatch.setattr(engine, "VALUE_PRUNE_MAX_KEYS", 1)
        monkeypatch.setattr(engine, "BLOOM_PRUNE_MAX_KEYS", 1)
    kwargs, want = PREDICATES[pred]
    if path == "decode_table":
        got = decode_table(spark.read.parquet(ckpt), docs.schema, **kwargs)
    else:
        got = decode_checkpoint(spark, ckpt, docs.schema, **kwargs)
    expected = _rows(docs.filter(want))
    assert expected, "predicate selects no rows — the test proves nothing"
    assert _rows(got) == expected


@pytest.mark.parametrize("kwargs,want,sub", [
    (dict(value_in=("word", ["w00042", "w01717"])),
     "word IN ('w00042', 'w01717')", "word"),
    (dict(contains=("toks", ["t400"])), "array_contains(toks, 't400')",
     "toks#values"),
])
def test_checkpoint_value_bloom_prunes(spark, docs, ckpt, monkeypatch,
                                       kwargs, want, sub):
    seen = []
    real = engine._contains_hit_keys

    def spy(manifest_df, *args, **kw):
        hits = real(manifest_df, *args, **kw)
        seen.append(("val_bloom" in manifest_df.columns, hits.count()))
        return hits

    monkeypatch.setattr(engine, "_contains_hit_keys", spy)
    got = decode_checkpoint(spark, ckpt, docs.schema, **kwargs)
    assert _rows(got) == _rows(docs.filter(want))
    assert len(seen) == 1 and seen[0][0], \
        "the checkpoint decode never ran a Bloom pass over val_bloom"
    n_chunks = (spark.read.parquet(ckpt)
                .filter(F.col("column") == sub).count())
    # zone maps keep (nearly) every chunk of the hash layout; the Bloom
    # pass keeps only the few chunks that can hold the values
    assert seen[0][1] < n_chunks // 4
