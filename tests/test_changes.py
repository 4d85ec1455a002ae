"""Change data feed (``read_changes``) over the checkpoint commit log.

Pins: inserts attribute to their commit with full payload; deletes
emit one key-only row per NEWLY-dead key (re-deleting an already-dead
key emits nothing — the per-commit snapshot diff, Delta-CDF
semantics); an upsert is delete + insert of the same key; a replace
commit in the range raises; key_col is only demanded when the range
actually deletes.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark.engine import (
    decode_checkpoint,
    delete_keys_checkpoint,
    encode_table,
    optimize_checkpoint,
    read_changes,
    upsert_checkpoint,
    write_checkpoint,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"src{i % 5}", f"text {i}", i % 97) for i in range(400)],
        "doc_id long, source string, text string, n_chars long",
    )


@pytest.fixture(scope="module")
def pristine_ckpt(spark, docs, tmp_path_factory):
    """create(0) -> delete %10==3 (1) -> upsert %10==4 (2) ->
    append 400..499 (3) -> re-delete {3,13,5} (4: only 5 newly dead).
    Built once per module; tests get private copies (``ckpt``)."""
    path = str(tmp_path_factory.mktemp("changes") / "m")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=4,
                     chunk_rows=64),
        path, schema=docs.schema)
    delete_keys_checkpoint(
        spark, path, [i for i in range(400) if i % 10 == 3], "doc_id")
    batch = docs.filter(F.col("doc_id") % 10 == 4).withColumn(
        "n_chars", F.lit(-1))
    upsert_checkpoint(spark, path, batch, "doc_id", num_partitions=2)
    extra = docs.withColumn("doc_id", F.col("doc_id") + 400).filter(
        F.col("doc_id") < 500)
    write_checkpoint(
        encode_table(extra, key_col="doc_id", num_partitions=2),
        path, mode="append")
    delete_keys_checkpoint(spark, path, [3, 13, 5], "doc_id")
    return path


@pytest.fixture()
def ckpt(pristine_ckpt, tmp_path):
    """A private copy of ``pristine_ckpt``: tests append, mutate, and
    leave decode markers in it."""
    path = str(tmp_path / "m")
    shutil.copytree(pristine_ckpt, path)
    return path


def test_full_feed(spark, docs, ckpt):
    feed = read_changes(spark, ckpt, since=0, key_col="doc_id").cache()

    d1 = feed.filter("_commit_seq = 1")
    assert d1.count() == 40
    assert set(r["_change_type"] for r in d1.collect()) == {"delete"}
    assert sorted(r["doc_id"] for r in d1.collect()) == \
        [i for i in range(400) if i % 10 == 3]
    # delete rows carry NULL payload
    assert d1.filter(F.col("source").isNotNull()).count() == 0

    d2 = feed.filter("_commit_seq = 2").cache()
    ins = d2.filter("_change_type = 'insert'")
    dels = d2.filter("_change_type = 'delete'")
    assert ins.count() == 40 and dels.count() == 40
    assert ins.filter(F.col("n_chars") == -1).count() == 40
    assert sorted(r["doc_id"] for r in dels.collect()) == \
        sorted(r["doc_id"] for r in ins.collect())

    d3 = feed.filter("_commit_seq = 3")
    assert d3.count() == 100
    assert set(r["_change_type"] for r in d3.collect()) == {"insert"}
    assert d3.agg(F.min("doc_id"), F.max("doc_id")).first() == (400, 499)

    # re-delete of already-dead 3 and 13 emits NOTHING; only 5 is new
    d4 = feed.filter("_commit_seq = 4")
    assert [(r["_change_type"], r["doc_id"]) for r in d4.collect()] == \
        [("delete", 5)]
    feed.unpersist()


def test_feed_window_and_replay(spark, docs, ckpt):
    # consumer synced at 2: sees only the append and the tail delete
    tail = read_changes(spark, ckpt, since=2, key_col="doc_id")
    assert tail.filter("_change_type = 'insert'").count() == 100
    assert [r["doc_id"] for r in
            tail.filter("_change_type = 'delete'").collect()] == [5]
    # applying the full feed to snapshot 0 reproduces the live table
    live = decode_checkpoint(spark, ckpt)
    base = decode_checkpoint(spark, ckpt, as_of=0)
    feed = read_changes(spark, ckpt, since=0, key_col="doc_id")
    cols = [f for f in base.columns]
    # last change per key wins (seq order; delete removes, insert adds)
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("_commit_seq").desc())
    last = (feed.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn"))
    untouched = base.join(last.select("doc_id"), "doc_id", "left_anti")
    replayed = untouched.unionByName(
        last.filter("_change_type = 'insert'").select(*cols))
    assert replayed.count() == live.count()
    assert replayed.exceptAll(live).count() == 0


def test_feed_empty_window(spark, docs, ckpt):
    feed = read_changes(spark, ckpt, since=4, key_col="doc_id")
    assert feed.count() == 0
    assert "_change_type" in feed.columns


def test_feed_demands_key_col_only_when_deleting(spark, docs, ckpt):
    # insert-only window: fine without key_col
    assert read_changes(spark, ckpt, since=2, until=3).count() == 100
    with pytest.raises(ValueError, match="key_col"):
        read_changes(spark, ckpt, since=0, until=1).count()


def test_feed_refuses_replace(spark, docs, ckpt):
    optimize_checkpoint(spark, ckpt, key_col="doc_id", rechunk_rows=256)
    with pytest.raises(ValueError, match="replace"):
        read_changes(spark, ckpt, since=0, key_col="doc_id")
    # post-replace changes remain readable
    delete_keys_checkpoint(spark, ckpt, [7], "doc_id")
    feed = read_changes(spark, ckpt, since=5, key_col="doc_id")
    assert [(r["_change_type"], r["doc_id"]) for r in feed.collect()] == \
        [("delete", 7)]


def test_feed_bad_seqs(spark, docs, ckpt):
    with pytest.raises(ValueError, match="not a commit"):
        read_changes(spark, ckpt, since=99)
    with pytest.raises(ValueError, match="not a commit"):
        read_changes(spark, ckpt, since=0, until=99)


def test_feed_unlogged_refused(spark, docs, tmp_path):
    path = str(tmp_path / "u")
    encode_table(docs, key_col="doc_id",
                 num_partitions=2).write.parquet(path)
    with pytest.raises(ValueError, match="_commits"):
        read_changes(spark, path, since=0, out_schema=docs.schema)


# ---------------------------------------------------------------------------
# apply_changes: the CDF consumer
# ---------------------------------------------------------------------------


from wills_columnar_format_spark.engine import apply_changes  # noqa: E402


def _fresh_copy(spark, docs, path):
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=3,
                     chunk_rows=128),
        path, schema=docs.schema)
    return path


def test_apply_changes_syncs_downstream(spark, docs, ckpt, tmp_path):
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    feed = read_changes(spark, ckpt, since=0, key_col="doc_id")
    stats = apply_changes(spark, dst, feed, "doc_id", num_partitions=2)
    live = decode_checkpoint(spark, ckpt)
    synced = decode_checkpoint(spark, dst)
    assert synced.count() == live.count()
    assert synced.exceptAll(live).count() == 0
    # net actions are disjoint: upserted keys never in the delete set
    assert stats["upserted"] > 0 and stats["deleted"] > 0

    # the destination logged its own commits: it is itself feedable
    tail = read_changes(spark, dst, since=0, key_col="doc_id")
    assert tail.count() > 0


def test_apply_changes_net_effect_delete_then_reinsert(spark, docs,
                                                       tmp_path):
    src = str(tmp_path / "src")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2,
                     chunk_rows=64),
        src, schema=docs.schema)
    delete_keys_checkpoint(spark, src, [1, 2, 3], "doc_id")
    upsert_checkpoint(
        spark, src,
        docs.filter(F.col("doc_id").isin([2, 3])).withColumn(
            "n_chars", F.lit(-5)),
        "doc_id", num_partitions=1)
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    feed = read_changes(spark, src, since=0, key_col="doc_id")
    stats = apply_changes(spark, dst, feed, "doc_id", num_partitions=1)
    # key 1: net delete; keys 2,3: delete@1 then reinsert@2 -> net insert
    assert stats == {"deleted": 1, "upserted": 2,
                     "delete_gen": stats["delete_gen"],
                     "upsert_gen": stats["upsert_gen"]}
    synced = decode_checkpoint(spark, dst)
    assert synced.filter("doc_id = 1").count() == 0
    got = {r["doc_id"]: r["n_chars"]
           for r in synced.filter("doc_id IN (2, 3)").collect()}
    assert got == {2: -5, 3: -5}
    live = decode_checkpoint(spark, src)
    assert synced.exceptAll(live).count() == 0
    assert live.exceptAll(synced).count() == 0


def test_apply_changes_empty_window_is_noop(spark, docs, ckpt, tmp_path):
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    feed = read_changes(spark, ckpt, since=4, key_col="doc_id")
    stats = apply_changes(spark, dst, feed, "doc_id")
    assert stats["deleted"] == 0 and stats["upserted"] == 0
    assert decode_checkpoint(spark, dst).count() == docs.count()


def test_apply_changes_reapply_is_idempotent(spark, docs, ckpt, tmp_path):
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    feed = read_changes(spark, ckpt, since=0, key_col="doc_id")
    apply_changes(spark, dst, feed, "doc_id", num_partitions=2)
    once = decode_checkpoint(spark, dst).localCheckpoint(eager=True)
    feed2 = read_changes(spark, ckpt, since=0, key_col="doc_id")
    apply_changes(spark, dst, feed2, "doc_id", num_partitions=2)
    twice = decode_checkpoint(spark, dst)
    assert twice.count() == once.count()
    assert twice.exceptAll(once).count() == 0


def test_apply_changes_filtered_feed(spark, docs, ckpt, tmp_path):
    # a derived table keeping only src0/src1 applies the SAME feed
    # filtered to its slice
    sub = docs.filter(F.col("source").isin(["src0", "src1"]))
    dst = _fresh_copy(spark, sub, str(tmp_path / "dst"))
    feed = read_changes(spark, ckpt, since=0, key_col="doc_id")
    # deletes carry NULL source: keep them all (key-only), restrict
    # inserts to the slice
    feed = feed.filter(
        (F.col("_change_type") == "delete")
        | F.col("source").isin(["src0", "src1"]))
    apply_changes(spark, dst, feed, "doc_id", num_partitions=1)
    synced = decode_checkpoint(spark, dst)
    live = decode_checkpoint(spark, ckpt).filter(
        F.col("source").isin(["src0", "src1"]))
    assert synced.count() == live.count()
    assert synced.exceptAll(live).count() == 0


def test_apply_changes_demands_feed_columns(spark, docs, tmp_path):
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="_change_type"):
        apply_changes(spark, dst, docs, "doc_id")


# ---------------------------------------------------------------------------
# sync_checkpoint: cursor-tracked incremental sync
# ---------------------------------------------------------------------------


from wills_columnar_format_spark.engine import (  # noqa: E402
    read_sync_state,
    sync_checkpoint,
)


def test_sync_checkpoint_tracks_cursor(spark, docs, tmp_path):
    src = str(tmp_path / "src")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2,
                     chunk_rows=128),
        src, schema=docs.schema)
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))

    # nothing to sync yet: bootstrap writes no cursor, reports no-op
    s0 = sync_checkpoint(spark, src, dst, "doc_id", since=0)
    assert s0["synced"] is False and read_sync_state(dst) is None

    delete_keys_checkpoint(
        spark, src, [i for i in range(400) if i % 10 == 3], "doc_id")
    s1 = sync_checkpoint(spark, src, dst, "doc_id", since=0,
                         num_partitions=1)
    assert s1["synced"] and (s1["since"], s1["until"]) == (0, 1)
    assert s1["deleted"] == 40
    assert read_sync_state(dst) == {"src": src, "seq": 1}

    upsert_checkpoint(
        spark, src,
        docs.filter(F.col("doc_id") % 10 == 4).withColumn(
            "n_chars", F.lit(-1)),
        "doc_id", num_partitions=1)
    # second run: cursor read from the destination, no since= needed
    s2 = sync_checkpoint(spark, src, dst, "doc_id", num_partitions=1)
    assert s2["synced"] and (s2["since"], s2["until"]) == (1, 2)
    assert s2["upserted"] == 40 and s2["deleted"] == 0
    assert read_sync_state(dst) == {"src": src, "seq": 2}

    live = decode_checkpoint(spark, src)
    synced = decode_checkpoint(spark, dst)
    assert synced.count() == live.count()
    assert synced.exceptAll(live).count() == 0

    # already up to date -> no-op, cursor unchanged
    s3 = sync_checkpoint(spark, src, dst, "doc_id")
    assert s3["synced"] is False and read_sync_state(dst)["seq"] == 2


def test_sync_checkpoint_guards(spark, docs, tmp_path):
    src = str(tmp_path / "src")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2),
        src, schema=docs.schema)
    dst = _fresh_copy(spark, docs, str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="no sync cursor"):
        sync_checkpoint(spark, src, dst, "doc_id")
    delete_keys_checkpoint(spark, src, [1], "doc_id")
    sync_checkpoint(spark, src, dst, "doc_id", since=0, num_partitions=1)
    # conflicting explicit since on an initialized destination
    with pytest.raises(ValueError, match="conflicts with the stored"):
        sync_checkpoint(spark, src, dst, "doc_id", since=0)
    # one destination syncs one source
    other = str(tmp_path / "other")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=1),
        other, schema=docs.schema)
    delete_keys_checkpoint(spark, other, [2], "doc_id")
    with pytest.raises(ValueError, match="tracks source"):
        sync_checkpoint(spark, other, dst, "doc_id")
    # unlogged source refused
    plain = str(tmp_path / "plain")
    encode_table(docs, key_col="doc_id",
                 num_partitions=1).write.parquet(plain)
    fresh = _fresh_copy(spark, docs, str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match="_commits"):
        sync_checkpoint(spark, plain, fresh, "doc_id", since=0)


def test_feed_spans_replace_when_mutations_follow(spark, docs, tmp_path):
    """An optimize (replace) contributes zero logical changes; a window
    whose mutations all come AFTER it reads fine, skipping the
    replace."""
    src = str(tmp_path / "r")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2,
                     chunk_rows=64),
        src, schema=docs.schema)
    optimize_checkpoint(spark, src, key_col="doc_id", rechunk_rows=256)
    delete_keys_checkpoint(spark, src, [7], "doc_id")
    # window (0, 1] = only the replace: empty feed, schema intact
    only_rep = read_changes(spark, src, since=0, until=1,
                            key_col="doc_id")
    assert only_rep.count() == 0 and "_change_type" in only_rep.columns
    # window (0, 2] = replace then delete: just the delete
    feed = read_changes(spark, src, since=0, key_col="doc_id")
    assert [(r["_change_type"], r["doc_id"], r["_commit_seq"])
            for r in feed.collect()] == [("delete", 7, 2)]


def test_feed_replay_randomized_mutation_sequence(spark, docs, tmp_path):
    """Randomized end-to-end pin: a random sequence of deletes /
    upserts / appends, then for EVERY starting commit S the feed
    (S, head] applied to the S snapshot reproduces the live table."""
    import random

    rng = random.Random(0xC0FFEE)
    src = str(tmp_path / "rnd")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=3,
                     chunk_rows=64),
        src, schema=docs.schema)
    alive = set(range(400))
    next_new = 1000
    for _ in range(5):
        op = rng.choice(["delete", "upsert", "append"])
        if op == "delete" and alive:
            victims = rng.sample(sorted(alive), min(25, len(alive)))
            delete_keys_checkpoint(spark, src, victims, "doc_id")
            alive -= set(victims)
        elif op == "upsert" and alive:
            targets = rng.sample(sorted(alive), min(20, len(alive)))
            batch = docs.limit(0).unionByName(spark.createDataFrame(
                [(k, f"src{k % 5}", f"mut {k}", -k) for k in targets],
                docs.schema))
            upsert_checkpoint(spark, src, batch, "doc_id",
                              num_partitions=1)
        else:
            fresh = list(range(next_new, next_new + 30))
            next_new += 30
            batch = spark.createDataFrame(
                [(k, f"src{k % 5}", f"new {k}", k) for k in fresh],
                docs.schema)
            write_checkpoint(
                encode_table(batch, key_col="doc_id", num_partitions=1),
                src, mode="append")
            alive |= set(fresh)

    from wills_columnar_format_spark.engine import read_commit_log
    head = read_commit_log(src)[-1]["seq"]
    live = decode_checkpoint(spark, src).localCheckpoint(eager=True)
    assert {r["doc_id"] for r in live.select("doc_id").collect()} == alive

    from pyspark.sql import Window
    for start in range(head + 1):
        snap = decode_checkpoint(spark, src, as_of=start)
        feed = read_changes(spark, src, since=start, key_col="doc_id")
        w = Window.partitionBy("doc_id").orderBy(
            F.col("_commit_seq").desc(),
            F.when(F.col("_change_type") == "insert", 1)
             .otherwise(0).desc())
        last = (feed.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").drop("_rn"))
        untouched = snap.join(last.select("doc_id"), "doc_id",
                              "left_anti")
        replayed = untouched.unionByName(
            last.filter("_change_type = 'insert'")
                .select(*snap.columns))
        assert replayed.count() == live.count(), f"since={start}"
        assert replayed.exceptAll(live).count() == 0, f"since={start}"


def test_masked_create_feed(spark, docs, tmp_path):
    """A checkpoint whose FIRST commit carries deletion-vector sidecars
    (write_checkpoint of a delete_keys result): the insert set must be
    the rows alive UNDER the masks, no delete rows, no crash on the
    missing previous commit (review finding, round 4)."""
    from wills_columnar_format_spark.engine import delete_keys

    path = str(tmp_path / "mc")
    masked = delete_keys(
        encode_table(docs, key_col="doc_id", num_partitions=2,
                     chunk_rows=64),
        [i for i in range(400) if i % 7 == 0], "doc_id")
    write_checkpoint(masked, path, schema=docs.schema)
    feed = read_changes(spark, path, since=-1, key_col="doc_id")
    assert feed.filter(F.col("_change_type") == "delete").count() == 0
    ins = feed.filter(F.col("_change_type") == "insert")
    expected = docs.filter(F.col("doc_id") % 7 != 0)
    assert ins.count() == expected.count()
    assert ins.select("doc_id").subtract(
        expected.select("doc_id")).count() == 0


def test_masked_append_feed(spark, docs, tmp_path):
    """An APPEND commit whose files carry their own mask sidecars emits
    only the alive rows as inserts and no deletes (the masks never
    touch earlier commits' chunks)."""
    from wills_columnar_format_spark.engine import delete_keys

    path = str(tmp_path / "ma")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2,
                     chunk_rows=64),
        path, schema=docs.schema)
    extra = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    masked = delete_keys(
        encode_table(extra, key_col="doc_id", num_partitions=2,
                     chunk_rows=64),
        [1000, 1001, 1002], "doc_id")
    write_checkpoint(masked, path, mode="append")
    feed = read_changes(spark, path, since=0, key_col="doc_id")
    assert feed.filter(F.col("_change_type") == "delete").count() == 0
    ins = feed.filter(F.col("_change_type") == "insert")
    assert ins.count() == 397
    assert ins.filter(F.col("doc_id").isin([1000, 1001, 1002])).count() == 0
    # live decode agrees with the feed
    assert decode_checkpoint(spark, path).count() == 797


def test_sync_refuses_duplicate_key_source(spark, docs, tmp_path):
    """A source whose appends legitimately carry the SAME key twice is
    not representable by keyed apply (the net-per-key collapse would
    silently drop a row): sync_checkpoint's strict apply must raise
    instead (review finding, round 4). A delete + re-insert of a key
    (a replace) must NOT trip the check."""
    from wills_columnar_format_spark.engine import sync_checkpoint

    src = str(tmp_path / "dupsrc")
    dst = str(tmp_path / "dupdst")
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2),
        src, schema=docs.schema)
    write_checkpoint(
        encode_table(docs, key_col="doc_id", num_partitions=2),
        dst, schema=docs.schema)
    # a legal replace first: delete key 7, re-insert it later
    delete_keys_checkpoint(spark, src, [7], "doc_id")
    write_checkpoint(
        encode_table(docs.filter(F.col("doc_id") == 7),
                     key_col="doc_id", num_partitions=1),
        src, mode="append")
    out = sync_checkpoint(spark, src, dst, "doc_id", since=0,
                          num_partitions=1)
    assert out["synced"] and out["upserted"] == 1
    # now a genuine duplicate inside one sync window: key 8 appended
    # twice with no delete between (two rows for one key — a keyed
    # apply cannot represent that; the un-strict collapse would
    # silently drop one)
    for _ in range(2):
        write_checkpoint(
            encode_table(docs.filter(F.col("doc_id") == 8),
                         key_col="doc_id", num_partitions=1),
            src, mode="append")
    with pytest.raises(ValueError, match="duplicate keys"):
        sync_checkpoint(spark, src, dst, "doc_id", num_partitions=1)


def test_compact_seed_commit_emits_inserts(spark, docs, ckpt, tmp_path):
    """A compact-seeded checkpoint's seq-0 'compact' commit IS the
    snapshot's insert set: since=-1 must emit every live row (it used
    to silently emit nothing — review finding, round 4). Both compact
    branches: metadata-only (mask sidecars carried, applied via the
    own-chunk decode) and re-encoding (masks materialized)."""
    from wills_columnar_format_spark.engine import compact_checkpoint

    live = decode_checkpoint(spark, ckpt)  # post-fixture mutations

    meta = str(tmp_path / "meta_compact")
    compact_checkpoint(spark, ckpt, meta, num_files=2)
    feed = read_changes(spark, meta, since=-1, key_col="doc_id")
    assert set(r["_change_type"] for r in
               feed.select("_change_type").distinct().collect()) == \
        {"insert"}
    assert feed.filter("_commit_seq = 0").count() == live.count()
    assert feed.drop("_change_type", "_commit_seq") \
        .exceptAll(live).count() == 0

    reenc = str(tmp_path / "reenc_compact")
    compact_checkpoint(spark, ckpt, reenc, rechunk_rows=4096,
                       key_col="doc_id",
                       schema=docs.schema)
    feed2 = read_changes(spark, reenc, since=-1, key_col="doc_id")
    assert feed2.count() == live.count()
    assert feed2.drop("_change_type", "_commit_seq") \
        .exceptAll(live).count() == 0

    # and a mutation AFTER the seed feeds incrementally from since=0
    delete_keys_checkpoint(spark, meta, [0, 10], "doc_id")
    tail = read_changes(spark, meta, since=0, key_col="doc_id")
    got = sorted((r["_change_type"], r["doc_id"]) for r in tail.collect())
    assert got == [("delete", 0), ("delete", 10)]
