"""The wcfs STREAMING source (datasource.WcfsStreamReader): tail a
logged checkpoint's commit ledger as a micro-batch stream — offsets are
commit seqs, a batch is a commit window planned from the immutable log,
partitions are per-file zero-shuffle decodes. Also covers the streaming
SINK's ledger integration (sink batches land as `append` commits on
fresh dirs, making sink output time-travelable / CDF-readable /
source-tailable) and the append-only refusal of mutating commits.

Engine extension — the reference is a single-process batch library
(wills-columnar-format.org); incremental consumption is this repo's
Structured-Streaming-native addition.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from wills_columnar_format_spark import data
from wills_columnar_format_spark.datasource import register
from wills_columnar_format_spark.engine import (
    decode_checkpoint,
    delete_keys_checkpoint,
    encode_table,
    read_changes,
    read_commit_log,
    write_checkpoint,
)


@pytest.fixture(scope="module")
def docs(spark):
    register(spark)
    t = data.token_table_arrow(2000, seed=31)
    return spark.createDataFrame(t.to_pandas()).localCheckpoint(eager=True)


def _drain(spark, src_dir, out, wal, **opts):
    reader = spark.readStream.format("wcfs")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (reader.load(src_dir)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", wal)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return q


def test_tail_two_commits_with_attribution(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    a = docs.filter(F.crc32("doc_id") % 3 != 2)
    b = docs.filter(F.crc32("doc_id") % 3 == 2)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=4), ckpt, schema=docs.schema)
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    q = (spark.readStream.format("wcfs").option("with_seq", "true")
         .load(ckpt).writeStream.format("memory").queryName("wcfs_tail_a")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM wcfs_tail_a")
    assert out.count() == docs.count()
    per_seq = {r["_commit_seq"]: r["n"] for r in
               out.groupBy("_commit_seq").agg(F.count("*").alias("n"))
               .collect()}
    assert per_seq == {0: a.count(), 1: b.count()}
    # payload exactness, not just counts
    assert out.select(docs.columns).exceptAll(docs).count() == 0
    assert docs.exceptAll(out.select(docs.columns)).count() == 0


def test_cursor_resumes_across_restarts(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    a = docs.filter(F.crc32("doc_id") % 2 == 0)
    b = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    _drain(spark, ckpt, out, wal)
    assert spark.read.parquet(out).count() == a.count()
    # second run resumes from Spark's offset log: ONLY the new commit
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    _drain(spark, ckpt, out, wal)
    got = spark.read.parquet(out)
    assert got.count() == docs.count()
    assert got.exceptAll(docs).count() == 0


def test_starting_seq_skips_history(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    a = docs.filter(F.crc32("doc_id") % 2 == 0)
    b = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    q = (spark.readStream.format("wcfs").option("starting_seq", "0")
         .load(ckpt).writeStream.format("memory").queryName("wcfs_tail_s")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM wcfs_tail_s")
    assert out.count() == b.count()
    assert out.exceptAll(b).count() == 0


def test_mutating_commit_refused(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    write_checkpoint(encode_table(docs, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    _drain(spark, ckpt, out, wal)
    dead = [r["doc_id"] for r in docs.select("doc_id").limit(3).collect()]
    delete_keys_checkpoint(spark, ckpt, dead, "doc_id")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="APPEND-ONLY"):
        _drain(spark, ckpt, out, wal)


def test_max_commits_per_batch_paces(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    parts = [docs.filter(F.crc32("doc_id") % 3 == i) for i in range(3)]
    write_checkpoint(encode_table(parts[0], key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    # pacing needs a RUNNING trigger (availableNow snapshots ONE end
    # offset), and by design the FIRST batch after a (re)start is
    # uncapped — capping it could move the offset backwards after a
    # restart (offsets compare by equality) and replay commits. So:
    # start the stream on commit 0, then land commits 1 and 2 while it
    # runs — the cap must spread them over separate micro-batches.
    import time

    q = (spark.readStream.format("wcfs").option("with_seq", "true")
         .option("max_commits_per_batch", "1")
         .load(ckpt).writeStream.format("memory").queryName("wcfs_tail_p")
         .start())

    def wait_rows(n, deadline=240):
        end = time.time() + deadline
        while time.time() < end:
            if spark.sql("SELECT count(*) c FROM wcfs_tail_p") \
                    .collect()[0]["c"] >= n:
                return
            time.sleep(1)
        raise AssertionError(f"timed out waiting for {n} rows")

    try:
        wait_rows(parts[0].count())
        for p in parts[1:]:
            write_checkpoint(encode_table(p, key_col="doc_id",
                                          codec="auto", num_partitions=2),
                             ckpt, schema=docs.schema, mode="append")
        wait_rows(docs.count())
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM wcfs_tail_p")
    assert out.count() == docs.count()
    assert out.select("_commit_seq").distinct().count() == 3
    # commits 1 and 2 must NOT share a micro-batch (cap = 1/batch);
    # each nonempty batch carries exactly one commit's rows
    prog = [p if isinstance(p, dict) else json.loads(p)
            for p in q.recentProgress]
    batches = {p["batchId"] for p in prog if p["numInputRows"] > 0}
    assert len(batches) >= 3


def test_cdf_stream_equals_batch_feed(spark, docs, tmp_path):
    # option('cdf') turns the tail into a full change feed: the drain
    # must equal read_changes row-for-row (inserts, delete rows with
    # NULL payload, upsert delete+insert pairs, seq attribution)
    from wills_columnar_format_spark.engine import upsert_checkpoint

    ckpt = str(tmp_path / "t")
    write_checkpoint(encode_table(docs, key_col="doc_id", codec="auto",
                                  num_partitions=4, chunk_rows=256),
                     ckpt, schema=docs.schema)
    dead = [r["doc_id"] for r in
            docs.filter(F.crc32("doc_id") % 10 == 3)
            .select("doc_id").collect()]
    delete_keys_checkpoint(spark, ckpt, dead, "doc_id")
    upsert_checkpoint(
        spark, ckpt,
        docs.filter(F.crc32("doc_id") % 10 == 4)
        .withColumn("n_tok", F.lit(-1)), "doc_id", num_partitions=2)
    batch = read_changes(spark, ckpt, since=-1, key_col="doc_id")
    q = (spark.readStream.format("wcfs").option("cdf", "true")
         .option("key_col", "doc_id").load(ckpt)
         .writeStream.format("memory").queryName("wcfs_cdf_a")
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    stream = spark.sql("SELECT * FROM wcfs_cdf_a")
    assert stream.count() == batch.count()
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_cdf_resumes_past_mutations(spark, docs, tmp_path):
    # the cursor rides Spark's offset log across restarts THROUGH a
    # mutation commit: the second drain sees only the delete rows
    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    write_checkpoint(encode_table(docs, key_col="doc_id", codec="auto",
                                  num_partitions=2, chunk_rows=256),
                     ckpt, schema=docs.schema)

    def drain():
        q = (spark.readStream.format("wcfs").option("cdf", "true")
             .option("key_col", "doc_id").load(ckpt)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", wal)
             .trigger(availableNow=True).start())
        q.awaitTermination(240)

    drain()
    assert spark.read.parquet(out).count() == docs.count()
    dead = [r["doc_id"] for r in
            docs.select("doc_id").limit(7).collect()]
    delete_keys_checkpoint(spark, ckpt, dead, "doc_id")
    drain()
    got = spark.read.parquet(out)
    assert got.count() == docs.count() + 7
    dels = got.filter("_change_type = 'delete'")
    assert dels.count() == 7
    assert {r["doc_id"] for r in dels.select("doc_id").collect()} \
        == set(dead)
    # delete rows carry NULL payload columns
    assert dels.filter(F.col("n_tok").isNotNull()).count() == 0


def test_cdf_requires_key_col(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    write_checkpoint(encode_table(docs, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt,
                     schema=docs.schema)
    with pytest.raises(Exception, match="key_col"):
        (spark.readStream.format("wcfs").option("cdf", "true")
         .load(ckpt).writeStream.format("memory")
         .queryName("wcfs_cdf_nk").trigger(availableNow=True)
         .start().awaitTermination(120))


def test_with_seq_is_streaming_only(spark, docs, tmp_path):
    ckpt = str(tmp_path / "t")
    write_checkpoint(encode_table(docs, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    with pytest.raises(Exception, match="STREAMING option"):
        spark.read.format("wcfs").option("with_seq", "true") \
            .load(ckpt).count()


def test_unlogged_dir_refused(spark, docs, tmp_path):
    # batch-writer output carries no _commits ledger: the source must
    # name the problem instead of streaming an unattributable dir
    d = str(tmp_path / "plain")
    (docs.repartition(2).write.format("wcfs").mode("append")
     .option("key_col", "doc_id").save(d))
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="_commits"):
        _drain(spark, d, out, wal)


def test_sink_writes_ledger_and_composes(spark, docs, tmp_path):
    # streaming SINK -> logged table -> CDF read AND source tail: the
    # full incremental pipeline over one format
    src = str(tmp_path / "in")
    sink = str(tmp_path / "sunk")
    docs.limit(400).write.parquet(src)
    q = (spark.readStream.schema(docs.schema).parquet(src)
         .writeStream.format("wcfs").option("path", sink)
         .option("key_col", "doc_id")
         .option("checkpointLocation", str(tmp_path / "wal2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    log = read_commit_log(sink)
    assert log is not None and [r["action"] for r in log] == ["append"]
    assert read_changes(spark, sink, since=-1,
                        key_col="doc_id").count() == 400
    q2 = (spark.readStream.format("wcfs").load(sink)
          .writeStream.format("memory").queryName("wcfs_tail_k")
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    assert spark.sql("SELECT count(*) c FROM wcfs_tail_k") \
        .collect()[0]["c"] == 400


def test_sink_stays_unlogged_on_legacy_dir(spark, docs, tmp_path):
    # a dir with pre-existing UNLOGGED data files: logging later sink
    # batches would mis-attribute history (old files in no commit) —
    # the sink must leave such dirs unlogged
    d = str(tmp_path / "legacy")
    (docs.limit(100).repartition(1).write.format("wcfs").mode("append")
     .option("key_col", "doc_id").save(d))
    assert read_commit_log(d) is None
    src = str(tmp_path / "in")
    docs.limit(50).write.parquet(src)
    q = (spark.readStream.schema(docs.schema).parquet(src)
         .writeStream.format("wcfs").option("path", d)
         .option("key_col", "doc_id")
         .option("checkpointLocation", str(tmp_path / "wal3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert read_commit_log(d) is None
    assert spark.read.format("wcfs").load(d).count() == 150


def test_pipeline_chain_source_to_sink(spark, docs, tmp_path):
    # stage N's sink is stage N+1's source: tail checkpoint A through a
    # transformation into wcfs checkpoint B, append to A, drain again —
    # B must equal the transformed current snapshot of A, incrementally
    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    wal = str(tmp_path / "wal")
    first = docs.filter(F.crc32("doc_id") % 2 == 0)
    second = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(first, key_col="doc_id", codec="auto",
                                  num_partitions=2), a_dir,
                     schema=docs.schema)

    def hop():
        q = (spark.readStream.format("wcfs").load(a_dir)
             .withColumn("n_tok", F.col("n_tok") + 1000)
             .writeStream.format("wcfs").option("path", b_dir)
             .option("key_col", "doc_id")
             .option("checkpointLocation", wal)
             .trigger(availableNow=True).start())
        q.awaitTermination(240)

    hop()
    got = spark.read.format("wcfs").load(b_dir)
    assert got.count() == first.count()
    write_checkpoint(encode_table(second, key_col="doc_id", codec="auto",
                                  num_partitions=2), a_dir,
                     schema=docs.schema, mode="append")
    hop()
    got = spark.read.format("wcfs").load(b_dir)
    exp = docs.withColumn("n_tok", F.col("n_tok") + 1000)
    assert got.count() == docs.count()
    assert got.exceptAll(exp).count() == 0 and \
        exp.exceptAll(got).count() == 0
    # the hop's sink output is itself a LOGGED table: two commits, one
    # per drained micro-batch — tailable by the next stage
    log = read_commit_log(b_dir)
    assert log is not None and len(log) == 2


def test_constraint_commits_skip_schema_evo_stops(spark, docs, tmp_path):
    # add_constraint changes neither rows nor schema: the tail skips it;
    # add_column evolves the schema: the stream stops with a restart
    # hint (the Delta convention — the reader's schema is fixed at
    # start)
    from wills_columnar_format_spark.engine import (
        add_column_checkpoint, add_constraint_checkpoint)

    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    a = docs.filter(F.crc32("doc_id") % 2 == 0)
    b = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    _drain(spark, ckpt, out, wal)
    add_constraint_checkpoint(spark, ckpt, "pos_tok",
                              check=("n_tok", 0, 10**9))
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    _drain(spark, ckpt, out, wal)  # constraint commit skipped silently
    assert spark.read.parquet(out).count() == docs.count()
    add_column_checkpoint(ckpt, "weight", "double", default=1.0)
    write_checkpoint(encode_table(a.limit(10), key_col="doc_id",
                                  codec="auto", num_partitions=1),
                     ckpt, schema=docs.schema, mode="append")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="evolve the table schema"):
        _drain(spark, ckpt, out, wal)


def test_window_caps_before_schema_change(spark, docs, tmp_path):
    # a data commit and a schema change land together between drains:
    # the window must cap BEFORE the blocker so the data delivers
    # first; the next drain fails on the blocker alone with an
    # accurate starting_seq hint (a mixed window would strand the data
    # commit forever — the boundary is baked into Spark's WAL)
    from wills_columnar_format_spark.engine import add_column_checkpoint

    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    a = docs.filter(F.crc32("doc_id") % 2 == 0)
    b = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    _drain(spark, ckpt, out, wal)
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    add_column_checkpoint(ckpt, "w", "double", default=1.0)
    _drain(spark, ckpt, out, wal)  # capped window: commit 1 delivers
    assert spark.read.parquet(out).count() == docs.count()
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="starting_seq=2"):
        _drain(spark, ckpt, out, wal)  # blocker-only window


def test_fresh_stream_over_evo_history_delivers_prefix(spark, docs,
                                                       tmp_path):
    # a BRAND-NEW stream over history containing a schema change must
    # deliver the pre-change commits first (window capped before the
    # blocker even with no anchored cursor), then fail on the blocker
    # alone — not plan one mixed window that strands the prefix forever
    from wills_columnar_format_spark.engine import add_column_checkpoint

    ckpt = str(tmp_path / "t")
    out = str(tmp_path / "out")
    wal = str(tmp_path / "wal")
    a = docs.filter(F.crc32("doc_id") % 2 == 0)
    b = docs.filter(F.crc32("doc_id") % 2 == 1)
    write_checkpoint(encode_table(a, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema)
    write_checkpoint(encode_table(b, key_col="doc_id", codec="auto",
                                  num_partitions=2), ckpt, schema=docs.schema,
                     mode="append")
    add_column_checkpoint(ckpt, "w", "double", default=1.0)
    _drain(spark, ckpt, out, wal)  # capped: commits 0-1 deliver
    assert spark.read.parquet(out).count() == docs.count()
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises((StreamingQueryException, Py4JJavaError),
                       match="starting_seq=2"):
        _drain(spark, ckpt, out, wal)


def test_sink_replay_heal_is_idempotent(tmp_path):
    # ADVICE r4: two concurrent replays of the same batchId (zombie
    # driver) could both pass the _batch_logged check and double-append
    # the batch's files. Healing now claims an exclusive per-batch
    # .heal marker; a fresh claimed-but-unappended marker blocks other
    # healers, and only past the staleness window does the liveness
    # fallback append (after a re-check).
    import time

    from pyspark.sql.types import StringType, StructField, StructType

    from wills_columnar_format_spark import datasource as ds
    from wills_columnar_format_spark import engine as eng

    d = str(tmp_path / "sink")
    schema = StructType([StructField("doc_id", StringType())])

    def writer():
        # the real runner re-instantiates the writer per phase
        return ds.WcfsStreamWriter(schema, {"path": d}, False)

    writer().commit([ds._WcfsCommit(files=["part-b0.parquet"])], 0)
    log = eng.read_commit_log(d)
    assert [r["files"] for r in log] == [["part-b0.parquet"]]

    # batch 1's first application crashed AFTER the marker write but
    # BEFORE the ledger append: marker exists, files unattributed
    with open(f"{d}/_stream_commits/0000000001.json", "w") as f:
        json.dump({"batch_id": 1, "files": ["part-b1.parquet"]}, f)
    writer().commit([ds._WcfsCommit(files=["part-b1x.parquet"])], 1)
    log = eng.read_commit_log(d)
    assert sum(r["files"] == ["part-b1.parquet"] for r in log) == 1
    # a second replay must not double-append
    writer().commit([ds._WcfsCommit(files=["part-b1y.parquet"])], 1)
    log = eng.read_commit_log(d)
    assert sum(r["files"] == ["part-b1.parquet"] for r in log) == 1

    # batch 2: a FRESH heal marker (another healer mid-append) blocks
    with open(f"{d}/_stream_commits/0000000002.json", "w") as f:
        json.dump({"batch_id": 2, "files": ["part-b2.parquet"]}, f)
    with open(f"{d}/_stream_commits/0000000002.heal", "w") as f:
        f.write("{}")
    writer().commit([ds._WcfsCommit(files=["part-b2x.parquet"])], 2)
    assert not any(r["files"] == ["part-b2.parquet"]
                   for r in eng.read_commit_log(d))
    # ...until the marker goes stale: the orphaned batch heals once
    stale = time.time() - 2 * ds._HEAL_STALE_SECONDS
    os.utime(f"{d}/_stream_commits/0000000002.heal", (stale, stale))
    writer().commit([ds._WcfsCommit(files=["part-b2x.parquet"])], 2)
    assert sum(r["files"] == ["part-b2.parquet"]
               for r in eng.read_commit_log(d)) == 1


def test_sink_heal_marker_without_mtime_is_stale(tmp_path, monkeypatch):
    # a filesystem whose get_file_info reports no mtime for the claimed
    # .heal marker: the liveness fallback must treat it as stale and
    # heal the orphaned batch, not wait on an age that never grows
    import types

    from pyarrow import fs as pafs
    from pyspark.sql.types import StringType, StructField, StructType

    from wills_columnar_format_spark import datasource as ds
    from wills_columnar_format_spark import engine as eng

    class NoMtimeFS(pafs.LocalFileSystem):
        def get_file_info(self, paths):
            info = super().get_file_info(paths)
            if isinstance(paths, str) and paths.endswith(".heal"):
                return types.SimpleNamespace(
                    type=info.type, path=info.path,
                    base_name=info.base_name)
            return info

    d = str(tmp_path / "sink")
    schema = StructType([StructField("doc_id", StringType())])

    def writer():
        return ds.WcfsStreamWriter(schema, {"path": d}, False)

    writer().commit([ds._WcfsCommit(files=["part-b0.parquet"])], 0)
    # batch 1 crashed after its marker AND after a healer's claim, but
    # before any ledger append: marker + fresh .heal, files unattributed
    with open(f"{d}/_stream_commits/0000000001.json", "w") as f:
        json.dump({"batch_id": 1, "files": ["part-b1.parquet"]}, f)
    with open(f"{d}/_stream_commits/0000000001.heal", "w") as f:
        f.write("{}")
    monkeypatch.setattr(eng, "_manifest_fs", lambda p: (NoMtimeFS(), p))
    writer().commit([ds._WcfsCommit(files=["part-b1x.parquet"])], 1)
    assert sum(r["files"] == ["part-b1.parquet"]
               for r in eng.read_commit_log(d)) == 1
