"""Spark Python DataSource (Spark 4.x) over columnar checkpoints: the
SQL-native doorway to the format.

    spark.dataSource.register(WcfsDataSource)
    df.write.format("wcfs").option("key_col", "doc_id").save(dir)
    spark.read.format("wcfs").load(dir).where("n_tok > 100").show()
    spark.sql(f"SELECT ... FROM wcfs.`{dir}`")  -- via a registered view

Read side — one InputPartition per manifest file (the shuffle-free
clustered layout decode_checkpoint proves and this reader requires), a
``pushFilters`` hook that prunes FILES and CHUNKS by the per-chunk value
zone maps and (when the encode recorded them) value Bloom filters, and
an Arrow-batch ``read`` that reuses the engine's per-file streaming
decode (``make_file_decode_fn`` — pushed pyarrow predicates, 32-row
blob batches). Pruning is conservative: every pushed filter is also
RETURNED to Spark, which re-applies it exactly, so a zone/bloom false
positive only costs bytes, never correctness. Planning (file listing,
clustered gate, deletion-vector collection, zone pruning) is a
planning-time pyarrow pass over blob-free METADATA columns — the
Delta/Iceberg planning shape: O(chunks) metadata, zero blob bytes.

Filter pushdown is OPT-IN per load — ``.option("pushdown", "true")`` —
because Spark 4.1 caches ONE readInfo per relation and the pushdown
planner overwrites it (PythonDataSourceV2.setReadInfo): on a shared
DataFrame a filterless query planned after a filtered one would reuse
the filtered prune and lose rows. Default reads always emit the full
partition list (correct under any query sequence, Spark applies every
filter exactly); pushdown loads accept a one-filter-shape-per-load()
contract for the prune.

Write side — ``DataSourceArrowWriter``: each task encodes ITS Arrow
batches through the engine's encode closure (``make_encode_fn``, the
'none' layout: chunk boundaries are the task's batch stream, identity
salted by partition id) and writes ONE manifest parquet file, so the
result is chunk-clustered BY CONSTRUCTION and reads back zero-Exchange.
Layout is the caller's: ``df.repartition(...).sortWithinPartitions(...)``
before the write chooses the clustering — the idiomatic Spark contract.
Commit writes the ``_table_schema`` sidecar (self-describing); abort
removes the written files. Task retries can leave duplicate files only
if speculative execution is enabled — ``compact_checkpoint`` heals that
(and the reader's clustered gate refuses, never mis-decodes).

Reference anchor: the reference is a single-process library with no
query-engine integration (wills-columnar-format.org) — this module is
the engine-extension that makes the format a first-class Spark table
provider.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, List

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "wcfs"

# planning caps, mirroring decode_checkpoint's driver-safety rules
_PLAN_KEYS_MAX = 100_000  # per-file chunk lists past this -> file-level only
_PLAN_DELETES_MAX = 200_000
# CDF stream planning reads the as-of-previous files' chunk index
# driver-side to locate hit-chunk owners; past this many files the
# distributed planner (read_changes) is the right tool
_PLAN_CDF_FILES_MAX = 4096
# per-commit cap on the stream planner's serial driver-side metadata
# pass (one pyarrow read per file of the window's commits)
_PLAN_STREAM_FILES_MAX = 4096
# a claimed-but-never-appended heal marker older than this is treated
# as orphaned and healing proceeds without the exclusive claim
_HEAL_STALE_SECONDS = 300.0


def _engine():
    from . import engine

    return engine


@dataclass
class _FilePartition(InputPartition):
    path: str
    keys: list | None  # qualifying chunk_keys, None = all
    # deletion-vector blobs ride IN the partition: Spark pickles the
    # read function (which captures the reader) BEFORE partitions()
    # runs (plan_data_source_read.py), so planning-time reader state
    # never reaches executors — only the partition objects do.
    deletes: dict | None = None


@dataclass
class _WcfsCommit(WriterCommitMessage):
    files: List[str] = field(default_factory=list)


class WcfsDataSource(DataSource):
    """``spark.read.format("wcfs")`` / ``df.write.format("wcfs")``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StructField

        eng = _engine()
        path = self.options.get("path")
        if not path:
            raise ValueError("wcfs reads take a checkpoint dir: .load(dir)")
        sch = eng.read_checkpoint_schema(path)
        if sch is None:
            raise ValueError(
                f"checkpoint {path!r} carries no _table_schema sidecar — "
                "write with df.write.format('wcfs') / write_checkpoint("
                "..., schema=...), or pass .schema(...) explicitly"
            )
        out = from_arrow_schema(sch, prefer_timestamp_ntz=True)
        if str(self.options.get("cdf", "false")).lower() == "true":
            # change-data-feed stream (see WcfsStreamReader): rows plus
            # Delta-CDF-shaped attribution; batch reader refuses.
            # Table fields relax to nullable — delete rows carry the
            # key plus NULL payload columns
            from pyspark.sql.types import StringType
            out = StructType(
                [StructField(f.name, f.dataType, True) for f in out.fields]
                + [StructField("_change_type", StringType(), False),
                   StructField("_commit_seq", LongType(), False)])
        elif str(self.options.get("with_seq", "false")).lower() == "true":
            # streaming tail attribution column (see WcfsStreamReader);
            # the batch reader refuses this option in partitions()
            out = StructType(out.fields + [
                StructField("_commit_seq", LongType(), False)])
        return out

    def reader(self, schema: StructType) -> "WcfsReader":
        return WcfsReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> "WcfsStreamReader":
        return WcfsStreamReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "WcfsWriter":
        return WcfsWriter(schema, dict(self.options), overwrite)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> "WcfsStreamWriter":
        if overwrite:
            raise ValueError(
                "wcfs streaming sink supports append output mode only"
            )
        return WcfsStreamWriter(schema, dict(self.options), False)


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def _decode_arrow_schema(path, spark_schema, drop=()):
    """Arrow schema for the DECODE side of a wcfs read. Spark hands
    readers a StructType, but the Spark<->Arrow round trip DROPS arrow
    field metadata — which is where ``add_column_checkpoint`` records a
    metadata-only column's default (``_added_defaults``). Decoding a
    pre-add chunk under the stripped schema then dies with a
    missing-sub-column error instead of filling the default. So:
    prefer the ``_table_schema`` sidecar's own arrow fields (metadata
    intact) wherever name+type match the declared Spark schema, fall
    back to plain conversion otherwise (explicit .schema() overrides
    keep working)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    eng = _engine()
    base = to_arrow_schema(spark_schema)
    side = None
    if path:
        try:
            side = eng.read_checkpoint_schema(path)
        except (OSError, ValueError):
            side = None
    fields = []
    for f in base:
        if f.name in drop:
            continue
        if side is not None:
            i = side.get_field_index(f.name)
            if i >= 0 and side.field(i).type.equals(f.type):
                fields.append(side.field(i))
                continue
        fields.append(f)
    return pa.schema(fields)


def _zone_admit_rows(rows, lo, hi, is_str):
    """Vectorized conservative zone test over collected metadata rows:
    True where [lo, hi] intersects the chunk's value interval; NULL
    bounds keep (legacy manifests / non-numeric / all-NaN — the same
    rules as engine._zone_admit_expr). ``rows`` is a dict of numpy
    arrays (vmin, vmax)."""
    if is_str:
        mn, mx = rows["val_min_str"], rows["val_max_str"]
        keep = np.ones(len(mn), dtype=bool)
        for i in range(len(mn)):
            if mn[i] is not None and hi is not None and mn[i] > hi:
                keep[i] = False
            elif mx[i] is not None and lo is not None and mx[i] < lo:
                keep[i] = False
        return keep
    mn, mx = rows["val_min"], rows["val_max"]
    keep = np.ones(len(mn), dtype=bool)
    nn = ~np.isnan(mn)
    if lo is not None:
        keep &= np.where(nn, ~(mx < lo), True)
    if hi is not None:
        keep &= np.where(nn, ~(mn > hi), True)
    return keep


class WcfsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        from pyspark.sql.pandas.types import to_arrow_schema

        # tolerate a missing path at CONSTRUCTION: Spark instantiates a
        # reader to validate `CREATE TABLE ... USING wcfs` before the
        # table's options flow in; partitions() raises the clear error
        self._path = options.get("path")
        self._verify = str(options.get("verify_checksums",
                                       "false")).lower() == "true"
        # zone/bloom pruning is OPT-IN PER LOAD: Spark 4.1 caches one
        # readInfo (partitions + read function) per relation
        # (PythonDataSourceV2.getOrCreateReadInfo) and the pushdown
        # planner OVERWRITES it (setReadInfo) — a filterless query
        # planned after a filtered one on the SAME DataFrame would
        # silently reuse the filtered prune and lose rows (measured:
        # 4823 of 5000). With pruning off, every planning emits the
        # full file list, so the cache is always a superset — correct
        # under any query sequence. option("pushdown", "true") accepts
        # the one-filter-shape-per-load() contract in exchange for
        # file+chunk pruning.
        self._prune = str(options.get("pushdown",
                                      "false")).lower() == "true"
        self._with_seq = str(options.get("with_seq",
                                         "false")).lower() == "true"
        self._cdf = str(options.get("cdf", "false")).lower() == "true"
        # time travel: plan over the file set AS OF a commit seq (the
        # commit ledger's attribution — decode_checkpoint(as_of=)'s
        # SQL-native twin). Mask sidecars appended AFTER that commit
        # live in later files, so restricting the scan set restricts
        # the masks for free.
        self._as_of = (int(options["as_of"])
                       if options.get("as_of") is not None else None)
        # sidecar-backed arrow fields keep added-column default
        # metadata the Spark<->Arrow round trip drops
        self._schema_arrow_ser = _decode_arrow_schema(
            self._path, schema).serialize().to_pybytes()
        # (col sub-name, lo, hi, probe values, is_str) specs harvested
        # by pushFilters; planning consumes them in partitions()
        self._pushed: list = []

    # -- filter pushdown ----------------------------------------------------

    def pushFilters(self, filters: List[Filter]):
        """Harvest zone/bloom-prunable predicates. EVERY filter is also
        returned (Spark re-applies it exactly) — the pruning below is
        conservative chunk elimination, never the final filter.
        No-op without ``option("pushdown", "true")`` — see __init__ for
        the Spark 4.1 readInfo-cache hazard that makes plan-time
        pruning a per-load opt-in."""
        self._pushed = []
        if not self._prune:
            return filters
        sch = pa.ipc.read_schema(pa.py_buffer(self._schema_arrow_ser))
        for f in filters:
            spec = self._classify(sch, f)
            if spec is not None:
                self._pushed.append(spec)
        return filters

    @staticmethod
    def _classify(sch: pa.Schema, f: Filter):
        """(sub_name, lo, hi, probe_values|None, is_str) for a prunable
        filter, else None. Top-level scalars and struct leaves
        (ColumnPath ('s','a') -> manifest sub-column 's#f:a'); int,
        float, and string values only — temporals/decimals keep every
        chunk (Spark still applies the exact filter)."""
        if not isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                              LessThan, LessThanOrEqual, In)):
            return None
        sub = "#f:".join(f.attribute)
        root = f.attribute[0]
        if root not in sch.names:
            return None
        vals = list(f.value) if isinstance(f, In) else [f.value]
        if not vals or any(isinstance(v, bool) for v in vals):
            return None
        if all(isinstance(v, (int, float)) for v in vals):
            is_str = False
            if any(isinstance(v, float) and np.isnan(v) for v in vals):
                return None
        elif all(isinstance(v, str) for v in vals):
            is_str = True
        else:
            return None
        if isinstance(f, EqualTo):
            return (sub, f.value, f.value, vals, is_str)
        if isinstance(f, In):
            lo = min(vals)
            hi = max(vals)
            return (sub, lo, hi, vals, is_str)
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            # open vs closed collapses at zone granularity (conservative)
            return (sub, f.value, None, None, is_str)
        return (sub, None, f.value, None, is_str)

    # -- planning -----------------------------------------------------------

    def partitions(self):
        import pyarrow.parquet as pq

        # consume this planning's pushed filters (see pushFilters): a
        # later planning without pushFilters must see a clean slate
        pushed, self._pushed = self._pushed, []

        eng = _engine()
        path = self._path
        if self._with_seq or self._cdf:
            raise ValueError(
                "options 'with_seq'/'cdf' are STREAMING options — the "
                "batch reader emits no attribution columns; use spark."
                "readStream.format('wcfs'), or read_changes for batch "
                "change feeds"
            )
        if not path:
            # also hit by `CREATE TABLE ... USING wcfs`: Spark 4.1 does
            # not deliver a catalog table's OPTIONS to a Python data
            # source (probed: the reader plans with EMPTY options), so
            # SQL-catalog tables cannot work — register a temp view over
            # spark.read.format("wcfs").load(dir) instead
            raise ValueError(
                "wcfs reads need a checkpoint dir via "
                "spark.read.format('wcfs').load(dir) — catalog tables "
                "(CREATE TABLE ... USING wcfs) are not supported: Spark "
                "4.1 does not pass table OPTIONS to Python data sources; "
                "use a temp view over load(dir)"
            )
        if eng._checkpoint_rename_map(path):
            raise ValueError(
                f"checkpoint {path!r} carries column renames — the wcfs "
                "DataSource reads physical layouts only; use "
                "decode_checkpoint (rename-aware) or compact_checkpoint "
                "to materialize the renames first"
            )
        fsys, p = eng._manifest_fs(path)
        if self._as_of is not None:
            # historical snapshot: the ledger's file attribution IS the
            # plan; later commits' files (data AND mask sidecars) never
            # enter the scan. The clustered marker describes the
            # CURRENT layout only, so the gate always re-verifies here.
            files = eng._files_as_of(path, self._as_of)
            marker = None
        else:
            files = eng._list_data_files(path)
            marker = eng._clustered_marker_rec(path)
        if not files:
            return []
        need_gate = marker is None
        need_deletes = not (marker is not None
                            and marker.get("has_deletes") is False)

        file_keys: dict[str, list | None] = {f: None for f in files}
        deletes: dict[str, list] = {}
        gate_pairs: set = set()
        gate_files: dict[str, str] = {}  # chunk_key -> file
        gate_ok = True
        prune_cols = {s[0] for s in pushed}
        total_keys = 0

        for base in files:
            fp = f"{p.rstrip('/')}/{base}"
            meta_cols = ["chunk_key", "column"]
            zone_needed = bool(prune_cols)
            if zone_needed:
                meta_cols += ["val_min", "val_max", "val_min_str",
                              "val_max_str"]
            t = pq.read_table(fp, columns=meta_cols, filesystem=fsys)
            cols = t.column("column").to_pylist()
            ckeys = t.column("chunk_key").to_pylist()
            has_bloom = "val_bloom" in pq.read_schema(fp, filesystem=fsys).names

            if need_gate:
                prev = None
                seen_here = set()
                for ck, c in zip(ckeys, cols):
                    if c == eng.DONE_COLUMN or c.startswith(eng.DELETES_PREFIX):
                        continue
                    if (ck, c) in gate_pairs:
                        gate_ok = False
                        break
                    gate_pairs.add((ck, c))
                    owner = gate_files.get(ck)
                    if owner is not None and owner != base:
                        gate_ok = False  # chunk torn across files
                        break
                    gate_files[ck] = base
                    if ck != prev and ck in seen_here:
                        gate_ok = False  # non-adjacent reappearance
                        break
                    seen_here.add(ck)
                    prev = ck
                if not gate_ok:
                    break

            if need_deletes:
                didx = [i for i, c in enumerate(cols)
                        if c.startswith(eng.DELETES_PREFIX)]
                if didx:
                    dt = pq.read_table(fp, columns=["chunk_key", "blob"],
                                       filesystem=fsys,
                                       filters=[("column", "in",
                                                 [cols[i] for i in didx])])
                    for ck, blob in zip(dt.column("chunk_key").to_pylist(),
                                        dt.column("blob").to_pylist()):
                        deletes.setdefault(ck, []).append(bytes(blob))
                    if sum(len(v) for v in deletes.values()) > _PLAN_DELETES_MAX:
                        raise ValueError(
                            f"checkpoint {path!r} carries more than "
                            f"{_PLAN_DELETES_MAX} deletion-vector sidecars "
                            "— compact_checkpoint to materialize them, or "
                            "read via decode_checkpoint"
                        )

            if zone_needed:
                arr = {
                    "val_min": t.column("val_min").to_numpy(
                        zero_copy_only=False).astype(np.float64),
                    "val_max": t.column("val_max").to_numpy(
                        zero_copy_only=False).astype(np.float64),
                    "val_min_str": np.asarray(
                        t.column("val_min_str").to_pylist(), dtype=object),
                    "val_max_str": np.asarray(
                        t.column("val_max_str").to_pylist(), dtype=object),
                }
                colarr = np.asarray(cols, dtype=object)
                ckarr = np.asarray(ckeys, dtype=object)
                keep_chunks = None  # None = all chunks qualify so far
                blobs_cache = None
                for (sub, lo, hi, probes, is_str) in pushed:
                    m = colarr == sub
                    if not m.any():
                        continue  # added-default / absent column: keep all
                    rows = {k: v[m] for k, v in arr.items()}
                    keep = _zone_admit_rows(rows, lo, hi, is_str)
                    if probes is not None and has_bloom and keep.any():
                        if blobs_cache is None:
                            bt = pq.read_table(
                                fp, columns=["chunk_key", "column",
                                             "val_bloom"],
                                filesystem=fsys)
                            blobs_cache = {
                                (ck, c): b for ck, c, b in zip(
                                    bt.column("chunk_key").to_pylist(),
                                    bt.column("column").to_pylist(),
                                    bt.column("val_bloom").to_pylist())
                                if b is not None
                            }
                        pv = (np.asarray([str(v) for v in probes],
                                         dtype=object) if is_str else
                              np.asarray([float(v) for v in probes],
                                         np.float64))
                        ph1, ph2 = eng._bloom_hashes(pv)
                        sub_keys = ckarr[m]
                        for i in np.flatnonzero(keep):
                            blob = blobs_cache.get((sub_keys[i], sub))
                            if blob is not None and not \
                                    eng._bloom_contains_any(
                                        bytes(blob), ph1, ph2):
                                keep[i] = False
                    qual = set(ckarr[m][keep])
                    keep_chunks = qual if keep_chunks is None \
                        else keep_chunks & qual
                if keep_chunks is not None:
                    if not keep_chunks:
                        del file_keys[base]
                        continue
                    total_keys += len(keep_chunks)
                    file_keys[base] = sorted(keep_chunks) \
                        if total_keys <= _PLAN_KEYS_MAX else None

        if need_gate and not gate_ok:
            raise ValueError(
                f"checkpoint {path!r} is not chunk-clustered (duplicate or "
                "torn chunks — resumed/merged manifests): the wcfs "
                "DataSource maps one task per file and would mis-group; "
                "compact_checkpoint(src, dst) restores the layout, or "
                "read via decode_checkpoint (shuffling fallback)"
            )
        return [
            _FilePartition(path=f"{p.rstrip('/')}/{b}", keys=file_keys[b],
                           deletes=deletes or None)
            for b in sorted(file_keys)
        ]

    # -- execution ----------------------------------------------------------

    def read(self, partition: _FilePartition) -> Iterator["pa.RecordBatch"]:
        eng = _engine()
        sch = pa.ipc.read_schema(pa.py_buffer(self._schema_arrow_ser))
        added = eng._added_defaults(sch)
        fn = eng.make_file_decode_fn(
            sch, None, None, False,
            verify_checksums=self._verify,
            extra_deletes=partition.deletes,
            defaults=added or None,
        )
        rb = pa.RecordBatch.from_pydict(
            {
                "path": pa.array([partition.path], pa.string()),
                "keys": pa.array([partition.keys],
                                 pa.list_(pa.string())),
            }
        )
        yield from fn(iter([rb]))


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


class WcfsWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        from pyspark.sql.pandas.types import to_arrow_schema

        eng = _engine()
        self._path = options["path"]
        self._key_col = options.get("key_col", "doc_id")
        self._codec = options.get("codec", "auto")
        self._chunk_rows = int(options.get("chunk_rows",
                                           eng.DEFAULT_CHUNK_ROWS))
        self._allow_nulls = str(options.get("allow_nulls",
                                            "false")).lower() == "true"
        self._value_blooms = str(options.get("value_blooms",
                                             "false")).lower() == "true"
        self._ndv = str(options.get("ndv_sketches",
                                    "false")).lower() == "true"
        self._overwrite = overwrite
        logged = eng.read_commit_log(self._path) is not None
        if overwrite and logged:
            # a ledger-backed table's history cannot represent a
            # wholesale batch replacement: 'replace' means a content-
            # identical optimize to every log reader (streams and CDC
            # skip it), and deleting the prior files first would leave
            # a ledger naming vacuumed files on any crash
            raise ValueError(
                f"mode('overwrite') on the ledger-backed checkpoint "
                f"{self._path!r} is not supported — use "
                "restore_checkpoint / optimize_checkpoint / "
                "compact_checkpoint for history-preserving rewrites, "
                "or write a fresh dir"
            )
        if logged:
            # appends into a logged table take the engine append path's
            # preconditions: a crashed mutation window's reconciliation
            # would claim these files into ITS commit, and a renamed
            # checkpoint stores physical names this writer cannot speak
            eng._raise_if_pending(self._path, for_write=True)
            if eng._checkpoint_rename_map(self._path):
                raise ValueError(
                    f"checkpoint {self._path!r} carries column renames "
                    "— the wcfs writer speaks physical layouts only; "
                    "append via upsert_checkpoint/write_checkpoint, or "
                    "compact_checkpoint to materialize the renames"
                )
        # overwrite = replace the PRIOR snapshot: record it now (driver),
        # delete it in commit — readers racing the commit see either the
        # old files or the new, never a torn mix of half-deleted old
        self._prior = eng._list_data_files(self._path) if overwrite else []
        self._schema_arrow_ser = to_arrow_schema(schema).serialize().to_pybytes()

    def write(self, it: Iterator["pa.RecordBatch"]) -> _WcfsCommit:
        import uuid

        import pyarrow.parquet as pq

        eng = _engine()
        key_sch = pa.ipc.read_schema(pa.py_buffer(self._schema_arrow_ser))
        if self._key_col not in key_sch.names:
            parts = [s.strip() for s in self._key_col.split(",")]
            if len(parts) > 1 and all(s in key_sch.names for s in parts):
                raise ValueError(
                    f"key_col {self._key_col!r} names multiple columns "
                    "— the wcfs writer keys on ONE column; composite "
                    "keys: encode via engine.encode_table(key_col="
                    f"{parts!r}) + write_checkpoint instead"
                )
            raise ValueError(
                f"key_col {self._key_col!r} is not a column of the written "
                f"frame ({key_sch.names}) — pass .option('key_col', ...)"
            )
        fn = eng.make_encode_fn(
            key_col=self._key_col,
            codec=self._codec,
            allow_nulls=self._allow_nulls,
            chunk_rows=self._chunk_rows,
            ndv_sketches=self._ndv,
            value_blooms=self._value_blooms,
            salt_part_id=True,  # the 'none' layout: scan order IS the
            # chunking, so identity must carry the partition id
        )
        fsys, p = eng._manifest_fs(self._path)
        fsys.create_dir(p, recursive=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        fp = f"{p.rstrip('/')}/{fname}"
        writer = None
        try:
            for rb in fn(it):
                if writer is None:
                    writer = pq.ParquetWriter(fp, rb.schema, filesystem=fsys)
                writer.write_batch(rb)
        finally:
            if writer is not None:
                writer.close()
        return _WcfsCommit(files=[fname] if writer is not None else [])

    def _write_schema_sidecar(self, eng) -> None:
        """Write the ``_table_schema`` sidecar only when ABSENT: an
        existing sidecar may carry field/schema metadata the written
        frame's schema does not — add_column defaults, rename maps,
        constraints — and clobbering it breaks decode of pre-add
        chunks (the engine append path's ``schema=None`` guard,
        engine.write_checkpoint). Schema changes go through the DDL
        functions, never through a writer's frame schema."""
        if eng.read_checkpoint_schema(self._path) is None:
            eng.write_checkpoint_schema(
                self._path,
                pa.ipc.read_schema(pa.py_buffer(self._schema_arrow_ser)))

    def commit(self, messages) -> None:
        eng = _engine()
        self._write_schema_sidecar(eng)
        if self._overwrite and self._prior:
            fsys, p = eng._manifest_fs(self._path)
            written = {f for m in messages if m for f in m.files}
            for base in self._prior:
                if base not in written:
                    try:
                        fsys.delete_file(f"{p.rstrip('/')}/{base}")
                    except OSError:
                        pass
        # a LOGGED dir must stay fully attributed: files no commit
        # record names are invisible to time travel / read_changes /
        # the streaming source, a silently-inconsistent table. Batch
        # appends record an `append` commit (overwrite on logged dirs
        # is refused in __init__). Unlogged dirs stay unlogged (plain
        # -dir batch behavior). Crash window: files land before the
        # record, so a driver death in between leaves listing-visible
        # but ledger-invisible files — re-run the append or
        # compact_checkpoint to reconcile.
        if not self._overwrite \
                and eng.read_commit_log(self._path) is not None:
            files = sorted(f for m in messages if m for f in m.files)
            if files:
                eng._append_commit(self._path, "append", "", files)

    def abort(self, messages) -> None:
        eng = _engine()
        fsys, p = eng._manifest_fs(self._path)
        for m in messages:
            if not m:
                continue
            for base in m.files:
                try:
                    fsys.delete_file(f"{p.rstrip('/')}/{base}")
                except OSError:
                    pass


class WcfsStreamWriter(WcfsWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("wcfs")`` — the native streaming sink:
    each micro-batch task encodes its Arrow batches through the same
    engine closure as the batch writer and lands one manifest file;
    the per-batch ``commit`` records the batch's files in a
    ``_stream_commits/{batchId}.json`` marker, making replays (driver
    restart between sink commit and the engine's own WAL commit — the
    standard at-least-once window) IDEMPOTENT: a batchId whose marker
    already exists deletes its re-written files instead of committing
    duplicates. Byte-identical content arriving in two DIFFERENT
    batches collapses to one copy on engine decodes (content-based
    chunk identity — the replay-idempotence contract shared with
    streaming.encode_stream); the wcfs reader's clustered gate refuses
    such duplicates instead, and ``compact_checkpoint`` materializes
    the collapse. Append output mode only."""

    def write(self, it):  # Arrow batches, same as the batch writer
        return WcfsWriter.write(self, it)

    def _log_ok(self, eng, batch_files: list[str], batch_id: int) -> bool:
        """Log sink batches into the ``_commits`` ledger so the table is
        first-class for time travel / read_changes / the streaming
        SOURCE — but only when that cannot mis-attribute history: the
        dir is already logged, or this is the FIRST batch of a fresh
        dir (no other data files, no earlier batch markers). An
        unlogged dir with pre-existing data (legacy batch-writer
        output, or a stream started before ledger support) stays
        unlogged — its old files belong to no commit, and log-based
        readers would silently skip them. Evaluated at COMMIT time
        because the sink runner re-instantiates this writer per phase:
        at commit the batch's own files already exist on disk."""
        if eng.read_commit_log(self._path) is not None:
            return True
        others = set(eng._list_data_files(self._path)) - set(batch_files)
        if others:
            return False
        from pyarrow import fs as pafs

        fsys, p = eng._manifest_fs(self._path)
        mdir = f"{p.rstrip('/')}/_stream_commits"
        try:
            infos = fsys.get_file_info(pafs.FileSelector(mdir,
                                                         recursive=False))
        except (OSError, ValueError):
            return True  # no marker dir yet: fresh table
        import json as _json

        me = f"{batch_id:010d}.json"
        others = [i for i in infos if i.type == pafs.FileType.File
                  and i.base_name != me]
        if len(others) > 64:
            return False  # long-lived pre-ledger stream: stay unlogged
        for i in others:
            # a marker attributing ZERO files (an empty early batch)
            # blocks nothing — only real unlogged data files do
            try:
                with fsys.open_input_stream(i.path) as f:
                    if _json.loads(f.read().decode()).get("files"):
                        return False
            except (OSError, ValueError):
                return False
        return True

    def _batch_logged(self, eng, files: list[str]) -> bool:
        log = eng.read_commit_log(self._path) or []
        fset = set(files)
        return any(fset == set(r["files"]) for r in log)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        import json

        eng = _engine()
        fsys, p = eng._manifest_fs(self._path)
        p = p.rstrip("/")
        files = sorted(f for m in messages if m for f in m.files)
        mdir = f"{p}/_stream_commits"
        try:
            fsys.create_dir(mdir, recursive=True)
        except (OSError, ValueError):
            pass
        marker = f"{mdir}/{batchId:010d}.json"
        from pyarrow import fs as pafs

        if fsys.get_file_info(marker).type != pafs.FileType.NotFound:
            # replayed micro-batch: the first application committed —
            # its files are the batch; drop this attempt's duplicates,
            # and HEAL a crash that landed between the marker write and
            # the ledger append (the first application's files would
            # otherwise stay unattributed forever)
            for base in files:
                try:
                    fsys.delete_file(f"{p}/{base}")
                except OSError:
                    pass
            with fsys.open_input_stream(marker) as f:
                first = sorted(json.loads(f.read().decode())["files"])
            if (first and self._log_ok(eng, first, batchId)
                    and not self._batch_logged(eng, first)):
                # serialize the heal: two concurrent replays of the same
                # batchId (zombie driver) would both pass _batch_logged
                # and double-append the batch's files — claim an
                # exclusive per-batch heal marker first, and re-check
                # after winning (the loser's heal may have landed
                # between our check and our claim on a retried batch)
                healm = f"{mdir}/{batchId:010d}.heal"
                if eng._publish_exclusive(fsys, healm, b"{}"):
                    if not self._batch_logged(eng, first):
                        eng._append_commit(self._path, "append", "",
                                           first)
                elif not self._batch_logged(eng, first):
                    # a prior healer claimed the marker but its append
                    # never landed (crash between claim and append).
                    # Liveness fallback: past a staleness window the
                    # batch is certainly orphaned — append after a
                    # fresh re-check. The window narrows, not closes,
                    # the multi-writer race on object stores (the same
                    # caveat _publish_exclusive documents for S3).
                    import time as _time

                    # no mtime (a filesystem that reports none) reads
                    # as stale: age 0 would leave the batch orphaned
                    # forever
                    info = fsys.get_file_info(healm)
                    mtime = getattr(info, "mtime", None)
                    age = (_time.time() - mtime.timestamp()
                           if mtime is not None else float("inf"))
                    if age >= _HEAL_STALE_SECONDS:
                        eng._append_commit(self._path, "append", "",
                                           first)
            return
        with fsys.open_output_stream(marker) as f:
            f.write(json.dumps({"batch_id": batchId,
                                "files": files}).encode())
        self._write_schema_sidecar(eng)
        if files and self._log_ok(eng, files, batchId):
            eng._append_commit(self._path, "append", "", files)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        WcfsWriter.abort(self, messages)


# ---------------------------------------------------------------------------
# streaming source: tail a logged checkpoint's commit ledger
# ---------------------------------------------------------------------------


@dataclass
class _StreamPartition(InputPartition):
    path: str       # one manifest parquet file
    seq: int        # the commit it belongs to (offset attribution)
    deletes: dict | None = None  # the commit's OWN-chunk mask blobs
    # CDF delete attribution (mode='delete'): the file's hit chunks —
    # chunk_key -> (before-mask blobs, this commit's new-mask blobs)
    mode: str = "insert"
    chunks: dict | None = None


class WcfsStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("wcfs").load(dir)`` — tail a LOGGED
    checkpoint as a micro-batch stream. Offsets are commit-ledger
    sequence numbers (``{"seq": N}``), so a batch is a half-open
    commit window ``(start, end]`` planned entirely from the immutable
    ``_commits`` records: replanning any window yields the same rows
    (content-identical files), which is what makes Spark's
    offset-log-based recovery exactly-once downstream.

    APPEND-ONLY commits are streamable (create / append / the
    ``compact`` fresh-history seed; ``replace`` optimizes are skipped
    when no prior window mutation is stranded — same rule as
    ``read_changes``). A delete/upsert/merge/restore/clone commit in
    the window raises: tailing a mutating table as inserts would
    silently misrepresent it — consume those via ``read_changes`` /
    ``sync_checkpoint``, or opt into CDF mode below. Each partition is
    ONE manifest file of ONE commit decoded executor-side with the
    engine's per-file streaming decode (zero shuffle, the clustered-
    by-construction layout every single-commit encode writes); the
    commit's own-chunk deletion sidecars ride inside the partition
    objects (planning-time reader state never reaches executors —
    Spark pickles the read function before ``partitions()`` runs).

    **CDF mode** (``option("cdf", "true")`` + ``option("key_col",
    ...)``): the stream becomes a CHANGE-DATA-FEED — Delta's
    ``readChangeFeed`` shape. Rows carry ``_change_type``
    ('insert' | 'delete') and ``_commit_seq``; delete/upsert/merge
    commits stream as one key-only 'delete' row per newly-dead key
    plus the upsert generation's inserts (an update = delete+insert
    pair, exactly ``read_changes``' contract). Delete attribution is
    the same per-chunk mask diff ``read_changes`` runs, executed
    inside the partition reader: each delete partition names the hit
    chunks of ONE as-of-previous data file with their before/new mask
    blobs; the reader decodes only those chunks' key sub-columns and
    emits keys whose every alive position is newly masked. REQUIRES
    table-unique keys (the upsert/merge key contract): a key
    duplicated across chunks in one snapshot may emit duplicate
    delete rows where the batch feed's cross-chunk groupBy collapses
    them — use ``read_changes`` for non-unique-key layouts. Planning
    reads the as-of-previous files' blob-free chunk index driver-side
    to locate each hit chunk's owner, capped at
    ``_PLAN_CDF_FILES_MAX`` files per mutation commit (past it,
    consume via ``read_changes``' distributed planning instead).

    Options: ``starting_seq`` (exclusive; default -1 = full history
    bootstrap, Kafka's `earliest`), ``with_seq`` (append a
    ``_commit_seq`` long column for attribution), ``verify_checksums``,
    ``max_commits_per_batch`` (admission control: cap how many commits
    one micro-batch admits — Kafka's ``maxOffsetsPerTrigger`` shape.
    Pacing only, correctness never depends on it. Two deliberate
    limits: the FIRST micro-batch after any (re)start is uncapped —
    offsets compare by equality, so capping before the stream's
    position is known could move the offset backwards after a restart
    and replay commits as duplicates — and ``Trigger.AvailableNow``
    snapshots one end offset and stops there, so use pacing with a
    RUNNING trigger).
    """

    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError(
                "wcfs streaming reads take a checkpoint dir: "
                "spark.readStream.format('wcfs').load(dir)"
            )
        self._verify = str(options.get("verify_checksums",
                                       "false")).lower() == "true"
        self._with_seq = str(options.get("with_seq",
                                         "false")).lower() == "true"
        self._cdf = str(options.get("cdf", "false")).lower() == "true"
        self._key_col = options.get("key_col")
        if self._cdf and not self._key_col:
            raise ValueError(
                "CDF streaming needs the key column to name deleted "
                "keys: .option('cdf','true').option('key_col', ...)"
            )
        self._max_commits = int(options.get("max_commits_per_batch", 0))
        start = int(options.get("starting_seq", -1))
        self._start = start
        # decode under the TABLE schema; attribution columns are
        # appended by read() after decode, never rebuilt from manifest
        # sub-columns. Sidecar-backed fields keep added-column default
        # metadata the Spark<->Arrow round trip drops.
        self._schema_arrow_ser = _decode_arrow_schema(
            self._path, schema,
            drop=("_commit_seq", "_change_type")).serialize().to_pybytes()
        self._cursor: int | None = None  # pacing memory, not correctness

    # -- offsets ------------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"seq": self._start}

    def latestOffset(self) -> dict:
        eng = _engine()
        log = eng.read_commit_log(self._path)
        if log is None:
            raise ValueError(
                f"checkpoint {self._path!r} carries no _commits log — "
                "the streaming source tails the commit ledger; write "
                "via write_checkpoint / the wcfs streaming sink"
            )
        last = log[-1]["seq"] if log else self._start
        # admission control NEVER moves the offset backwards: pacing
        # applies only once a partitions() call has anchored the cursor
        # to Spark's own offsets, so THE FIRST MICRO-BATCH AFTER ANY
        # (RE)START IS UNCAPPED. Offsets are compared by equality, not
        # order — a paced offset behind the committed one after a
        # restart would plan an empty backward batch and then replay
        # already-delivered commits as duplicates. A too-big first
        # batch is merely slow; duplicates are wrong.
        if self._max_commits > 0 and self._cursor is not None:
            admitted = [r["seq"] for r in log
                        if r["seq"] > self._cursor]
            if admitted:
                last = min(last, admitted[
                    min(self._max_commits, len(admitted)) - 1])
        # never let a window MIX data commits with a commit this mode
        # cannot stream (schema evolution, restore/clone, mutations
        # outside cdf): cap the window just BEFORE the first blocking
        # commit so everything prior delivers, then the next window
        # contains the blocker first and fails with an accurate restart
        # hint — a mixed window would strand its data commits forever
        # (the window boundary is baked into Spark's WAL and re-plans
        # identically). Unlike pacing, this capping applies even before
        # the cursor is anchored (base = starting_seq): a FRESH stream
        # over history containing a schema change must still deliver
        # the pre-change commits. Same-option restarts cannot have
        # consumed a blocker (it would have killed the stream), so the
        # cap can only land at or above the committed offset; an
        # option toggle against an old WAL lands behind it and trips
        # partitions()' backward-window guard instead of replaying.
        base = self._cursor if self._cursor is not None else self._start
        news = sorted(r["seq"] for r in log if r["seq"] > base)
        blocking = sorted(
            r["seq"] for r in log
            if r["seq"] > base and self._blocks(r["action"]))
        if blocking and news:
            # blocker next: window = exactly the blocker (the raise
            # then names precisely one commit to skip). Blocker
            # later: everything before it delivers first.
            last = min(last, blocking[0]
                       if blocking[0] == news[0] else blocking[0] - 1)
        last = max(last, base)
        if self._cursor is not None:
            self._cursor = max(last, self._cursor)
        return {"seq": last}

    def _blocks(self, action: str) -> bool:
        """Commits this stream mode cannot deliver (raise in
        partitions): schema evolution and history rewrites always;
        row mutations only outside CDF mode."""
        if action in ("add_column", "rename_column", "drop_column",
                      "alter_type", "restore", "clone"):
            return True
        if action in ("delete", "upsert", "merge"):
            return not self._cdf
        return False

    def commit(self, end: dict) -> None:
        pass  # the ledger is append-only; nothing to release upstream

    def stop(self) -> None:
        pass

    # -- planning -----------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        import pyarrow.parquet as pq

        eng = _engine()
        s, e = int(start["seq"]), int(end["seq"])
        if e < s:
            raise ValueError(
                f"stream window ({s}, {e}] of {self._path!r} runs "
                "BACKWARDS — the offset log disagrees with this "
                "reader's admission state (were cdf/starting_seq "
                "options changed against an existing "
                "checkpointLocation?); restart with a fresh "
                "checkpointLocation"
            )
        # Spark's offsets are authoritative: anchor the pacing cursor to
        # them so a restarted query resumes admission control from its
        # committed position, never behind it
        if self._cursor is None or e > self._cursor:
            self._cursor = e
        log = eng.read_commit_log(self._path) or []
        window = [r for r in log if s < r["seq"] <= e]
        # constraint commits change neither rows nor schema: skip.
        # Schema-evolution commits (add/rename/drop/alter) stop the
        # stream with a restart hint — the reader's schema is fixed at
        # stream start, and silently continuing would either drop a new
        # column or mis-name/mis-type existing ones (Delta's
        # schema-change-stops-the-stream convention).
        window = [r for r in window
                  if r["action"] not in ("add_constraint",
                                         "drop_constraint")]
        evo = {r["seq"]: r["action"] for r in window
               if r["action"] in ("add_column", "rename_column",
                                  "drop_column", "alter_type")}
        if evo:
            stranded = [r["seq"] for r in window if r["seq"] < min(evo)]
            if stranded:
                # only reachable on a pre-capping WAL or after options
                # changed against an existing checkpoint: latestOffset
                # caps windows BEFORE the first blocking commit, so a
                # normally-planned window never mixes
                raise ValueError(
                    f"window ({s}, {e}] of {self._path!r} mixes data "
                    f"commit(s) {stranded} with the schema change at "
                    f"commit {min(evo)}, and a planned window cannot "
                    "be split — read the window via batch "
                    "(decode_checkpoint(as_of=...) / read_changes), "
                    "then restart with a FRESH checkpointLocation and "
                    f"starting_seq={max(evo)}"
                )
            raise ValueError(
                f"commit(s) {evo} of {self._path!r} evolve the table "
                "schema — the stream's schema is fixed at start; "
                "restart the stream with a FRESH checkpointLocation "
                f"and starting_seq={max(evo)} to adopt the new schema "
                "(the old checkpointLocation's WAL replans this same "
                "window and re-raises; a rename additionally needs "
                "compact_checkpoint: the source reads physical "
                "layouts only)"
            )
        ok_actions = ("create", "append", "compact", "replace")
        if self._cdf:
            ok_actions += ("delete", "upsert", "merge")
        bad = [r for r in window if r["action"] not in ok_actions]
        if bad:
            acts = {r["seq"]: r["action"] for r in bad}
            hint = ("restart the stream from a snapshot"
                    if self._cdf else
                    "consume mutations via read_changes/sync_checkpoint,"
                    " opt into option('cdf','true'), or restart the "
                    "stream from a snapshot")
            raise ValueError(
                f"commit(s) {acts} of {self._path!r} mutate or rewrite "
                "history — the wcfs streaming source tails APPEND-ONLY "
                f"commits; {hint}"
            )
        replaces = [r["seq"] for r in window if r["action"] == "replace"]
        if replaces:
            # an in-place optimize vacuumed every pre-optimize file:
            # append commits before it in the window are gone
            barrier = max(replaces)
            lost = [r["seq"] for r in window
                    if r["seq"] < barrier and r["action"] != "replace"]
            if lost:
                raise ValueError(
                    f"commits {lost} of {self._path!r} precede the "
                    f"in-place optimize at commit {barrier} (their files "
                    "were vacuumed) — restart the stream with a FRESH "
                    f"checkpointLocation and starting_seq={barrier}"
                )
            window = [r for r in window if r["action"] != "replace"]
        if eng._checkpoint_rename_map(self._path):
            raise ValueError(
                f"checkpoint {self._path!r} carries column renames — "
                "the wcfs source reads physical layouts only; "
                "compact_checkpoint to materialize the renames first"
            )
        fsys, p = eng._manifest_fs(self._path)
        root = p.rstrip("/")
        out = []
        for r in window:
            # planning-time pyarrow pass over blob-free metadata: which
            # files carry data rows, and the commit's own-chunk mask
            # sidecars (a logged write_checkpoint of a delete_keys
            # result carries deletion vectors for its OWN chunks —
            # those rows must not stream as inserts)
            if len(r["files"]) > _PLAN_STREAM_FILES_MAX:
                raise ValueError(
                    f"commit {r['seq']} of {self._path!r} spans "
                    f"{len(r['files'])} files — past "
                    f"{_PLAN_STREAM_FILES_MAX} the stream's serial "
                    "driver-side planning pass is the wrong tool; read "
                    "this window via decode_checkpoint/read_changes and "
                    "restart the stream with a FRESH checkpointLocation "
                    f"and starting_seq={r['seq']}"
                )
            deletes: dict = {}
            data_files = []
            file_chunks: dict = {}  # file -> set of its data chunk_keys
            gate_pairs: set = set()
            for base in sorted(r["files"]):
                fp = f"{root}/{base}"
                t = pq.read_table(fp, columns=["chunk_key", "column"],
                                  filesystem=fsys)
                cols = t.column("column").to_pylist()
                ckeys = t.column("chunk_key").to_pylist()
                rows = [(ck, c) for ck, c in zip(ckeys, cols)
                        if c != eng.DONE_COLUMN
                        and not c.startswith(eng.DELETES_PREFIX)]
                pairs = set(rows)
                has_data = bool(pairs)
                dup = gate_pairs & pairs
                if len(pairs) != len(rows) or dup:
                    ck, c = next(iter(dup)) if dup else next(
                        p for p in pairs if rows.count(p) > 1)
                    raise ValueError(
                        f"commit {r['seq']} of {self._path!r} carries "
                        f"duplicate chunk ({ck!r}, {c!r}) "
                        "(a resumed encode manifest?) — the "
                        "per-file streaming decode would emit the "
                        "rows twice; compact_checkpoint the source "
                        "and restart from its snapshot"
                    )
                gate_pairs |= pairs
                file_chunks[fp] = {ck for ck, _ in pairs}
                didx = sorted({c for c in cols
                               if c.startswith(eng.DELETES_PREFIX)})
                if didx:
                    dt = pq.read_table(
                        fp, columns=["chunk_key", "blob"], filesystem=fsys,
                        filters=[("column", "in", didx)])
                    for ck, blob in zip(dt.column("chunk_key").to_pylist(),
                                        dt.column("blob").to_pylist()):
                        deletes.setdefault(ck, []).append(bytes(blob))
                    if sum(len(v) for v in deletes.values()) \
                            > _PLAN_DELETES_MAX:
                        raise ValueError(
                            f"commit {r['seq']} of {self._path!r} carries "
                            f"more than {_PLAN_DELETES_MAX} deletion-"
                            "vector sidecars — compact_checkpoint and "
                            "restart from its snapshot"
                        )
                if has_data:
                    data_files.append(fp)
            # each insert partition carries ONLY its own file's chunks'
            # masks — shipping the whole commit's dict into every
            # partition is O(files x masks) pickled planning payload
            out.extend(
                _StreamPartition(
                    path=fp, seq=r["seq"],
                    deletes={ck: deletes[ck]
                             for ck in file_chunks.get(fp, ())
                             if ck in deletes} or None)
                for fp in data_files)
            if not (self._cdf and deletes):
                continue
            prevs = [x["seq"] for x in log if x["seq"] < r["seq"]]
            if not prevs:
                continue  # first commit's masks cover only its own rows
            # CDF delete attribution: locate each hit chunk's owning
            # data file AS OF the previous commit and gather its
            # before-mask blobs — one blob-free chunk-index read per
            # as-of-prev file, driver-side, bounded by the cap
            own = {ck for ck, _ in gate_pairs}
            hit = {ck for ck in deletes if ck not in own}
            if not hit:
                continue
            before_files = eng._files_as_of(self._path, max(prevs))
            if len(before_files) > _PLAN_CDF_FILES_MAX:
                raise ValueError(
                    f"commit {r['seq']} of {self._path!r} mutates a "
                    f"table of {len(before_files)} files — past "
                    f"{_PLAN_CDF_FILES_MAX} the CDF stream's driver-side "
                    "chunk-owner planning is the wrong tool; consume "
                    "this window via read_changes (distributed planning)"
                )
            owner: dict = {}
            before: dict = {ck: [] for ck in hit}
            hit_list = sorted(hit)
            for b2 in before_files:
                fp2 = f"{root}/{b2}"
                t2 = pq.read_table(fp2, columns=["chunk_key", "column"],
                                   filesystem=fsys,
                                   filters=[("chunk_key", "in", hit_list)])
                c2 = t2.column("column").to_pylist()
                k2 = t2.column("chunk_key").to_pylist()
                side_cols = sorted({c for c in c2
                                    if c.startswith(eng.DELETES_PREFIX)})
                for ck, c in zip(k2, c2):
                    if (c != eng.DONE_COLUMN
                            and not c.startswith(eng.DELETES_PREFIX)):
                        owner[ck] = fp2
                if side_cols:
                    bt = pq.read_table(
                        fp2, columns=["chunk_key", "blob"], filesystem=fsys,
                        filters=[("chunk_key", "in", hit_list),
                                 ("column", "in", side_cols)])
                    for ck, blob in zip(bt.column("chunk_key").to_pylist(),
                                        bt.column("blob").to_pylist()):
                        before[ck].append(bytes(blob))
            lost = hit - set(owner)
            if lost:
                raise ValueError(
                    f"commit {r['seq']} of {self._path!r} masks chunk(s) "
                    f"{sorted(lost)[:3]}... absent from the previous "
                    "snapshot's files — damaged or externally rewritten "
                    "checkpoint"
                )
            per_file: dict = {}
            for ck in hit_list:
                per_file.setdefault(owner[ck], {})[ck] = (
                    before[ck], deletes[ck])
            out.extend(
                _StreamPartition(path=f2, seq=r["seq"], mode="delete",
                                 chunks=cks)
                for f2, cks in sorted(per_file.items()))
        return out

    # -- execution ----------------------------------------------------------

    def read(self, partition: _StreamPartition) -> Iterator["pa.RecordBatch"]:
        eng = _engine()
        sch = pa.ipc.read_schema(pa.py_buffer(self._schema_arrow_ser))
        if partition.mode == "delete":
            yield from self._read_deletes(eng, sch, partition)
            return
        added = eng._added_defaults(sch)
        fn = eng.make_file_decode_fn(
            sch, None, None, False,
            verify_checksums=self._verify,
            extra_deletes=partition.deletes,
            defaults=added or None,
        )
        rb_in = pa.RecordBatch.from_pydict({
            "path": pa.array([partition.path], pa.string()),
            "keys": pa.array([None], pa.list_(pa.string())),
        })
        for rb in fn(iter([rb_in])):
            if self._cdf:
                rb = rb.append_column(
                    "_change_type",
                    pa.array(["insert"] * rb.num_rows, pa.string()))
            if self._cdf or self._with_seq:
                rb = rb.append_column(
                    "_commit_seq",
                    pa.array([partition.seq] * rb.num_rows, pa.int64()))
            yield rb

    def _read_deletes(self, eng, sch: pa.Schema,
                      partition: _StreamPartition):
        """The per-chunk mask diff, executor-side: decode ONLY the hit
        chunks' key sub-columns from this as-of-previous file, then a
        key died at this commit iff every position alive under the
        BEFORE masks is named by the commit's NEW masks. Table-unique
        keys make this chunk-local diff equal ``read_changes``' global
        one (docstring contract above)."""
        import pyarrow.parquet as pq

        import numpy as np

        kf = sch.field(self._key_col)
        phys = eng._phys_sub_names(kf.name, kf.type)
        hit_list = sorted(partition.chunks)
        read_cols = ["chunk_key", "column", "blob"]
        if self._verify:
            read_cols.append("checksum")
        t = pq.read_table(
            partition.path, columns=read_cols,
            filters=[("chunk_key", "in", hit_list),
                     ("column", "in", phys)])
        ckeys = t.column("chunk_key").to_pylist()
        cols = t.column("column").to_pylist()
        blobs = t.column("blob")
        sums = (t.column("checksum").to_pylist()
                if self._verify else None)
        by_chunk: dict = {}
        expect: dict = {}
        for i, ck in enumerate(ckeys):
            by_chunk.setdefault(ck, {})[cols[i]] = blobs[i].as_py()
            if sums is not None:
                expect[(ck, cols[i])] = sums[i]
        gone = []
        for ck in hit_list:
            sub = by_chunk.get(ck)
            if sub is None:
                raise IOError(
                    f"hit chunk {ck!r} vanished from {partition.path!r} "
                    "between planning and read — concurrently rewritten "
                    "checkpoint; restart the stream"
                )
            cvs = {c: eng._decode_blob(b) for c, b in sub.items()}
            if sums is not None:
                for c, cv in cvs.items():
                    got = eng._checksum(cv)
                    if got != expect.get((ck, c)):
                        raise IOError(
                            f"checksum mismatch decoding chunk {ck!r} "
                            f"column {c!r} for CDF delete attribution: "
                            f"manifest says {expect.get((ck, c))}, "
                            f"decoded values hash to {got}"
                        )
            arr = eng._rebuild_field(kf, cvs)
            n = len(arr)
            bef_blobs, new_blobs = partition.chunks[ck]
            alive = np.ones(n, dtype=bool)
            for b in bef_blobs:
                alive[eng._decode_positions(b)] = False
            newly = np.zeros(n, dtype=bool)
            for b in new_blobs:
                newly[eng._decode_positions(b)] = True
            dead_now = alive & newly
            if not dead_now.any():
                continue
            still = set(arr.filter(pa.array(alive & ~newly)).to_pylist())
            # a duplicate key alive at another position of THIS chunk
            # is not table-dead; chunk-local dedup mirrors the batch
            # feed's key-level grouping (cross-chunk duplicates are
            # outside the CDF contract — see class docstring)
            dead_keys = set(arr.filter(pa.array(dead_now)).to_pylist())
            # no sort: emission order is irrelevant to the batch, and a
            # null key (None in the set) makes sorted() raise TypeError
            # where read_changes' groupBy path handles nulls fine
            gone.extend(dead_keys - still)
        karr = pa.array(gone, type=kf.type)
        n = len(karr)
        arrays = [
            karr if f.name == kf.name else pa.nulls(n, f.type)
            for f in sch
        ]
        out = pa.schema(
            list(sch) + [pa.field("_change_type", pa.string()),
                         pa.field("_commit_seq", pa.int64())])
        yield pa.RecordBatch.from_arrays(
            arrays + [pa.array(["delete"] * n, pa.string()),
                      pa.array([partition.seq] * n, pa.int64())],
            schema=out)


def register(spark) -> None:
    """Register the ``wcfs`` format on a session:
    ``register(spark); spark.read.format('wcfs').load(dir)``.
    Also enables Python data source filter pushdown (off by default in
    Spark 4.1) — without it Spark refuses readers that implement
    ``pushFilters``."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # older Spark: no such conf, reader still registers
    spark.dataSource.register(WcfsDataSource)
