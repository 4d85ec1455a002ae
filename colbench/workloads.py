"""The three workloads and the operations they issue.

Every operation goes through the engine's public functions and is timed
from outside. ``ingest`` encodes and persists the token table; ``serve``
is one closed-loop client issuing a read-mostly mix of point lookups,
pushdown analytics and small mutations; ``scan`` (not in
BENCHMARK.json, see README.md) reads a persisted hash-layout checkpoint
back through three doorways.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import kernels

CHUNK_ROWS = 65_536
TOPK = 10
UPSERT_ROWS = 20
DELETE_KEYS = 5
# rows of the generated table, per workload (scaled by --scale)
ROWS = {"ingest": 40_000, "scan": 80_000, "serve": 40_000}
# the codecs the selector picks on these tables; each gets kernel figures
CODECS = ("dict_rans", "dict_rle", "rle", "fsst", "for_bitpack", "delta")
READS = ("decode", "decode_verified", "sql_scan")
ANALYTICS = ("count", "sum", "topk")
MUTATIONS = ("upsert", "delete")
# one warm-up of each operation type, then rounds until time is up
WARMUP = {"ingest": ("ingest",), "scan": READS,
          "serve": ("lookup",) + ANALYTICS + MUTATIONS}


def rounds(workload: str, i: int) -> tuple:
    """Round ``i``. A serve round is one operation of a fixed ten-step
    cycle: 7 lookups, 2 analytics, 1 mutation, the analytics cycling
    count, sum, topk and the mutations upsert, delete. Every serve run
    thus issues the same sequence, and its mix depends on its length
    only; its parameters (keys, ranges, batches) come from the seed."""
    if workload != "serve":
        return WARMUP[workload]
    cycle, step = divmod(i, 10)
    if step in (2, 8):
        return (ANALYTICS[(2 * cycle + (step == 8)) % 3],)
    if step == 5:
        return (MUTATIONS[cycle % 2],)
    return ("lookup",)


class Workload:
    """One run: set-up, warm-up, the timed loop and, traced, a sweep."""

    def __init__(self, name, seed, seconds, tracer, work, spark_env,
                 scale=1.0):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.tr, self.work, self.spark_env = tracer, work, spark_env
        self.n_rows = max(64, int(ROWS[name] * scale))
        self.rng = np.random.default_rng([seed, 1])
        self.ops: list[tuple[str, float]] = []  # timed, succeeded
        self.failed = 0
        self.model = None
        self.ck = None          # the checkpoint reads and mutations target
        self.mutated = False
        self.n_ckpt = 0
        self.next_doc = 10 ** 8

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from wills_columnar_format_spark import datasource
        from wills_columnar_format_spark.session import get_spark

        with self.tr.span("session.get_spark"):
            self.spark = get_spark(app=f"colbench-{self.name}",
                                   **self.spark_env)
        self.sc = self.spark.sparkContext
        self.tr.sc = self.sc
        datasource.register(self.spark)
        self.table = gen.token_table(self.n_rows, seed=self.seed)
        self.n_tokens = len(self.table.column("tokens").combine_chunks().values)
        src = os.path.join(self.work, "input")
        os.makedirs(src)
        pq.write_table(self.table, os.path.join(src, "part-0.parquet"))
        self.df = self.spark.read.parquet(src)
        if self.name in ("ingest", "scan"):
            self.input_fp = checks.fingerprint(self.df)
            checks.check_counts("input", self.input_fp, self.n_rows,
                                self.n_tokens)
        if self.name in ("scan", "serve"):
            self.ck = self._encode("hash")
            self.manifest_stats = self._manifest_stats(self.ck)
        if self.name == "serve":
            self.pristine = os.path.join(self.work, "pristine")
            shutil.copytree(self.ck, self.pristine)
            self.model = checks.Model(self.table)

    def restore(self) -> None:
        """Serve: put back the pristine checkpoint and model."""
        shutil.rmtree(self.ck)
        shutil.copytree(self.pristine, self.ck)
        self.model = checks.Model(self.table)
        self.mutated = False

    # -- encode path -------------------------------------------------------

    def _encode(self, partitioner: str) -> str:
        """encode_table + write_checkpoint into a fresh directory."""
        from wills_columnar_format_spark import engine

        self.n_ckpt += 1
        d = os.path.join(self.work, f"ckpt-{self.n_ckpt}")
        with self.tr.span("engine.encode_table", jobs=True):
            m = engine.encode_table(self.df, key_col="doc_id",
                                    partitioner=partitioner,
                                    chunk_rows=CHUNK_ROWS)
        with self.tr.span("engine.write_checkpoint", jobs=True):
            engine.write_checkpoint(m, d, schema=self.df.schema)
        return d

    def op_ingest(self) -> None:
        old = self.ck if self.name == "ingest" else None
        d = self._encode("range")
        checks.check_manifest("ingest", self._manifest(d), self.n_rows,
                              self.n_tokens)
        if self.name == "ingest":
            self.ck = d
            if old:
                shutil.rmtree(old)

    def _layout(self):
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return (self.df.repartitionByRange(n, "doc_id")
                .sortWithinPartitions("doc_id"))

    def op_passthrough(self) -> None:
        """The encode's repartition, sort and mapInArrow with no engine code:
        the function consumes every batch and returns a row count."""
        def count_rows(batches):
            n = 0
            for b in batches:
                n += b.num_rows
            yield pa.RecordBatch.from_pydict({"n": [n]})

        with self.tr.span("spark.layout_passthrough", jobs=True):
            rows = self._layout().mapInArrow(count_rows, "n long").collect()
        checks.expect_equal("passthrough rows", sum(r.n for r in rows),
                            self.n_rows)

    def op_encode_fn(self) -> None:
        """The same encode, with the function ``engine.make_encode_fn``
        returns wrapped to sum its compute and input-wait time per task."""
        from wills_columnar_format_spark import engine

        compute = self.sc.accumulator(0.0)
        wait = self.sc.accumulator(0.0)
        fn = _timed(engine.make_encode_fn(key_col="doc_id",
                                          chunk_rows=CHUNK_ROWS),
                    compute, wait)
        with self.tr.span("engine.encode_fn", jobs=True) as s:
            rows = (self._layout().mapInArrow(fn, engine.MANIFEST_DDL)
                    .select("column", "n_values").collect())
        s.attrs.update(compute_s=compute.value, input_wait_s=wait.value)
        checks.expect_equal(
            "encode_fn tokens",
            sum(r.n_values for r in rows if r.column == "tokens#values"),
            self.n_tokens)

    # -- read path -------------------------------------------------------

    def _read(self, span: str, make) -> None:
        with self.tr.span(f"{span}.plan", jobs=True):
            out = make()
        with self.tr.span(f"{span}.exec", jobs=True):
            fp = checks.fingerprint(out)
        if self.mutated or self.name == "serve":
            m = self._need_model().df
            checks.expect_equal(f"{span} rows", fp["n_rows"], len(m))
            checks.expect_equal(f"{span} n_tok sum", fp["sum_n_tok"],
                                int(m["n_tok"].sum()))
        else:
            checks.check_fingerprint(span, fp, self.input_fp)

    def op_decode(self) -> None:
        from wills_columnar_format_spark import engine

        self._read("engine.decode_checkpoint",
                   lambda: engine.decode_checkpoint(self.spark, self.ck))

    def op_decode_verified(self) -> None:
        from wills_columnar_format_spark import engine

        self._read("engine.decode_checkpoint.verified",
                   lambda: engine.decode_checkpoint(self.spark, self.ck,
                                                    verify_checksums=True))

    def op_sql_scan(self) -> None:
        self._read("datasource.load",
                   lambda: self.spark.read.format("wcfs").load(self.ck))

    # -- serve operations --------------------------------------------------

    def _need_model(self) -> checks.Model:
        if self.model is None:
            self.model = checks.Model(self.table)
        return self.model

    def _range(self) -> tuple[int, int]:
        lo = int(self.rng.integers(1, 300))
        return lo, lo + int(self.rng.integers(20, 600))

    def op_lookup(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        if model.deleted and self.rng.random() < 0.2:
            key = model.deleted[int(self.rng.integers(len(model.deleted)))]
        else:
            key = model.keys()[int(self.rng.integers(len(model.keys())))]
        name = "engine.decode_checkpoint.lookup"
        with self.tr.span(f"{name}.plan", jobs=True):
            out = engine.decode_checkpoint(self.spark, self.ck, keys=[key],
                                           key_col="doc_id")
        with self.tr.span(f"{name}.exec", jobs=True):
            rows = [r.asDict() for r in out.collect()]
        model.check_lookup(key, rows)

    def _analytic(self, name, make):
        with self.tr.span(f"engine.{name}.plan", jobs=True):
            out = make()
        with self.tr.span(f"engine.{name}.exec", jobs=True):
            return [r.asDict() for r in out.collect()]

    def op_count(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        lo, hi = self._range()
        rows = self._analytic("count_where_checkpoint", lambda: (
            engine.count_where_checkpoint(self.spark, self.ck,
                                          ("n_tok", lo, hi))))
        model.check_count(lo, hi, rows[0]["n_rows"])

    def op_sum(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        lo, hi = self._range()
        rows = self._analytic("sum_where_checkpoint", lambda: (
            engine.sum_where_checkpoint(self.spark, self.ck, "n_tok",
                                        ("n_tok", lo, hi))))
        model.check_sum(lo, hi, rows[0]["n_rows"], rows[0]["sum_val"])

    def op_topk(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        rows = self._analytic("topk_checkpoint", lambda: (
            engine.topk_checkpoint(self.spark, self.ck, "n_tok", TOPK)))
        model.check_topk(TOPK, rows)

    def _mutate(self, name, call) -> None:
        before = _data_files(self.ck)
        with self.tr.span(f"engine.{name}", jobs=True) as s:
            call()
        if s is not None:
            s.attrs["files_added"] = len(_data_files(self.ck) - before)
        self.mutated = True

    def op_upsert(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        keys = model.keys()
        batch = gen.token_table(UPSERT_ROWS, seed=int(self.rng.integers(2**31)),
                                doc_start=self.next_doc)
        self.next_doc += UPSERT_ROWS
        # half the batch replaces existing rows, half adds new ones
        pick = self.rng.choice(len(keys), UPSERT_ROWS // 2, replace=False)
        ids = batch.column("doc_id").to_pylist()
        ids[:UPSERT_ROWS // 2] = [keys[i] for i in pick]
        batch = batch.set_column(0, "doc_id", pa.array(ids))
        bdf = self.spark.createDataFrame(batch.to_pandas(),
                                         schema=self.df.schema)
        self._mutate("upsert_checkpoint", lambda: engine.upsert_checkpoint(
            self.spark, self.ck, bdf, "doc_id"))
        model.upsert(batch)

    def op_delete(self) -> None:
        from wills_columnar_format_spark import engine

        model = self._need_model()
        keys = model.keys()
        pick = self.rng.choice(len(keys), DELETE_KEYS, replace=False)
        victims = [keys[i] for i in pick]
        self._mutate("delete_keys_checkpoint",
                     lambda: engine.delete_keys_checkpoint(
                         self.spark, self.ck, victims, "doc_id"))
        model.delete(victims)

    # -- driving -----------------------------------------------------------

    def run_op(self, kind: str, timed: bool) -> None:
        """One operation. A timed one that raises counts as failed; a wrong
        result raises ``CheckFailed`` and ends the run."""
        self.tr.op = f"{kind}-{len(self.tr.spans)}"
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}"):
                getattr(self, f"op_{kind}")()
        except checks.CheckFailed:
            raise
        except Exception:
            if not timed:
                raise
            traceback.print_exc()
            self.failed += 1
            return
        if timed:
            self.ops.append((kind, time.perf_counter() - t0))

    def warm_up(self) -> None:
        self.tr.phase = "warmup"
        for kind in WARMUP[self.name]:
            self.run_op(kind, timed=False)
        if self.name == "serve":
            self.restore()

    def timed_loop(self) -> float:
        """Whole rounds until ``seconds`` have passed; returns the time."""
        self.tr.phase = "timed"
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.seconds:
            for kind in rounds(self.name, i):
                self.run_op(kind, timed=True)
            i += 1
        return time.perf_counter() - t0

    def verify_last(self) -> None:
        """Ingest: decode the last checkpoint it wrote and compare."""
        from wills_columnar_format_spark import engine

        fp = checks.fingerprint(engine.decode_checkpoint(self.spark, self.ck))
        checks.check_fingerprint("ingest decode", fp, self.input_fp)

    def sweep(self) -> None:
        """Traced runs: one operation of every type the workload did not
        issue, so that every layer has its figures in every traced run.
        Reads come before mutations."""
        self.tr.phase = "sweep"
        done = {k for k, _ in self.ops}
        for kind in (("ingest", "passthrough", "encode_fn") + READS
                     + ("lookup",) + ANALYTICS + MUTATIONS):
            if kind not in done:
                self.run_op(kind, timed=False)

    # -- figures -----------------------------------------------------------

    def _manifest(self, d: str) -> pa.Table:
        return pq.read_table(d, columns=["column", "codec", "n_values",
                                         "bytes_out"])

    def _manifest_stats(self, d: str) -> dict:
        m = self._manifest(d)
        col = m.column("column").to_numpy(zero_copy_only=False)
        data = ~np.char.startswith(col.astype(str), "__")
        codec = m.column("codec").to_numpy(zero_copy_only=False)[data]
        out = {
            "blob_bytes_per_token":
                int(m.column("bytes_out").to_numpy()[data].sum())
                / self.n_tokens,
            "engine.manifest.chunks": int((col == "doc_id").sum()),
            "engine.manifest.files": len(_data_files(d)),
        }
        for c in CODECS:
            out[f"selector.chosen.{c}"] = int((codec == c).sum())
        return out

    def end_to_end(self, setup_s: float, window_s: float) -> dict:
        lat = [s for _, s in self.ops]
        return {
            "setup_s": setup_s,
            "op_ms_p50": statistics.median(lat) * 1e3,
            "ops_per_s": len(lat) / window_s,
            "blob_bytes_per_token": self.manifest_stats["blob_bytes_per_token"],
        }

    def detail(self) -> dict:
        """Every timed latency in order, medians by operation type and
        token rates."""
        by = {}
        for kind, s in self.ops:
            by.setdefault(kind, []).append(s)
        out = {"op_ms": [round(s * 1e3, 1) for _, s in self.ops]}
        out.update({f"{k}_ms_p50": statistics.median(v) * 1e3
                    for k, v in by.items()})
        out.update({f"{k}_n": len(v) for k, v in by.items()})
        for kind, rate in (("ingest", "encode_tokens_per_s"),
                           ("decode", "decode_tokens_per_s"),
                           ("decode_verified", "verified_decode_tokens_per_s"),
                           ("sql_scan", "sql_scan_tokens_per_s")):
            if kind in by:
                out[rate] = self.n_tokens * len(by[kind]) / sum(by[kind])
        return out

    def per_layer(self, kernel: dict, machine: dict) -> dict:
        tr = self.tr
        out = {"session.get_spark.s": tr.median_s("session.get_spark",
                                                   warm_only=False),
               "engine.write_checkpoint.s":
                   tr.median_s("engine.write_checkpoint"),
               "engine.write_checkpoint.spark_jobs":
                   tr.median_jobs("engine.write_checkpoint"),
               "spark.layout_passthrough.s":
                   tr.median_s("spark.layout_passthrough")}
        enc = tr.named("engine.encode_fn")
        out["engine.encode_fn.compute_s"] = statistics.median(
            s.attrs["compute_s"] for s in enc)
        out["engine.encode_fn.input_wait_s"] = statistics.median(
            s.attrs["input_wait_s"] for s in enc)
        for k, v in self.manifest_stats.items():
            if k != "blob_bytes_per_token":
                out[k] = v
        for name in ("engine.decode_checkpoint",
                     "engine.decode_checkpoint.verified",
                     "engine.decode_checkpoint.lookup", "datasource.load",
                     "engine.count_where_checkpoint",
                     "engine.sum_where_checkpoint", "engine.topk_checkpoint"):
            out[f"{name}.plan_ms"] = tr.median_s(f"{name}.plan") * 1e3
            out[f"{name}.exec_ms"] = tr.median_s(f"{name}.exec") * 1e3
            out[f"{name}.spark_jobs"] = (tr.median_jobs(f"{name}.plan")
                                         + tr.median_jobs(f"{name}.exec"))
        for name in ("engine.upsert_checkpoint",
                     "engine.delete_keys_checkpoint"):
            spans = tr.named(name)
            out[f"{name}.ms"] = tr.median_s(name) * 1e3
            out[f"{name}.spark_jobs"] = tr.median_jobs(name)
            out[f"{name}.files_added"] = statistics.median(
                s.attrs["files_added"] for s in spans)
        out.update(self.commit_stats())
        for k, v in kernel.items():
            if k.startswith(("selector.choose", "format.", "column.",
                             "kernel.encode", "kernel.decode")) or (
                    k.startswith("codecs.") and k.split(".")[1] in CODECS):
                out[k] = v
        out.update({k: v for k, v in machine.items() if ".gb_per_s." in k})
        return out

    def commit_stats(self) -> dict:
        from wills_columnar_format_spark import engine

        log = engine.read_commit_log(self.ck) or []
        return {"checkpoint.commits": len(log),
                "checkpoint.data_files":
                    len({f for c in log for f in c["files"]})}

    def kernels(self) -> dict:
        n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        layout = "range" if self.name == "ingest" else "hash"
        return kernels.kernel_bench(self.table, layout, n_parts, CHUNK_ROWS,
                                    force_codecs=CODECS)


def _data_files(d: str) -> set:
    return {f for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))}


def _timed(fn, compute, wait):
    """Wrap a mapInArrow function: per task, add the seconds spent waiting
    for input batches to ``wait`` and the rest of its time to ``compute``."""
    def timed_fn(batches):
        import time as _time

        waited = 0.0

        def feed():
            nonlocal waited
            it = iter(batches)
            while True:
                t = _time.perf_counter()
                try:
                    b = next(it)
                except StopIteration:
                    waited += _time.perf_counter() - t
                    return
                waited += _time.perf_counter() - t
                yield b

        inside = 0.0
        out = fn(feed())
        while True:
            t = _time.perf_counter()
            try:
                rb = next(out)
            except StopIteration:
                inside += _time.perf_counter() - t
                break
            inside += _time.perf_counter() - t
            yield rb
        compute.add(inside - waited)
        wait.add(waited)

    return timed_fn
