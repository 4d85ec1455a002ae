"""Kernel-only timings on one core, without Spark.

The generated table is cut the way an encode lays it out: rows sorted by
``doc_id`` (range layout) or bucketed by a hash of it (hash layout),
split into one run of rows per partition, then into chunks of at most
``chunk_rows`` rows. Each chunk is shredded into the engine's
sub-columns (``doc_id``, ``tokens#lengths``, ``tokens#values``, ``n_tok``,
``source``) and every public kernel is timed on every sub-column:
``selector.choose_codec``, the chosen codec's ``encode``/``decode``,
``format.assemble_blob``/``read_footer`` and
``column.encode_column``/``decode_column``. Every decode is compared
with its input.

``membw`` reads the machine's bandwidth ceiling with the repository's
``tools/membw_probe.py``, in the same run.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa

from checks import CheckFailed

# nominal bytes one membw_probe iteration moves: a 24 MB int32 copy
# (read + write), an int32 -> int64 cumsum (24 MB in, 48 MB out), and a
# sort of a 2 MB slice
MEMBW_BYTES_PER_ITER = 48e6 + 72e6 + 2e6


def chunks(table: pa.Table, layout: str, n_parts: int, chunk_rows: int):
    keys = table.column("doc_id").to_numpy(zero_copy_only=False)
    if layout == "hash":
        part = pd.util.hash_array(keys) % np.uint64(n_parts)
        order = np.lexsort((keys, part))
        bounds = np.searchsorted(part[order], np.arange(n_parts + 1))
    else:
        order = np.argsort(keys, kind="stable")
        bounds = np.linspace(0, len(keys), n_parts + 1).astype(np.int64)
    table = table.take(pa.array(order))
    for p in range(n_parts):
        for s in range(int(bounds[p]), int(bounds[p + 1]), chunk_rows):
            yield table.slice(s, min(chunk_rows, int(bounds[p + 1]) - s))


def sub_columns(chunk: pa.Table, ColumnValues):
    tok = chunk.column("tokens").combine_chunks()
    yield "doc_id", ColumnValues.from_arrow(chunk.column("doc_id").combine_chunks())
    yield "tokens#lengths", ColumnValues.from_numpy(
        np.diff(tok.offsets.to_numpy()).astype(np.int32))
    yield "tokens#values", ColumnValues.from_arrow(tok.flatten())
    yield "n_tok", ColumnValues.from_numpy(chunk.column("n_tok").to_numpy())
    yield "source", ColumnValues.from_arrow(chunk.column("source").combine_chunks())


def _same(a, b) -> bool:
    if a.vals is not None:
        return b.vals is not None and np.array_equal(a.vals, b.vals)
    return (np.array_equal(a.offsets, b.offsets)
            and np.array_equal(a.data, b.data))


def kernel_bench(table: pa.Table, layout: str, n_parts: int,
                 chunk_rows: int, force_codecs=()) -> dict:
    """Time every kernel over the whole table; ns are per value.

    A codec in ``force_codecs`` that the selector never picks is timed on
    the first chunk's sub-columns it supports, so that its figures exist
    in every run.
    """
    from wills_columnar_format_spark import column
    from wills_columnar_format_spark.codecs import BY_NAME, ColumnValues
    from wills_columnar_format_spark.format import (
        DEFAULT_TARGET_PAGE_SIZE as PAGE, Footer, assemble_blob, data_section,
        read_footer)
    from wills_columnar_format_spark.selector import choose_codec

    clock = time.perf_counter
    t = defaultdict(float)
    n = defaultdict(int)
    subcols = [sc for ch in chunks(table, layout, n_parts, chunk_rows)
               for sc in sub_columns(ch, ColumnValues)]

    def encode_decode(codec, name, col, key):
        t0 = clock()
        enc = codec.encode(col, PAGE)
        t1 = clock()
        footer = Footer(data_type=col.tag, codec=codec.codec_id,
                        params=enc.params, pages=enc.page_infos)
        blob = assemble_blob(enc.pages, footer)
        t2 = clock()
        back = codec.decode(data_section(blob), footer)
        t3 = clock()
        if not _same(col, back):
            raise CheckFailed(f"kernel {codec.name} roundtrip of {name}")
        t[f"{key}.encode"] += t1 - t0
        t[f"{key}.decode"] += t3 - t2
        n[key] += col.n
        return blob, t2 - t1

    chosen = defaultdict(int)
    for name, col in subcols:
        t0 = clock()
        codec, _ = choose_codec(col, PAGE)
        t["choose"] += clock() - t0
        n["choose"] += col.n
        chosen[codec.name] += 1
        blob, t_asm = encode_decode(codec, name, col, f"codecs.{codec.name}")
        t["assemble"] += t_asm
        t0 = clock()
        read_footer(blob)
        t["footer"] += clock() - t0
        n["blobs"] += 1

        t0 = clock()
        blob2, _ = column.encode_column(col)
        t1 = clock()
        back = column.decode_column(blob2)
        t2 = clock()
        if not _same(col, back):
            raise CheckFailed(f"encode_column/decode_column roundtrip of {name}")
        t["encode_column"] += t1 - t0
        t["decode_column"] += t2 - t1
    for cname in force_codecs:
        if chosen[cname]:
            continue
        codec = BY_NAME[cname]
        for name, col in subcols[:5]:  # the first chunk's sub-columns
            if codec.supports(col.tag):
                encode_decode(codec, name, col, f"codecs.{cname}")

    values = n["choose"]
    tokens = sum(col.n for name, col in subcols if name == "tokens#values")
    out = {
        "selector.choose_codec.ns_per_value": t["choose"] / values * 1e9,
        "format.assemble_blob.ns_per_value": t["assemble"] / values * 1e9,
        "format.read_footer.us_per_blob": t["footer"] / n["blobs"] * 1e6,
        "column.encode_column.ns_per_value": t["encode_column"] / values * 1e9,
        "column.decode_column.ns_per_value": t["decode_column"] / values * 1e9,
        "kernel.encode_tokens_per_s": tokens / t["encode_column"],
        "kernel.decode_tokens_per_s": tokens / t["decode_column"],
        "kernel.chosen": dict(chosen),
    }
    for key, cnt in n.items():
        if key.startswith("codecs."):
            out[f"{key}.encode.ns_per_value"] = t[f"{key}.encode"] / cnt * 1e9
            out[f"{key}.decode.ns_per_value"] = t[f"{key}.decode"] / cnt * 1e9
    return out


def membw(root: str, procs: int) -> dict:
    """``tools/membw_probe.bandwidth_at`` at 1 and ``procs`` processes,
    converted to nominal GB/s."""
    # the pool pickles the probe's worker function by module name
    sys.path.insert(0, os.path.join(root, "tools"))
    import membw_probe as probe

    out = {}
    for label, p in (("1proc", 1), ("nproc", procs)):
        iters = probe.bandwidth_at(p)
        out[f"machine.membw.iters_per_s.{label}"] = iters
        out[f"machine.membw.gb_per_s.{label}"] = iters * MEMBW_BYTES_PER_ITER / 1e9
    return out
