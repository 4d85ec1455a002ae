"""Seeded generator for the benchmark's token tables.

The schema is the engine's ``input_hint``:
``(doc_id string, tokens array<int32>, n_tok int32, source string)``,
with the four per-source token distributions the engine's own data
module describes (web: Zipf-like repeats, books: random walk, code: tiny
alphabet, wiki: uniform). The code is the benchmark's own, so a change
to the engine cannot change the benchmark's inputs: the same
``(n_rows, seed)`` always gives the same table.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VOCAB = 50_257
SOURCES = ("web", "books", "code", "wiki")
SOURCE_P = (0.6, 0.15, 0.15, 0.1)
MAX_LEN = 2048


def token_table(n_rows: int, seed: int, doc_start: int = 0) -> pa.Table:
    """``n_rows`` documents; ``doc_id`` numbers start at ``doc_start``."""
    rng = np.random.default_rng(seed)
    src = rng.choice(len(SOURCES), size=n_rows, p=SOURCE_P)
    # heavy-tailed sequence lengths in [1, MAX_LEN]
    lengths = np.minimum((rng.pareto(1.1, n_rows) * 60).astype(np.int64) + 1,
                         MAX_LEN)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    row_src = np.repeat(src, lengths)
    tokens = rng.integers(0, VOCAB, size=total, dtype=np.int64)

    # web: a 512-id alphabet, and ~55% of tokens repeat the one before
    web = row_src == 0
    tokens[web] = (tokens[web] % 512) * 97 % VOCAB
    keep = ~(web & (rng.random(total) < 0.55))
    keep[0] = True
    idx = np.where(keep, np.arange(total), 0)
    np.maximum.accumulate(idx, out=idx)
    tokens = tokens[idx]

    # books: one random walk across all book tokens
    books = row_src == 1
    steps = rng.integers(-64, 65, size=int(books.sum()))
    tokens[books] = (25_000 + np.cumsum(steps)) % VOCAB

    # code: a 96-id alphabet; wiki keeps the uniform draw
    code = row_src == 2
    tokens[code] %= 96

    names = pa.array(np.array(SOURCES)[src])
    nums = pc.utf8_lpad(pa.array(np.arange(doc_start, doc_start + n_rows))
                        .cast(pa.string()), 9, "0")
    doc_id = pc.binary_join_element_wise(names, nums, "-")
    tok = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                   pa.array(tokens.astype(np.int32)))
    return pa.table({
        "doc_id": doc_id,
        "tokens": tok,
        "n_tok": pa.array(lengths.astype(np.int32)),
        "source": names,
    })
