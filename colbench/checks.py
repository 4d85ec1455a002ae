"""Correctness checks computed apart from the engine.

* ``fingerprint``: an order-independent digest of
  ``(doc_id, tokens, n_tok, source)`` over all rows, in plain Spark SQL.
  It runs on the input parquet and on every decoded output; the two must
  be equal.
* ``Model``: the benchmark's own pandas/numpy copy of a table. Serve
  results are compared with it, and it follows every upsert and delete
  the benchmark issues.

Every check raises ``CheckFailed`` with the first difference it finds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

_ROW_HASH = "xxhash64(doc_id, tokens, n_tok, source)"
FINGERPRINT_SQL = (
    "count(*) AS n_rows",
    "sum(CAST(size(tokens) AS BIGINT)) AS n_tokens",
    "sum(CAST(n_tok AS BIGINT)) AS sum_n_tok",
    f"bit_xor({_ROW_HASH}) AS xor_hash",
    # shifted so that a sum over 2^24 rows cannot overflow a long
    f"sum(shiftright({_ROW_HASH}, 24)) AS sum_hash",
)


class CheckFailed(AssertionError):
    pass


def fingerprint(df) -> dict:
    """Run the digest over a DataFrame: one Spark action."""
    return df.selectExpr(*FINGERPRINT_SQL).collect()[0].asDict()


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def check_fingerprint(what: str, got: dict, want: dict) -> None:
    expect_equal(f"{what} fingerprint", got, want)


def check_counts(what: str, fp: dict, n_rows: int, n_tokens: int) -> None:
    """Row and token counts of a fingerprint against the generator's."""
    expect_equal(f"{what} rows", fp["n_rows"], n_rows)
    expect_equal(f"{what} tokens", fp["n_tokens"], n_tokens)


def check_manifest(what: str, manifest: pa.Table, n_rows: int,
                   n_tokens: int) -> None:
    """A persisted manifest accounts for every row and token."""
    col = manifest.column("column").to_numpy(zero_copy_only=False)
    n_values = manifest.column("n_values").to_numpy()
    expect_equal(f"{what} manifest tokens#values n_values",
                 int(n_values[col == "tokens#values"].sum()), n_tokens)
    expect_equal(f"{what} manifest doc_id n_values",
                 int(n_values[col == "doc_id"].sum()), n_rows)


class Model:
    """The expected table, keyed by ``doc_id``. Token lists stay in the
    Arrow tables they came from; the frame keeps each row's place."""

    def __init__(self, table: pa.Table):
        self.tables: list[pa.Table] = []
        self.df = self._frame(table)
        self.deleted: list[str] = []

    def _frame(self, table: pa.Table) -> pd.DataFrame:
        self.tables.append(table)
        return pd.DataFrame({
            "n_tok": table.column("n_tok").to_numpy(),
            "source": table.column("source").to_pylist(),
            "table": len(self.tables) - 1,
            "row": np.arange(table.num_rows),
        }, index=pd.Index(table.column("doc_id").to_pylist(), name="doc_id"))

    def tokens(self, key: str) -> list:
        m = self.df.loc[key]
        return self.tables[m["table"]].column("tokens")[int(m["row"])].as_py()

    def keys(self) -> pd.Index:
        return self.df.index

    def upsert(self, batch: pa.Table) -> None:
        new = self._frame(batch)
        self.df = pd.concat([self.df.drop(new.index, errors="ignore"), new])
        self.deleted = [k for k in self.deleted if k not in new.index]

    def delete(self, keys) -> None:
        self.df = self.df.drop(keys, errors="ignore")
        self.deleted.extend(keys)

    def _in_range(self, lo: int, hi: int) -> np.ndarray:
        n = self.df["n_tok"].to_numpy()
        return n[(n >= lo) & (n <= hi)]

    def check_row(self, what: str, row: dict) -> None:
        k = row["doc_id"]
        if k not in self.df.index:
            raise CheckFailed(f"{what}: row {k!r} is not in the model")
        m = self.df.loc[k]
        expect_equal(f"{what} {k} n_tok", row["n_tok"], int(m["n_tok"]))
        expect_equal(f"{what} {k} source", row["source"], m["source"])
        expect_equal(f"{what} {k} tokens", list(row["tokens"]),
                     self.tokens(k))

    def check_lookup(self, key: str, rows: list[dict]) -> None:
        want = 1 if key in self.df.index else 0
        expect_equal(f"lookup {key} row count", len(rows), want)
        for r in rows:
            expect_equal("lookup key", r["doc_id"], key)
            self.check_row("lookup", r)

    def check_count(self, lo: int, hi: int, n_rows: int) -> None:
        expect_equal(f"count n_tok in [{lo}, {hi}]", n_rows,
                     int(self._in_range(lo, hi).size))

    def check_sum(self, lo: int, hi: int, n_rows: int, total) -> None:
        sel = self._in_range(lo, hi)
        expect_equal(f"sum n_tok in [{lo}, {hi}] rows", n_rows, int(sel.size))
        want = int(sel.sum()) if sel.size else None
        expect_equal(f"sum n_tok in [{lo}, {hi}]",
                     None if total is None else int(total), want)

    def check_topk(self, k: int, rows: list[dict]) -> None:
        want = sorted(self.df["n_tok"].to_numpy().tolist(), reverse=True)[:k]
        expect_equal(f"top-{k} n_tok", [r["n_tok"] for r in rows], want)
        for r in rows:
            self.check_row(f"top-{k}", r)
