"""Tests of the benchmark itself.

    python -m pytest colbench/tests -q

The check tests hand every correctness check a wrong answer (one token
altered, one row dropped, a count off by one) and require it to fail.
The smoke tests run every workload end to end at a tiny size.
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import kernels  # noqa: E402
from checks import CheckFailed  # noqa: E402


@pytest.fixture(scope="module")
def table():
    return gen.token_table(300, seed=5)


def _alter_token(t: pa.Table, row: int) -> pa.Table:
    toks = t.column("tokens").to_pylist()
    toks[row] = [toks[row][0] + 1] + toks[row][1:]
    return t.set_column(1, "tokens", pa.array(toks, pa.list_(pa.int32())))


def _rows(t: pa.Table) -> list[dict]:
    return t.to_pylist()


# -- generator ---------------------------------------------------------------

def test_generator_is_seeded(table):
    assert gen.token_table(300, seed=5).equals(table)
    assert not gen.token_table(300, seed=6).equals(table)
    ids = table.column("doc_id").to_pylist()
    assert [int(k.split("-")[1]) for k in ids] == list(range(300))
    lens = [len(x) for x in table.column("tokens").to_pylist()]
    assert lens == table.column("n_tok").to_pylist()


# -- the serve model -----------------------------------------------------------

def test_lookup_check_catches_altered_token_and_missing_row(table):
    model = checks.Model(table)
    key = table.column("doc_id")[7].as_py()
    model.check_lookup(key, [_rows(table)[7]])
    with pytest.raises(CheckFailed):
        model.check_lookup(key, [_rows(_alter_token(table, 7))[7]])
    with pytest.raises(CheckFailed):
        model.check_lookup(key, [])
    model.delete([key])
    model.check_lookup(key, [])
    with pytest.raises(CheckFailed):
        model.check_lookup(key, [_rows(table)[7]])


def test_count_sum_topk_checks_catch_dropped_row(table):
    model = checks.Model(table)
    n = np.array(table.column("n_tok").to_pylist())
    sel = n[(n >= 10) & (n <= 90)]
    model.check_count(10, 90, len(sel))
    with pytest.raises(CheckFailed):
        model.check_count(10, 90, len(sel) - 1)
    model.check_sum(10, 90, len(sel), int(sel.sum()))
    with pytest.raises(CheckFailed):
        model.check_sum(10, 90, len(sel), int(sel.sum() - sel[0]))
    top = sorted(_rows(table), key=lambda r: -r["n_tok"])[:5]
    model.check_topk(5, top)
    with pytest.raises(CheckFailed):
        model.check_topk(5, top[:4])
    with pytest.raises(CheckFailed):
        model.check_topk(5, top[:4] + [top[5 - 1] | {"tokens": [1]}])


def test_model_follows_upsert_and_delete(table):
    model = checks.Model(table)
    batch = gen.token_table(4, seed=9, doc_start=10 ** 8)
    ids = batch.column("doc_id").to_pylist()
    ids[0] = table.column("doc_id")[0].as_py()
    batch = batch.set_column(0, "doc_id", pa.array(ids))
    model.upsert(batch)
    assert len(model.df) == 300 + 3
    model.check_lookup(ids[0], [_rows(batch)[0]])
    with pytest.raises(CheckFailed):
        model.check_lookup(ids[0], [_rows(table)[0]])
    model.delete(ids[1:3])
    assert len(model.df) == 301


# -- manifest and counts -------------------------------------------------------

def test_manifest_check_catches_lost_tokens_and_rows():
    m = pa.table({"column": ["doc_id", "tokens#values", "doc_id",
                             "tokens#values"],
                  "n_values": [2, 10, 3, 15]})
    checks.check_manifest("m", m, 5, 25)
    with pytest.raises(CheckFailed):
        checks.check_manifest("m", m, 5, 24)
    with pytest.raises(CheckFailed):
        checks.check_manifest("m", m, 4, 25)


def test_count_check_catches_dropped_row():
    fp = {"n_rows": 5, "n_tokens": 25}
    checks.check_counts("c", fp, 5, 25)
    with pytest.raises(CheckFailed):
        checks.check_counts("c", fp, 6, 25)


# -- kernels ---------------------------------------------------------------------

def test_kernel_bench_covers_the_listed_codecs(table):
    from workloads import CODECS

    out = kernels.kernel_bench(table, "range", 2, 65_536, force_codecs=CODECS)
    for c in CODECS:
        assert out[f"codecs.{c}.encode.ns_per_value"] > 0
        assert out[f"codecs.{c}.decode.ns_per_value"] > 0
    assert out["kernel.decode_tokens_per_s"] > 0


def test_kernel_roundtrip_compare_catches_altered_value():
    from wills_columnar_format_spark.codecs import ColumnValues

    a = ColumnValues.from_numpy(np.arange(10, dtype=np.int32))
    b = ColumnValues.from_numpy(np.arange(10, dtype=np.int32))
    assert kernels._same(a, b)
    b.vals[3] += 1
    assert not kernels._same(a, b)


# -- fingerprint (needs Spark) ---------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    from pyspark.sql import SparkSession

    from run import stop_spark

    s = (SparkSession.builder.master("local[2]").appName("colbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    stop_spark(s)


def test_fingerprint_catches_altered_token_and_dropped_row(spark, table):
    want = checks.fingerprint(spark.createDataFrame(table))
    shuffled = table.take(pa.array(np.random.default_rng(0).permutation(300)))
    checks.check_fingerprint(
        "shuffled", checks.fingerprint(spark.createDataFrame(
            shuffled)), want)
    for wrong in (_alter_token(table, 42), table.slice(1)):
        got = checks.fingerprint(spark.createDataFrame(wrong))
        with pytest.raises(CheckFailed):
            checks.check_fingerprint("wrong", got, want)


# -- end to end ------------------------------------------------------------------

def _run(cwd, workload, trace, seconds="1", scale="0.05"):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", seconds, "--trace", str(trace),
         "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload,trace", [
    ("ingest", 0), ("scan", 0), ("serve", 0), ("serve", 1)])
def test_smoke_run_reaches_the_end(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == _declared(kind)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "colbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "ingest", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
