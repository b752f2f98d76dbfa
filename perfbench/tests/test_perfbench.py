"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen as G  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from checks import Ledger, oracle_hash, rows_hash  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
#: fixed-content tables (the 5 regions and 25 nations do not depend on the seed)
FIXED = {"region", "nation"}


def _digests(manifest) -> dict[str, str]:
    return {
        t: hashlib.sha256(open(os.path.join(manifest["dir"], f"{t}.parquet"), "rb").read()).hexdigest()
        for t in manifest["rows"]
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    spec = G.Spec(seed=7, sf=0.001)
    a = _digests(G.generate(spec, str(tmp_path / "a")))
    b = _digests(G.generate(spec, str(tmp_path / "b")))
    assert a == b
    c = _digests(G.generate(G.Spec(seed=8, sf=0.001), str(tmp_path / "c")))
    for t in G.TABLES:
        assert (a[t] == c[t]) == (t in FIXED), t


def test_generator_keeps_schemas_and_caches(tmp_path, monkeypatch):
    m = G.generate(G.Spec(seed=3, sf=0.001), str(tmp_path))
    assert not m["cached"] and G.generate(G.Spec(seed=3, sf=0.001), str(tmp_path))["cached"]
    # an edited generator does not reuse the set cached by the old one
    monkeypatch.setattr(G, "GENERATOR_DIGEST", "edited")
    assert not G.generate(G.Spec(seed=3, sf=0.001), str(tmp_path))["cached"]
    orders = pq.read_table(os.path.join(m["dir"], "orders.parquet"))
    assert str(orders.schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(orders.schema.field("o_custkey").type) == "int64"
    emb = pq.read_table(os.path.join(m["dir"], "embeddings.parquet"))
    assert str(emb.schema.field("embedding").type) == "list<element: float>"
    assert m["rows"]["lineitem"] == 6000 and m["rows"]["embeddings"] == 500
    n_docs = m["rows"]["documents"]
    assert m["near_dup_rate"] == round(n_docs * G.NEAR_DUP_RATE) / n_docs


def test_replication_shifts_foreign_keys(tmp_path):
    spec = G.Spec(seed=5, sf=0.001, replicate=2, tables=("customer", "orders"))
    m = G.generate(spec, str(tmp_path))
    cust = pq.read_table(os.path.join(m["dir"], "customer.parquet")).to_pydict()
    orders = pq.read_table(os.path.join(m["dir"], "orders.parquet")).to_pydict()
    n_c, n_o = len(cust["c_custkey"]) // 2, len(orders["o_orderkey"]) // 2
    assert sorted(cust["c_custkey"]) == list(range(2 * n_c))
    assert sorted(orders["o_orderkey"]) == list(range(2 * n_o))
    # copy 2 of order k belongs to copy 2 of copy 1's customer
    for k in range(n_o):
        assert orders["o_custkey"][n_o + k] == orders["o_custkey"][k] + n_c
        assert orders["o_custkey"][k] < n_c


def test_wrong_result_is_caught(tmp_path):
    """A deliberately corrupted result fails the oracle gate, counts as a
    failure and makes the run's result incorrect with a non-zero exit."""
    from gramene_mongodb_spark.catalog import REGISTRY
    from tests.oracle import duckdb_run

    m = G.generate(G.Spec(seed=2, sf=0.001, tables=("orders",)), str(tmp_path))
    sql = REGISTRY["a5_argmax_top_order"].oracle
    want = oracle_hash(sql, m["dir"])
    cols, rows = duckdb_run(sql, m["dir"])
    ledger = Ledger()
    assert ledger.check("right", rows_hash(cols, rows), want)
    bad = [list(r) for r in rows]
    bad[0][0] = bad[0][0] + 1
    assert not ledger.check("wrong", rows_hash(cols, bad), want)
    assert not ledger.check("missing row", rows_hash(cols, rows[1:]), want)
    assert (ledger.attempted, ledger.failed) == (3, 2)
    result, code = run.result_line(ledger, {"setup_s": 1.0, "work_s": 2.0}, run.E2E_METRICS)
    assert result["correct"] is False and result["failed"] == 2 and code != 0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_METRICS
    assert layer == spans.LAYER_METRICS
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for u in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(u), u
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_tail_percentile_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 75.0 and n == 40
    with pytest.raises(ValueError):
        run.tail(xs[:10])


def test_ledger_counts_concurrent_records():
    """Serve clients record into one ledger; no update may be lost."""
    import threading

    ledger = Ledger()
    n_threads, per_thread = 16, 2000
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: [ledger.record("x", i % 2 == 0)
                                                    for i in range(per_thread)])
                   for _ in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert ledger.attempted == n_threads * per_thread
    assert ledger.failed == n_threads * per_thread // 2 == len(ledger.errors)
