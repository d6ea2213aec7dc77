"""Deterministic inputs for the benchmark.

``build_tables`` writes the ten-table star schema the engine's queries
read (same column names, types and value domains as the reference
test data described in TESTDATA.md), one parquet file per table, from a fixed seed. The tables are
written once per checkout and reused, so their file stats — and the
oracle answers keyed on them — stay put across runs.

``OracleCache`` holds each query's DuckDB oracle answer as a row count
plus a digest of ``tools/oracle_check.canonical_rows``. It is keyed by
the fixture's file stats and the oracle SQL text, so a changed oracle
or a rebuilt fixture recomputes the answer instead of serving a stale
one.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from end2end_data_pipeline_spark.sources.tables import TABLE_NAMES

FIXTURE_SEED = 42
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column join small big data order group query "
    "customer filter stream"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _day_range(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf``: lineitem has 6M*sf rows,
    events 1M*sf; documents/embeddings stay small (the benchmark's
    query workload does not read them, the oracle views do)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_ev = 4 * n_ord, max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = n_vecs = 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_range(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_range(rng, n_line, "1995-01-02", 2498),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 100))])
        for _ in range(n_docs)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    assert set(t) == set(TABLE_NAMES)
    return t


def build_tables(out_dir: str, sf: float) -> str:
    """Write the tables once; a complete directory is reused as is."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(datetime.now().isoformat() + "\n")
    return out_dir


def fixture_stat(sf_dir: str) -> str:
    """(name, size, mtime_ns) of every table file, as one digest."""
    h = hashlib.sha256()
    for name in TABLE_NAMES:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def answer_digest(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive answer fingerprint, rendered by the repo's
    strict comparator so Spark and DuckDB values normalize alike."""
    from tools.oracle_check import canonical_rows

    cols, rendered = canonical_rows(columns, rows)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rendered:
        h.update(b"\x1d" + r.encode())
    return {"rows": len(rendered), "digest": h.hexdigest()}


class OracleCache:
    """query name -> expected answer, persisted as JSON next to the
    fixture and keyed by (fixture stat, sha of the oracle SQL)."""

    def __init__(self, path: str, sf_dir: str):
        self.path = path
        self.sf_dir = sf_dir
        self.stat = fixture_stat(sf_dir)
        self.entries: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.entries = json.load(f)
        self._con = None

    def _key(self, sql: str) -> str:
        return self.stat + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]

    def expected(self, name: str, sql: str) -> dict:
        key = self._key(sql)
        hit = self.entries.get(name)
        if hit is not None and hit["key"] == key:
            return hit
        if self._con is None:
            from tools.oracle_check import duckdb_connection

            self._con = duckdb_connection(self.sf_dir)
        res = self._con.execute(sql)
        entry = answer_digest([d[0] for d in res.description], res.fetchall())
        entry["key"] = key
        self.entries[name] = entry
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        return entry
