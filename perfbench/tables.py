"""Seeded synthetic tables for the analytics workload, and their
DuckDB-oracle hashes.

The tables have the schemas the ``queries`` registry reads (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``). Oracle
answers come from ``queries.ORACLE`` run on DuckDB over the same files,
canonicalised and hashed by ``tools/check_oracle.py``'s ``value_hash``.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one query per operator module, plus SQL-only ones
QUERY_NAMES = (
    "flagship_recent_per_key",
    "q9_product_profit",
    "q18_large_volume",
    "view_reduce_python_fold",
    "dedup_bloom_prefilter",
    "graph_adamic_adar",
    "ann_ivf_batch_topk",
    "corpus_bm25_topk",
    "agg_weighted_percentiles",
    "multimodal_jpeg_decode",
    "join_range_interval",
    "join_salted_skew",
    "events_session_windows",
)

# rows per table at scale 1.0 (the shape of the registry's sf0.01 data)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "shiny", "old"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "ring", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup row column customer filter group index shuffle "
    "page cache plan query value node edge"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array(NATIONS, s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pa.array(rng.choice(names, npart), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2), f64),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, no), f64),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, no), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, nl), ts),
        }
    )
    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array((start_us + offs).astype("datetime64[us]"), ts),
            "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
            "value": pa.array(np.round(rng.exponential(60.0, ne) + 0.01, 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
        }
    )
    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(nd)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, nd), s),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.5, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _check_oracle_module(repo_root: str):
    path = os.path.join(repo_root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Expected (rows, columns, hash) per query, from DuckDB."""

    def __init__(self, repo_root: str, data_dir: str):
        import duckdb

        from dat_archive_map_reduce_spark.queries import ORACLE

        self._co = _check_oracle_module(repo_root)
        self.expected: dict[str, tuple[int, list[str], str]] = {}
        con = duckdb.connect()
        try:
            for table in self._co.TABLES:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, table)}.parquet'"
                )
            for name in QUERY_NAMES:
                odf = con.execute(ORACLE[name]).df()
                self.expected[name] = self.signature(odf)
        finally:
            con.close()

    def signature(self, pdf) -> tuple[int, list[str], str]:
        rows = [tuple(r) for r in pdf.itertuples(index=False)]
        cols = list(pdf.columns)
        return len(rows), sorted(cols), self._co.value_hash(rows, cols)
