"""Benchmark build step: synthetic input tables and stored oracle results.

The benchmark reads nothing outside its checkout, so it generates the
ten input tables the queries expect (TPC-H-shaped relational tables plus
events, documents and embeddings) from a fixed data seed. They follow
the test data described in ``TESTDATA.md`` at scale factor 0.01: the
same schemas and row counts, one parquet file with one row group per
table, the same value ranges and vocabulary, and 5 % of the documents
near-duplicated by copying another document and appending " dup".

The oracle result of every benchmarked query is computed once through
DuckDB from ``oracle_sql()`` over the same files and stored beside the
data, keyed by a digest of the SQL text so an edited oracle is
recomputed. Both live under ``.perfbench/build`` in the checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
DATA_SEED = 20240101
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark query line column order sort filter group join window stream "
    "vector data customer small big"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float = SF, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All input tables, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    day = 86_400 * 1_000_000
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjs = "blue green red small large shiny dull tiny".split()
    nouns = "anvil ring widget bolt gear spring valve lever".split()
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(
            dt.datetime(1995, 1, 1), rng.integers(0, 2405, n_ord) * day
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_li) * day
        ),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(
            dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day, n_ev))
        ),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def _publish(tmp: str, final: str) -> None:
    """Move a finished build directory into place, replacing nothing
    that a concurrent build already published."""
    try:
        os.replace(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def data_dir(build_root: str) -> str:
    return os.path.join(build_root, f"sf{SF}")


def ensure_data(build_root: str) -> str:
    """The generated SF directory, writing it on first use."""
    sf_dir = data_dir(build_root)
    if os.path.isdir(sf_dir):
        return sf_dir
    tmp = f"{sf_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, sf_dir)
    return sf_dir


def oracle_paths(build_root: str, names: list[str]) -> dict[str, str]:
    """Where the stored oracle result of each of ``names`` lives; the
    file name carries a digest of the query's oracle SQL."""
    import __spark_entry__ as entrymod

    os.environ["SF_DIR"] = data_dir(build_root)  # file-listing oracles follow SF_DIR
    sqls = entrymod.oracle_sql()
    return {
        n: os.path.join(build_root, "oracle",
                        f"{n}-{hashlib.sha1(sqls[n].encode()).hexdigest()[:12]}.parquet")
        for n in names
    }


def ensure_oracles(build_root: str, names: list[str]) -> None:
    """Run the DuckDB oracle for each of ``names`` whose stored result
    is missing or whose SQL changed."""
    sf_dir = ensure_data(build_root)
    paths = oracle_paths(build_root, names)
    missing = [n for n in names if not os.path.exists(paths[n])]
    if not missing:
        return

    import duckdb

    import __spark_entry__ as entrymod

    sqls = entrymod.oracle_sql()
    os.makedirs(os.path.join(build_root, "oracle"), exist_ok=True)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for n in missing:
            tmp = f"{paths[n]}.tmp{os.getpid()}"
            con.execute(sqls[n]).fetchdf().to_parquet(tmp)
            os.replace(tmp, paths[n])
    finally:
        con.close()


if __name__ == "__main__":
    # python3 perfbench/build.py BUILD_ROOT QUERY... (from a checkout's root)
    import sys

    sys.path.insert(0, os.getcwd())
    ensure_oracles(sys.argv[1], sys.argv[2:])
