"""Seeded benchmark inputs and their exact oracles.

Everything here is a pure function of ``(seed, n_docs)`` and of the
generating code, and is cached under
``perfbench/_cache/<seed>-<n_docs>-<code digest>/`` inside the checkout,
so a repeated seed skips generation and a change to this file or to the
corpus generator regenerates.  Nothing is written to the repository's
``data/`` directory.

Tables (all parquet):

- ``tokens.parquet``: the synthetic training corpus from
  ``sources.corpus.generate_tokens_table(n_docs, seed)`` — doc_id,
  tokens array<int>, n_tok, source — in row groups of 1024 docs, the
  layout ``ensure_tokens_parquet`` uses;
- ``keys.parquet``: doc_id plus two seeded flags, ``sel`` (the probe
  workload's bloom build keys) and ``sql_slice`` (the rows probed
  through SQL text);
- ``orders.parquet`` / ``lineitem.parquet``: TPC-H-shaped key tables
  (sparse order keys, 1-7 lines per order) for the semi-join, with a
  seeded ``o_sel`` flag choosing the build-side subset.

Oracles are computed once here with numpy and DuckDB and stored as
``oracle.json`` plus ``token_counts.npy``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_DOCS = 1024
PROBE_SEL_FRACTION = 0.25  # share of doc_ids inserted into the probe bloom
SQL_SLICE_FRACTION = 0.04  # share of doc_ids probed through SQL text
ORDERS_PER_DOC = 2.0  # orders rows per corpus doc
ORDERS_SEL_FRACTION = 0.2  # build side of the semi-join
PROBE_FPP = 0.01


def cache_dir(root: str, seed: int, n_docs: int) -> str:
    from presto_bloomfilter_spark.sources import corpus

    digest = hashlib.sha256()
    for module_file in (__file__, corpus.__file__):
        with open(module_file, "rb") as f:
            digest.update(f.read())
    return os.path.join(root, "perfbench", "_cache", f"{seed}-{n_docs}-{digest.hexdigest()[:12]}")


def _write(tbl: pa.Table, path: str, row_group_size: int) -> None:
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _tpch_tables(rng: np.random.Generator, n_orders: int) -> tuple[pa.Table, pa.Table]:
    # TPC-H order keys use the first 8 of every 32 key values
    idx = np.arange(n_orders, dtype=np.int64)
    okey = (idx // 8) * 32 + idx % 8 + 1
    lines = rng.integers(1, 8, size=n_orders)
    l_okey = np.repeat(okey, lines)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, max(2, n_orders // 10), size=n_orders),
        "o_totalprice": np.round(rng.uniform(800, 500_000, size=n_orders), 2),
        "o_sel": rng.random(n_orders) < ORDERS_SEL_FRACTION,
    })
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=len(l_okey)).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, size=len(l_okey)), 2),
    })
    return orders, lineitem


def _semi_join_oracle(orders_path: str, lineitem_path: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return int(con.execute(
            f"SELECT count(*) FROM read_parquet('{lineitem_path}') "
            f"WHERE l_orderkey IN (SELECT o_orderkey FROM read_parquet('{orders_path}') "
            f"WHERE o_sel)").fetchone()[0])
    finally:
        con.close()


def prepare(root: str, seed: int, n_docs: int) -> dict:
    """Generate (once per seed and size) every input table and oracle;
    return the oracle dict with the table paths added."""
    from presto_bloomfilter_spark.sources.corpus import SOURCES, generate_tokens_table

    d = cache_dir(root, seed, n_docs)
    paths = {name: os.path.join(d, f"{name}.parquet")
             for name in ("tokens", "keys", "orders", "lineitem")}
    oracle_path = os.path.join(d, "oracle.json")
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            return {**json.load(f), "paths": paths, "dir": d}
    os.makedirs(d, exist_ok=True)

    corpus = generate_tokens_table(n_docs, seed)
    _write(corpus, paths["tokens"], ROW_GROUP_DOCS)
    flat = corpus.column("tokens").combine_chunks().flatten().to_numpy()
    counts = np.bincount(flat)
    np.save(os.path.join(d, "token_counts.npy"), counts)
    n_tok = corpus.column("n_tok").to_numpy()
    doc_src = np.asarray(corpus.column("source").to_pylist())
    tok_src = np.repeat(doc_src, n_tok)
    distinct_by_source = {s: int(np.unique(flat[tok_src == s]).size)
                          for s in SOURCES if (tok_src == s).any()}

    # key flags come from a second stream so they never perturb the corpus
    rng = np.random.default_rng([seed, 1])
    sel = rng.random(n_docs) < PROBE_SEL_FRACTION
    sql_slice = rng.random(n_docs) < SQL_SLICE_FRACTION
    _write(pa.table({"doc_id": corpus.column("doc_id"), "sel": sel, "sql_slice": sql_slice}),
           paths["keys"], ROW_GROUP_DOCS * 8)

    orders, lineitem = _tpch_tables(rng, max(8, int(n_docs * ORDERS_PER_DOC)))
    _write(orders, paths["orders"], 1 << 16)
    _write(lineitem, paths["lineitem"], 1 << 16)

    oracle = {
        "seed": seed,
        "n_docs": n_docs,
        "n_tokens": int(flat.size),
        "n_row_groups": pq.ParquetFile(paths["tokens"]).metadata.num_row_groups,
        "distinct_tokens": int(np.count_nonzero(counts)),
        "distinct_by_source": distinct_by_source,
        "n_sel": int(sel.sum()),
        "n_sql_slice": int(sql_slice.sum()),
        "n_orders": orders.num_rows,
        "n_orders_sel": int(np.asarray(orders.column("o_sel")).sum()),
        "n_lineitem": lineitem.num_rows,
        "semi_join_rows": _semi_join_oracle(paths["orders"], paths["lineitem"]),
    }
    tmp = oracle_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(oracle, f)
    os.replace(tmp, oracle_path)
    return {**oracle, "paths": paths, "dir": d}


def token_counts(oracle: dict) -> np.ndarray:
    return np.load(os.path.join(oracle["dir"], "token_counts.npy"))
