"""Seeded inputs for the benchmark workloads.

Every generator takes the run's seed and returns (or writes) plain data:
parquet tables in the TPC-H-ish layout ``titan_spark.sources.tpch``
reads, a document corpus, and micro-batches of documents. The engine
only ever sees these generated inputs.

The TPC-H base tables come from DuckDB's bundled ``dbgen`` (fixed
content for a given scale factor); the seed draws everything the
workloads vary: query constants, the near-duplicate share of the
curation corpus and the re-send share of the ingest stream.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa

# dbgen's TPC-H schema → the column names and types the engine's loader
# expects (DECIMAL → DOUBLE, DATE → TIMESTAMP, narrow keys → INTEGER)
_TPCH_SELECT = {
    "region": "SELECT CAST(r_regionkey AS INTEGER) r_regionkey, r_name FROM region",
    "nation": (
        "SELECT CAST(n_nationkey AS INTEGER) n_nationkey, n_name,"
        " CAST(n_regionkey AS INTEGER) n_regionkey FROM nation"
    ),
    "customer": (
        "SELECT CAST(c_custkey AS BIGINT) c_custkey, c_name,"
        " CAST(c_nationkey AS INTEGER) c_nationkey, CAST(c_acctbal AS DOUBLE) c_acctbal,"
        " c_mktsegment FROM customer"
    ),
    "supplier": (
        "SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name,"
        " CAST(s_nationkey AS INTEGER) s_nationkey, CAST(s_acctbal AS DOUBLE) s_acctbal"
        " FROM supplier"
    ),
    "part": (
        "SELECT CAST(p_partkey AS BIGINT) p_partkey, p_name, p_brand, p_type,"
        " CAST(p_size AS INTEGER) p_size, CAST(p_retailprice AS DOUBLE) p_retailprice"
        " FROM part"
    ),
    "orders": (
        "SELECT CAST(o_orderkey AS BIGINT) o_orderkey, CAST(o_custkey AS BIGINT) o_custkey,"
        " o_orderstatus, CAST(o_totalprice AS DOUBLE) o_totalprice,"
        " CAST(o_orderdate AS TIMESTAMP) o_orderdate, o_orderpriority FROM orders"
    ),
    "lineitem": (
        "SELECT CAST(l_orderkey AS BIGINT) l_orderkey, CAST(l_partkey AS BIGINT) l_partkey,"
        " CAST(l_suppkey AS BIGINT) l_suppkey, CAST(l_linenumber AS INTEGER) l_linenumber,"
        " CAST(l_quantity AS DOUBLE) l_quantity,"
        " CAST(l_extendedprice AS DOUBLE) l_extendedprice,"
        " CAST(l_discount AS DOUBLE) l_discount, CAST(l_tax AS DOUBLE) l_tax,"
        " l_returnflag, l_linestatus, CAST(l_shipdate AS TIMESTAMP) l_shipdate"
        " FROM lineitem"
    ),
}

# tables the loader also opens; the workloads do not read them, so they
# are kept tiny
_AUX_SELECT = {
    "events": (
        "SELECT CAST(i AS BIGINT) event_id,"
        " TIMESTAMP '1995-01-01' + to_seconds(CAST(i * 60 AS BIGINT)) ts,"
        " CAST(i % 7 AS BIGINT) user_id, 'view' event_type,"
        " CAST(i AS DOUBLE) \"value\", '{}' props FROM range(64) t(i)"
    ),
    "embeddings": (
        "SELECT CAST(i AS BIGINT) vec_id,"
        " [CAST(i AS FLOAT), CAST(1 AS FLOAT)] embedding,"
        " CAST(i % 4 AS INTEGER) \"label\" FROM range(64) t(i)"
    ),
}

# Document text imitates the repository's test ``documents`` table
# (TESTDATA.md; measured on its sf0.1 copy, 5000 docs): a 30-word
# vocabulary drawn uniformly (each word 8.8-9.2k of 271k tokens), 10 to
# 100 tokens a document, uniform (mean 54.1), languages en 41 % and
# zh/es/fr/de about 15 % each, source ``src<doc_id % 20>``, and 5.1 % of
# documents a copy of another with the token ``dup`` appended. The corpus
# itself is synthetic: the table is not part of a source checkout.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_TOKENS = (10, 100)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
DUP_TOKEN = "dup"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible random stream per input family."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def write_tpch(out_dir: str, sf: float, threads: int) -> None:
    """TPC-H tables at scale ``sf`` plus the tiny auxiliary tables, as
    one parquet file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    con = connect(threads)
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for name, sql in {**_TPCH_SELECT, **_AUX_SELECT}.items():
            con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT parquet)")
    finally:
        con.close()


def _docs_table(doc_ids, token_rows, rng: np.random.Generator) -> pa.Table:
    texts = [" ".join(row) for row in token_rows]
    langs = rng.choice(len(LANGS), size=len(texts), p=LANG_SHARES)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{int(i) % 20}" for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _fresh_doc(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
    return [VOCAB[t] for t in rng.integers(0, len(VOCAB), size=n)]


def _near_dup(src: list[str]) -> list[str]:
    """Copy of ``src`` with ``dup`` appended, as in the test table: its
    word-3-gram Jaccard with ``src`` is at least 8/9."""
    return src + [DUP_TOKEN]


def corpus(seed: int, n_docs: int) -> tuple[pa.Table, float]:
    """Curation corpus: fresh documents plus a seed-drawn share of
    near-duplicates of earlier documents. Returns (table, dup_share)."""
    rng = rng_for(seed, "corpus")
    dup_share = float(rng.uniform(0.04, 0.08))
    rows: list[list[str]] = []
    for i in range(n_docs):
        if i and rng.random() < dup_share:
            rows.append(_near_dup(rows[int(rng.integers(0, i))]))
        else:
            rows.append(_fresh_doc(rng))
    return _docs_table(np.arange(n_docs), rows, rng), dup_share


def ingest_batches(
    seed: int, n_batches: int, batch_size: int
) -> tuple[list[pa.Table], float]:
    """Micro-batches for the streaming dedup: fresh documents plus a
    seed-drawn share that re-sends the exact text of a document from an
    earlier batch. Doc ids increase across batches. Returns (batches,
    resend_share)."""
    rng = rng_for(seed, "ingest")
    resend_share = float(rng.uniform(0.15, 0.25))
    sent: list[list[str]] = []
    batches = []
    for b in range(n_batches):
        rows = []
        for _ in range(batch_size):
            if sent and rng.random() < resend_share:
                rows.append(sent[int(rng.integers(0, len(sent)))])
            else:
                rows.append(_fresh_doc(rng))
        sent.extend(rows)
        ids = np.arange(b * batch_size, (b + 1) * batch_size)
        batches.append(_docs_table(ids, rows, rng))
    return batches, resend_share


def write_docs(out_dir: str, table: pa.Table, threads: int) -> None:
    """Write ``table`` as ``documents.parquet`` next to the TPC-H tables."""
    con = connect(threads)
    try:
        con.register("docs_in", table)
        con.execute(
            f"COPY (SELECT * FROM docs_in ORDER BY doc_id) TO '{out_dir}/documents.parquet'"
            " (FORMAT parquet)"
        )
    finally:
        con.close()
