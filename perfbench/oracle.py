"""DuckDB oracles for every output the benchmark times.

Outputs are compared the way ``tools/check_correctness.py`` compares
the catalog: column names must match as sets, and the rows — columns
sorted by name, floats rendered as ``repr(round(v, 9))``, rows sorted —
must be equal.
"""

from __future__ import annotations

import sys

import duckdb

from titan_spark.functions.hashing import portable_hash64_sql

TPCH_TABLES = "region nation customer supplier part orders lineitem".split()
# the engine's tokenizer (functions/text.py) in DuckDB SQL
TOKS_SQL = "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), t -> t <> '')"


def norm_rows(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(round(v, 9))
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def _rounded_rows(cols, rows) -> list[tuple]:
    """Rows with columns in name order, sorted on their non-float
    values first, so rows pair up even when a float differs."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(
        out,
        key=lambda r: (
            [str(v) for v in r if not isinstance(v, float)],
            [v for v in r if isinstance(v, float)],
        ),
    )


class Expected:
    """An oracle result in normalized form.

    ``places`` marks an output whose floats are rounded to that many
    decimals: Spark rounds the exact binary value half-up while DuckDB
    rounds ``x * 10^places``, so a value on a rounding boundary may come
    out one unit apart in the last place. Such floats match within one
    unit; everything else must be equal."""

    def __init__(self, cols, rows, places: int | None = None):
        self.cols = sorted(cols)
        self.places = places
        self.rows = norm_rows(list(cols), rows) if places is None else _rounded_rows(list(cols), rows)

    def matches(self, cols, rows) -> bool:
        if sorted(cols) != self.cols:
            return False
        if self.places is None:
            return norm_rows(list(cols), rows) == self.rows
        got = _rounded_rows(list(cols), rows)
        unit = 1.01 * 10.0 ** -self.places
        return len(got) == len(self.rows) and all(
            a == b or (isinstance(a, float) and isinstance(b, float) and abs(a - b) <= unit)
            for ga, gb in zip(got, self.rows)
            for a, b in zip(ga, gb)
        )


def expected_sql(con: duckdb.DuckDBPyConnection, sql: str, places: int | None = None) -> Expected:
    res = con.execute(sql)
    return Expected([d[0] for d in res.description], res.fetchall(), places)


def check_df(df, expected: Expected) -> bool:
    """Collect ``df`` (off the clock) and compare it with the oracle."""
    rows = [tuple(r) for r in df.collect()]
    return expected.matches(df.columns, rows)


def report(checks: dict[str, bool]) -> bool:
    """True when every named check passed; names the failures on stderr."""
    bad = [name for name, ok in checks.items() if not ok]
    if bad:
        print(f"[perfbench] mismatched outputs: {', '.join(bad)}", file=sys.stderr)
    return not bad


def open_tables(con: duckdb.DuckDBPyConnection, data_dir: str, names) -> None:
    for t in names:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")


# ---------------------------------------------------------------------------
# near-duplicate bands (the streaming store's layout)


def doc_bands_sql(num_hashes: int = 32, bands: int = 8, prime: int = 2_147_483_647) -> str:
    """(doc_id, band, band_hash) for every row of view ``documents``,
    lane for lane what ``IncrementalDedup`` appends with the portable
    hash: word 3-gram shingles → 32 MinHash lanes → 8 bands of 4 lanes,
    each band hashed from its comma-joined lane values."""
    rows = num_hashes // bands
    lanes = ", ".join(
        f"MIN((hv * {2 * i + 1} + {7919 * (i + 1)}) % {prime}) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {concat} AS bs FROM sig".format(
            b=b, concat=" || ',' || ".join(f"m{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"""
        WITH t AS (SELECT doc_id, {TOKS_SQL.format(col='text')} AS toks FROM documents),
        s AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, GREATEST(CAST(len(toks) AS INT) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
            FROM t),
        e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        hh AS (SELECT doc_id, {portable_hash64_sql('g')} % {prime} AS hv FROM e),
        sig AS (SELECT doc_id, {lanes} FROM hh GROUP BY doc_id)
        SELECT doc_id, band, {portable_hash64_sql('bs')} AS band_hash FROM ({band_rows})
    """


class IngestModel:
    """Reference semantics of ``IncrementalDedup.process_batch``: a doc
    is dropped when any of its bands is already in the store (history)
    or is shared with a lower-id doc of the same batch that survived
    the history probe; survivors' bands join the store."""

    def __init__(self, bands_by_doc: dict[int, set]):
        self.bands_by_doc = bands_by_doc
        self.store: set = set()

    def step(self, doc_ids) -> set[int]:
        fresh = [d for d in sorted(doc_ids) if not (self.bands_by_doc[d] & self.store)]
        seen: set = set()
        survivors = set()
        for d in fresh:  # ascending ids: a doc loses to any lower fresh doc
            if not (self.bands_by_doc[d] & seen):
                survivors.add(d)
            seen |= self.bands_by_doc[d]
        for d in survivors:
            self.store |= self.bands_by_doc[d]
        return survivors


def union_find_clusters(pairs) -> Expected:
    """(doc_id, cluster_rep = min id of its component) over a pair list."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return Expected(["doc_id", "cluster_rep"], [(x, find(x)) for x in list(parent)])
