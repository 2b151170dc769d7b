"""The benchmark workloads, each a closed loop with one client.

A workload generates its inputs from the seed, loads them through
``titan_spark.sources``, warms up, and then runs passes of ops. An op is
one call the client waits for: a Gremlin query, one curation stage over
the corpus, or one ingest micro-batch. Each op is timed from the start
of plan construction to the end of the noop write of its output, and its
output is checked against DuckDB off the clock.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.harness import Tracer, median, noop
from titan_spark import P
from titan_spark.sources.tpch import OFF, load_tables, load_tpch_graph


@dataclass
class OpResult:
    name: str
    # ops with the same key do the same work (traced vs untraced pairs)
    key: str
    seconds: float
    items: int
    ok: bool
    traced: bool


class Bench:
    """What a workload needs while it runs: the session, the tracer, a
    DuckDB connection for the oracles and the list of op results."""

    def __init__(self, spark, tracer: Tracer, threads: int):
        self.spark = spark
        self.tracer = tracer
        self.con = gen.connect(threads)
        self.results: list[OpResult] = []
        # off during warm-up: outputs are not checked
        self.checking = True
        self._n = 0

    def op(self, name: str, build, check, items: int = 1, build_span: str = "build",
           plans: bool = True, key: str | None = None):
        """Run one op: ``build()`` returns the output DataFrame (any eager
        jobs it issues are part of the op), the noop write computes it.
        ``check(df)`` runs off the clock and returns True when the output
        matches its oracle. Exceptions count as failed ops. ``plans``
        reads Catalyst phases of the returned DataFrame; an op that
        writes several DataFrames reads them itself."""
        self._n += 1
        op_id = f"{name}#{self._n}"
        tr = self.tracer
        df = None
        seconds = 0.0
        ok = False
        try:
            with tr.span(name, op_id=op_id), tr.job_group(op_id):
                t0 = time.perf_counter()
                with tr.span(build_span):
                    df = build()
                if plans:
                    tr.analysis(op_id, df)
                with tr.span("spark.exec"):
                    noop(df)
                seconds = time.perf_counter() - t0
            if plans:
                tr.planning(op_id, df)
            tr.probe_state(op_id)
            ok = bool(check(df)) if self.checking else True
            if not ok:
                print(f"[perfbench] wrong output: {op_id}", file=sys.stderr)
        except Exception:  # an op that raises is a failed op; the run goes on
            traceback.print_exc(file=sys.stderr)
        self.results.append(OpResult(name, key or name, seconds, items, ok, tr.enabled))


class Workload:
    name = ""
    # the workload's TPC-H scale; the tables are opened by the loader
    sf = 0.001

    def __init__(self, seed: int):
        self.seed = seed
        # input sizes and seed-drawn shares, printed with the host block
        self.inputs: dict = {"tpch_sf": self.sf}

    # -- set-up ------------------------------------------------------
    def generate(self, data_dir: str, threads: int) -> None:
        gen.write_tpch(data_dir, self.sf, threads)

    def load(self, spark, data_dir: str) -> None:
        raise NotImplementedError

    def prepare_oracle(self, bench: Bench, data_dir: str) -> None:
        oracle.open_tables(bench.con, data_dir, oracle.TPCH_TABLES)

    def warm_up(self, bench: Bench) -> None:
        raise NotImplementedError

    # -- measurement -------------------------------------------------
    def next_pass(self):
        """The plan of the next pass, or None when the inputs are used up."""
        raise NotImplementedError

    def overhead_twin(self, plan):
        """The part of ``plan`` that a traced run first runs untraced,
        so that tracing overhead compares the same ops."""
        return plan

    def run_pass(self, bench: Bench, plan) -> None:
        raise NotImplementedError

    def final_check(self, bench: Bench) -> bool:
        """Checks on state the whole run leaves behind."""
        return True

    def layer_metrics(self, bench: Bench) -> dict:
        return {}


# ---------------------------------------------------------------------------
# traversal_mix


SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REV_SQL = "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"


class TraversalMix(Workload):
    """Seven parametrized Gremlin templates with seed-drawn constants.
    A pass runs every template twice; two of every seven queries start
    at hub vertices (nations, regions, suppliers), and which templates
    do rotates, so every pass has the same hub share."""

    name = "traversal_mix"
    sf = 0.01
    TEMPLATES = (
        "point_lookup",
        "one_hop",
        "two_hop_revenue",
        "three_hop_region",
        "local_top_k",
        "repeat_emit_bfs",
        "semi_join",
    )

    ROUNDS_PER_PASS = 2
    WARMUP_ROUNDS = 2
    HUBS_PER_ROUND = 2

    def __init__(self, seed: int):
        super().__init__(seed)
        self.rng = gen.rng_for(seed, "traversal")
        self.rounds = 0
        self.inputs["queries_per_pass"] = self.ROUNDS_PER_PASS * len(self.TEMPLATES)
        self.inputs["hub_queries_per_pass"] = self.ROUNDS_PER_PASS * self.HUBS_PER_ROUND

    def load(self, spark, data_dir):
        self.g = load_tpch_graph(spark, data_dir)

    def prepare_oracle(self, bench, data_dir):
        super().prepare_oracle(bench, data_dir)
        c = bench.con
        self.n_cust = c.execute("SELECT max(c_custkey) FROM customer").fetchone()[0]
        self.n_supp = c.execute("SELECT max(s_suppkey) FROM supplier").fetchone()[0]

    def _query(self, template: str, hub: bool):
        """(build, oracle SQL) for one query with seed-drawn constants."""
        rng, g = self.rng, self.g
        nation = int(rng.integers(0, 25))
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
        d0 = dt.date(1993, 1, 1) + dt.timedelta(days=int(rng.integers(0, 4 * 365)))
        cust = int(rng.integers(1, self.n_cust + 1))
        supp = int(rng.integers(1, self.n_supp + 1))

        def customers():
            if hub:
                return g.V().has_label("nation").has("key", nation).in_("in_nation").has_label("customer")
            return g.V().has_label("customer").has("mktsegment", seg)

        cust_sql = f"c_nationkey = {nation}" if hub else f"c_mktsegment = '{seg}'"

        if template == "point_lookup":
            if hub:
                return (
                    lambda: g.V().has_label("supplier").has("key", supp).values("name", "acctbal"),
                    f"SELECT s_name AS name, s_acctbal AS acctbal FROM supplier WHERE s_suppkey = {supp}",
                )
            return (
                lambda: g.V().has_label("customer").has("key", cust).values("name", "acctbal"),
                f"SELECT c_name AS name, c_acctbal AS acctbal FROM customer WHERE c_custkey = {cust}",
            )
        if template == "one_hop":
            if hub:
                return (
                    lambda: g.V().has_label("nation").has("key", nation).in_("in_nation").values("key", "name"),
                    f"""SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_nationkey = {nation}
                        UNION ALL
                        SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey = {nation}""",
                )
            return (
                lambda: g.V().has_label("customer").has("key", cust).out("placed").values("key", "totalprice"),
                f"SELECT o_orderkey AS key, o_totalprice AS totalprice FROM orders WHERE o_custkey = {cust}",
            )
        if template == "two_hop_revenue":
            d1 = d0 + dt.timedelta(days=365)
            return (
                lambda: customers()
                .out("placed")
                .outE("contains")
                .has("shipdate", P.between(d0.isoformat(), d1.isoformat()))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum(F.col("extendedprice") * (1 - F.col("discount"))), 2).alias("revenue"),
                    group_by=["returnflag"],
                ),
                f"""SELECT l_returnflag AS returnflag, count(*) AS n, {_REV_SQL}
                    FROM customer JOIN orders ON o_custkey = c_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
                    WHERE {cust_sql}
                      AND l_shipdate >= TIMESTAMP '{d0.isoformat()}' AND l_shipdate < TIMESTAMP '{d1.isoformat()}'
                    GROUP BY 1""",
            )
        if template == "three_hop_region":
            if hub:
                bal = float(round(rng.uniform(-500.0, 5000.0), 2))
                return (
                    lambda: g.V()
                    .has_label("supplier")
                    .has("acctbal", P.gt(bal))
                    .out("in_nation")
                    .out("in_region")
                    .group_count("name"),
                    f"""SELECT r_name AS name, count(*) AS count
                        FROM supplier JOIN nation ON n_nationkey = s_nationkey
                        JOIN region ON r_regionkey = n_regionkey
                        WHERE s_acctbal > {bal!r} GROUP BY 1""",
                )
            return (
                lambda: customers().out("in_nation").out("in_region").group_count("name"),
                f"""SELECT r_name AS name, count(*) AS count
                    FROM customer JOIN nation ON n_nationkey = c_nationkey
                    JOIN region ON r_regionkey = n_regionkey
                    WHERE {cust_sql} GROUP BY 1""",
            )
        if template == "local_top_k":
            k = int(rng.integers(1, 4))
            d1 = d0 + dt.timedelta(days=30)
            return (
                lambda: g.V()
                .has_label("order")
                .has("orderdate", P.between(d0.isoformat(), d1.isoformat()))
                .outE("contains")
                .local_top_k(k, "-extendedprice", "linenumber")
                .to_df(
                    (F.col("_origin") - OFF["order"]).alias("orderkey"),
                    F.col("linenumber"),
                    F.col("extendedprice"),
                ),
                f"""SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
                           l_extendedprice AS extendedprice FROM (
                        SELECT l_orderkey, l_linenumber, l_extendedprice,
                               row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_extendedprice DESC, l_linenumber) AS rn
                        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                        WHERE o_orderdate >= TIMESTAMP '{d0.isoformat()}'
                          AND o_orderdate < TIMESTAMP '{d1.isoformat()}')
                    WHERE rn <= {k}""",
            )
        if template == "repeat_emit_bfs":
            if hub:
                region = int(rng.integers(0, 5))
                start = OFF["region"] + region
                sql = f"""
                    SELECT CAST({start} AS BIGINT) AS id
                    UNION ALL SELECT CAST({OFF['nation']} + n_nationkey AS BIGINT)
                        FROM nation WHERE n_regionkey = {region}
                    UNION ALL SELECT CAST({OFF['customer']} + c_custkey AS BIGINT)
                        FROM customer JOIN nation ON n_nationkey = c_nationkey
                        WHERE n_regionkey = {region}
                    UNION ALL SELECT CAST({OFF['supplier']} + s_suppkey AS BIGINT)
                        FROM supplier JOIN nation ON n_nationkey = s_nationkey
                        WHERE n_regionkey = {region}"""
            else:
                start = OFF["nation"] + nation
                sql = f"""
                    SELECT CAST({start} AS BIGINT) AS id
                    UNION ALL SELECT CAST({OFF['customer']} + c_custkey AS BIGINT)
                        FROM customer WHERE c_nationkey = {nation}
                    UNION ALL SELECT CAST({OFF['supplier']} + s_suppkey AS BIGINT)
                        FROM supplier WHERE s_nationkey = {nation}"""
            return (
                lambda: g.V()
                .has_id(start)
                .repeat_until(
                    lambda x: x.in_("in_region", "in_nation"),
                    lambda x: F.lit(False),
                    max_times=2,
                    emit=True,
                )
                .values("id"),
                sql,
            )
        if template == "semi_join":
            thr = float(round(rng.uniform(100_000.0, 300_000.0), 2))

            def build():
                t = customers().as_("c").out("placed").has("totalprice", P.gt(thr))
                return (
                    t.select_(("c", "id", "cid"))
                    .dropDuplicates(["cid"])
                    .agg(F.count(F.lit(1)).alias("n"))
                )

            return (
                build,
                f"""SELECT count(DISTINCT c_custkey) AS n
                    FROM customer JOIN orders ON o_custkey = c_custkey
                    WHERE {cust_sql} AND o_totalprice > {thr!r}""",
            )
        raise ValueError(template)

    def _round(self, r: int):
        """(template, starts at a hub) for round ``r``."""
        n = len(self.TEMPLATES)
        hubs = {(r * self.HUBS_PER_ROUND + i) % n for i in range(self.HUBS_PER_ROUND)}
        return [(t, i in hubs) for i, t in enumerate(self.TEMPLATES)]

    def warm_up(self, bench):
        """The first two rounds' query shapes, outputs unchecked. Later
        rounds were measured still getting faster as the JIT warms up,
        but each round adds to set-up time."""
        bench.checking = False
        try:
            for r in range(self.WARMUP_ROUNDS):
                for template, hub in self._round(r):
                    build, _sql = self._query(template, hub)
                    bench.op(template, build, None, build_span="operators.build")
        finally:
            bench.checking = True

    def next_pass(self):
        """(key, template, starts at a hub, build, oracle SQL) for each
        query of the pass, with its constants drawn here."""
        plan = []
        for _ in range(self.ROUNDS_PER_PASS):
            for i, (template, hub) in enumerate(self._round(self.rounds)):
                key = f"{template}@{self.rounds}.{i}"
                plan.append((key, template, hub, *self._query(template, hub)))
            self.rounds += 1
        return plan

    def overhead_twin(self, plan):
        """The same templates and hub starts with fresh constants. The
        very same queries would not do: Spark compiles code for each
        query's literals and reuses it, so a rerun skips that work."""
        return [(key, t, hub, *self._query(t, hub)) for key, t, hub, _b, _s in plan]

    def run_pass(self, bench, plan):
        for key, template, _hub, build, sql in plan:
            places = 2 if template == "two_hop_revenue" else None
            expected = oracle.expected_sql(bench.con, sql, places)
            bench.op(
                template,
                build,
                lambda df, e=expected: oracle.check_df(df, e),
                build_span="operators.build",
                key=key,
            )


# ---------------------------------------------------------------------------
# curation_ingest


class CurationIngest(Workload):
    """Batch curation of a seeded corpus plus micro-batches through the
    incremental near-duplicate store.

    A pass is four ops. Three curation ops run over the whole corpus:
    ``dedup`` (MinHash → LSH candidates → Jaccard verify → clusters by
    connected components), ``quality`` (``doc_quality`` then
    ``gopher_rules``, two filters of one module, each under a second
    long) and ``decontam`` (n-gram decontamination); the corpus has a
    seed-drawn near-duplicate share. Then one ingest batch goes through
    ``IncrementalDedup.process_batch`` — the same MinHash banding, used
    for writes. With ``compact_every=3`` the first measured batch (and
    every third one after it) also compacts the store, so it runs the
    whole plain-batch path — history probe, append — and then the
    compaction. A seed-drawn share of ingest docs re-sends earlier
    content, so measured batches find history to drop against.

    Set-up runs two unmeasured passes, which ingest batches 0 and 1, and
    then compacts the store once: this compiles every plan shape, lets
    the JIT get past the steepest part of its warm-up (later passes were
    measured still getting faster) and leaves history in the store. It
    stands in for ``IncrementalDedup.warm_up()``, which compiles the
    ingest plans on a throwaway store and would add a second cold start
    to set-up. The portable hash keeps every stage checkable against
    DuckDB."""

    name = "curation_ingest"
    N_DOCS = 2000
    BATCH = 100
    COMPACT_EVERY = 3
    WARMUP_PASSES = 2
    # batches the inputs hold: the warm-up's, then one a pass
    N_BATCHES = 8

    def __init__(self, seed: int):
        super().__init__(seed)
        self.counts: list[dict] = []
        self.next_batch = 0
        self.survivors = 0
        self.sent = 0

    def generate(self, data_dir, threads):
        super().generate(data_dir, threads)
        table, dup_share = gen.corpus(self.seed, self.N_DOCS)
        gen.write_docs(data_dir, table, threads)
        self.batches, resend_share = gen.ingest_batches(self.seed, self.N_BATCHES, self.BATCH)
        self.inputs = {
            "tpch_sf": self.sf,
            "docs": self.N_DOCS,
            "near_dup_share": dup_share,
            "batch_docs": self.BATCH,
            "resend_share": resend_share,
            "compact_every": self.COMPACT_EVERY,
        }
        for b, batch in enumerate(self.batches):
            bdir = os.path.join(data_dir, "batches", str(b))
            os.makedirs(bdir)
            gen.write_docs(bdir, batch, threads)

    def load(self, spark, data_dir):
        from titan_spark.streaming.ingest import IncrementalDedup

        self.data_dir = data_dir
        self.docs = load_tables(spark, data_dir)["documents"]
        self.store_dir = os.path.join(data_dir, "store")
        self.dedup = IncrementalDedup(
            spark, self.store_dir, hash_fn="portable", compact_every=self.COMPACT_EVERY
        )

    def prepare_oracle(self, bench, data_dir):
        import pyarrow as pa
        from titan_spark.plans.catalog import ORACLE_SQL

        con = bench.con
        oracle.open_tables(con, data_dir, ["documents"])
        pairs = con.execute(ORACLE_SQL["minhash_lsh_pairs"]).fetchall()
        self.expected = {
            "pairs": oracle.Expected(["id_a", "id_b", "jaccard"], pairs, places=4),
            "dedup": oracle.union_find_clusters([(a, b) for a, b, _ in pairs]),
            "doc_quality": oracle.expected_sql(con, ORACLE_SQL["doc_quality"], places=4),
            "gopher": oracle.expected_sql(con, ORACLE_SQL["gopher_rules"], places=4),
            "decontam": oracle.expected_sql(con, ORACLE_SQL["ngram_decontaminate"]),
        }
        con.register("ingest_docs", pa.concat_tables(self.batches))
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM ingest_docs")
        bands: dict[int, set] = {}
        for doc, band, h in con.execute(oracle.doc_bands_sql()).fetchall():
            bands.setdefault(doc, set()).add((band, h))
        self.model = oracle.IngestModel(bands)

    def warm_up(self, bench):
        """Passes and a compaction, outputs unchecked; the reference
        model still takes the warm-up batches in. ``streaming.warmup_s``
        is the time of the batches and the compaction."""
        bench.checking = False
        try:
            for _ in range(self.WARMUP_PASSES):
                plan = self.next_pass()
                self.run_pass(bench, plan)
                for b in plan:
                    ids = self.batches[b].column("doc_id").to_pylist()
                    self.survivors += len(self.model.step(ids))
                    self.sent += len(ids)
        finally:
            bench.checking = True
        t0 = time.perf_counter()
        self.dedup.compact()
        self.warmup_s = time.perf_counter() - t0 + sum(
            r.seconds for r in bench.results if r.name.endswith("_batch")
        )

    def next_pass(self):
        """The ingest batch of the next pass."""
        b = self.next_batch
        if b >= len(self.batches):
            return None
        self.next_batch += 1
        return [b]

    def overhead_twin(self, plan):
        """The curation stages only: they rerun on the same corpus, but
        an ingest batch never repeats."""
        return []

    def _stage_builds(self, bench, held: list, extra: dict) -> dict:
        """``build`` per curation op. Traced, every stage's output is
        persisted (into ``held``) and written before the next stage
        reads it, so each stage span holds only that stage's work."""
        from titan_spark.pipeline.decontam import hash_eval_split, ngram_decontaminate
        from titan_spark.pipeline.dedup import (
            dedup_clusters,
            jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from titan_spark.pipeline.text_quality import doc_quality, gopher_rules

        tr = bench.tracer
        docs = self.docs

        def stage(name, fn):
            with tr.span("pipeline." + name):
                df = fn()
                if tr.enabled:
                    op_id = tr.current_op()
                    tr.analysis(op_id, df)
                    df = df.persist()
                    held.append(df)
                    noop(df)
                    tr.planning(op_id, df)
            return df

        def dedup():
            sigs = stage("minhash", lambda: minhash_signatures(docs, hash_fn="portable"))
            cands = stage(
                "lsh_candidates",
                lambda: lsh_candidate_pairs(sigs, num_hashes=32, hash_fn="portable"),
            )
            pairs = stage(
                "jaccard_verify",
                lambda: jaccard_pairs(docs, cands)
                .filter(F.col("jaccard") >= 0.5)
                .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")),
            )
            if tr.enabled:
                extra["cands"], extra["pairs"] = cands, pairs
            return stage("clusters", lambda: dedup_clusters(pairs.select("id_a", "id_b")))

        def quality():
            extra["doc_quality"] = stage("doc_quality", lambda: doc_quality(docs))
            noop(extra["doc_quality"])
            return stage("gopher", lambda: gopher_rules(docs))

        return {
            "dedup": dedup,
            "quality": quality,
            "decontam": lambda: stage(
                "decontam", lambda: ngram_decontaminate(*hash_eval_split(docs, mod=20), n=4)
            ),
        }

    def _check_stage(self, bench, name: str, df, extra: dict) -> bool:
        if name == "quality":
            dq = extra["doc_quality"].select("doc_id", "n_chars", "n_tokens", "quality_score")
            checks = {
                "doc_quality": oracle.check_df(dq, self.expected["doc_quality"]),
                "gopher": oracle.check_df(df, self.expected["gopher"]),
            }
        else:
            checks = {name: oracle.check_df(df, self.expected[name])}
        if name == "dedup" and bench.tracer.enabled:
            checks["pairs"] = oracle.check_df(extra["pairs"], self.expected["pairs"])
            self.counts.append(
                {"candidates": extra["cands"].count(), "verified": len(self.expected["pairs"].rows)}
            )
        return oracle.report(checks)

    def _check_batch(self, bench, b: int, survivors) -> bool:
        """The batch's survivors and the rows it added to the store are
        the docs the reference model keeps."""
        ids = self.batches[b].column("doc_id").to_pylist()
        expected = self.model.step(ids)
        got = {r[0] for r in survivors.select("doc_id").collect()}
        stored = {r[0] for r in bench.con.execute(
            f"SELECT DISTINCT doc_id FROM read_parquet('{self._store_glob()}',"
            f" hive_partitioning = true) WHERE batch_id = {b}"
        ).fetchall()}
        self.survivors += len(got)
        self.sent += len(ids)
        return oracle.report({f"batch {b} survivors": got == expected,
                              f"batch {b} store rows": stored == expected})

    def _store_glob(self) -> str:
        return os.path.join(self.store_dir, "**", "*.parquet")

    def run_pass(self, bench, batches):
        held: list[DataFrame] = []
        extra: dict[str, DataFrame] = {}
        try:
            for name, build in self._stage_builds(bench, held, extra).items():
                bench.op(
                    name, build,
                    lambda df, n=name: self._check_stage(bench, n, df, extra),
                    items=self.N_DOCS if name == "dedup" else 0,
                    plans=False,
                )
        finally:
            for df in held:
                df.unpersist()
        for b in batches:
            path = os.path.join(self.data_dir, "batches", str(b), "documents.parquet")
            kind = "compaction_batch" if (b + 1) % self.COMPACT_EVERY == 0 else "plain_batch"
            bench.op(
                kind,
                lambda p=path, b=b: self.dedup.process_batch(bench.spark.read.parquet(p), b),
                lambda df, b=b: self._check_batch(bench, b, df),
                items=self.BATCH,
                build_span="streaming." + kind,
                key=f"batch {b}",
            )

    def final_check(self, bench) -> bool:
        """No two distinct docs in the store share a band."""
        clash = bench.con.execute(
            f"""SELECT count(*) FROM (
                SELECT band, band_hash FROM read_parquet('{self._store_glob()}',
                    hive_partitioning = true)
                GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 1)"""
        ).fetchone()[0]
        return clash == 0

    def layer_metrics(self, bench):
        cand = median([c["candidates"] for c in self.counts])
        ver = median([c["verified"] for c in self.counts])
        files = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(self.store_dir)
            for f in fs
            if f.endswith(".parquet")
        ]
        size = sum(os.path.getsize(f) for f in files)

        return {
            "pipeline.candidate_pairs": cand,
            "pipeline.verified_pairs": ver,
            "pipeline.candidate_yield": ver / cand if cand else 0.0,
            "streaming.warmup_s": self.warmup_s,
            "streaming.compaction_batch_ms": median(
                [r.seconds * 1000 for r in bench.results if r.name == "compaction_batch"]
            ),
            "streaming.store_mb": size / 2**20,
            "streaming.store_files": len(files),
            "streaming.store_bytes_per_doc": size / self.survivors if self.survivors else 0.0,
            "streaming.survivor_frac": self.survivors / self.sent if self.sent else 0.0,
        }


WORKLOADS = {w.name: w for w in (TraversalMix, CurationIngest)}
