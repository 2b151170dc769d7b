"""The verify joins' shared broadcast budget (Jaccard verify in
pipeline/dedup.py, vector attach in pipeline/similarity.py): one parse
with a fallback for malformed values, and a budget of 0 or less always
takes the shuffle arm."""

import pytest

from titan_spark.pipeline.dedup import jaccard_pairs, verify_broadcast_budget_mb
from titan_spark.pipeline.similarity import _pair_vector_join

CONF = "spark.titan.verifyBroadcastMb"


def _broadcasts(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


@pytest.fixture
def budget(spark):
    def set_budget(value):
        spark.conf.set(CONF, value)

    yield set_budget
    spark.conf.unset(CONF)


def test_budget_reads_conf_then_env(spark, budget, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BC_MB", "32")
    assert verify_broadcast_budget_mb(spark) == 32.0
    budget("64")
    assert verify_broadcast_budget_mb(spark) == 64.0


@pytest.mark.parametrize("value", ["512m", "auto"])
def test_malformed_budget_falls_back_to_512(spark, budget, value):
    budget(value)
    with pytest.warns(RuntimeWarning, match="not a number"):
        assert verify_broadcast_budget_mb(spark) == 512.0


def test_malformed_env_budget_falls_back_to_512(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_BC_MB", "auto")
    with pytest.warns(RuntimeWarning, match="not a number"):
        assert verify_broadcast_budget_mb(spark) == 512.0


def test_jaccard_zero_budget_shuffles_empty_shingle_relation(spark):
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    no_cands = spark.createDataFrame([], "id_a long, id_b long")
    j = jaccard_pairs(docs, no_cands, broadcast_budget_mb=0)
    assert not _broadcasts(j)
    assert j.collect() == []
    assert _broadcasts(jaccard_pairs(docs, no_cands, broadcast_budget_mb=1))


def _vectors(spark):
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    va = spark.createDataFrame([(1, [1.0, 0.0])], "id_a long, va array<double>")
    vb = spark.createDataFrame([(2, [0.0, 1.0])], "id_b long, vb array<double>")
    return cand, va, vb


@pytest.mark.parametrize("value", ["0", "-1"])
def test_pair_vector_join_nonpositive_budget_shuffles(spark, budget, value):
    cand, va, vb = _vectors(spark)
    budget(value)
    # df=None: a non-positive budget must not even count the vectors
    j = _pair_vector_join(cand, va, vb, None, None, 2)
    assert not _broadcasts(j)
    assert j.count() == 1


def test_pair_vector_join_reuses_known_row_count(spark):
    cand, va, vb = _vectors(spark)
    # df=None: with the row count known, nothing is counted again
    j = _pair_vector_join(cand, va, vb, None, 2, 2)
    assert _broadcasts(j)
    assert j.count() == 1
