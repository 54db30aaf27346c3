"""Sample-bounded k-means training (training.train_sample).

Every O(n·K) leg of the k-means family is bounded by the deterministic
md5-bucket training sample: Lloyd fits on it, the agreement gate
evaluates on it, and corpus-wide exact assignment is forbidden outright
above KMEANS_FLAT_MAX_K. These tests pin the CONTRACT (what may touch
the corpus) — value parity with DuckDB is pinned by the oracle suite,
whose shared CTE chain mirrors the same sample.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import grebi_spark.functions.training as tr
from grebi_spark import artifacts


def test_sample_is_row_local_and_expected_size(spark, sf_dir):
    """Membership is a pure function of vec_id (no sort, no shuffle) and
    the realised sample size sits near the 16·K expectation."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    k = tr.kmeans_k(n)
    s = tr.train_sample(e, n, k)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Sort" not in plan, (
        "sample selection must be a map-only filter:\n" + plan
    )
    got = s.count()
    expect = min(n, tr.KMEANS_SAMPLE_PER_CELL * k)
    # binomial tolerance: ±40% covers 5+ sigma at these sizes
    assert 0.6 * expect <= got <= min(n, 1.4 * expect)
    # deterministic: same rows every time
    assert got == tr.train_sample(e, n, k).count()


def test_lloyd_pass_scans_only_the_sample(spark, sf_dir):
    """The training pass (assign1 against init centroids) carries the
    sample filter all the way into the scan — the corpus never pays the
    n·K distance work. Proven on the physical plan: the md5-bucket
    predicate appears as a Filter over the embeddings scan."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    k = tr.kmeans_k(n)
    s = tr.train_sample(e, n, k).select(
        "vec_id", tr._assign(tr._as_double(F.col("embedding")), [(0, [0.0] * 64)])
    )
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "md5" in plan and "Filter" in plan, plan


def test_flat_assignment_forbidden_above_ceiling():
    """assign_by_rule must refuse a corpus-wide exact pass above
    KMEANS_FLAT_MAX_K — the one shape that cannot survive 100×."""
    cents = [(0, [0.0] * 4), (1, [1.0] * 4)]
    with pytest.raises(ValueError, match="KMEANS_FLAT_MAX_K"):
        tr.assign_by_rule(
            F.col("v"), cents, routed=False, k_int=tr.KMEANS_FLAT_MAX_K + 1
        )


def test_gate_forced_on_above_ceiling(spark, sf_dir, monkeypatch):
    """Above the flat ceiling the gate short-circuits to ACCEPT without
    running any exact leg (the fallback it would arbitrate is illegal),
    so the decision is O(1)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    monkeypatch.setattr(tr, "KMEANS_FLAT_MAX_K", 4)
    assert tr.route_gate(e, [(0, [0.0] * 64)], 5, n=0) is True


def test_gate_decision_matches_oracle_gate_cte(spark, sf_dir):
    """The Spark gate decision equals the oracle ``gate`` CTE's boolean
    on the same corpus — the routing decision itself is oracle-checked,
    not just the assignment it selects."""
    import duckdb

    import __spark_entry__ as entry

    entry.queries()["kmeans_embeddings"](spark, sf_dir).collect()
    spark_gate = artifacts.peek(tr.gate, spark, sf_dir)
    assert spark_gate is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    (oracle_gate,) = con.execute(
        tr.ORACLE_KMEANS_CTES + " SELECT ok FROM gate"
    ).fetchone()
    assert bool(oracle_gate) == spark_gate
