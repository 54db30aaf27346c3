"""The gated two-level assignment router (training.assign_routed).

The production default for centroid assignment is: two-level coarse→fine
routing when the sampled-agreement gate accepts (≥99% agreement with the
exact argmin on the md5-bucket training sample), exact flat GEMM+refine
otherwise (permitted only below KMEANS_FLAT_MAX_K).
Both legs AND the gate decision are mirrored in the oracle SQL, so the
router is hash-checked whichever way it falls:

* on the harness's near-uniform synthetic embeddings the gate REJECTS
  (measured sampled agreement 0.84/0.76/0.52 at sf0.001/0.01/0.1 —
  id-blocked coarse groups carry no geometry on uniform data), and the
  registered oracle-parity suite covers that branch at every sf;
* this module proves the ACCEPT branch: a separable corpus whose
  id-blocked groups ARE geometric (consecutive centers share a coarse
  axis — the inverted-multi-index layout) routes two-level and still
  hash-matches DuckDB running the same gated SQL.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from grebi_spark import artifacts


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def separable_dir(tmp_path_factory):
    """1024 64-dim vectors in 16 tight clusters whose centers are laid
    out so cluster ids k//G share a dominant axis: center_k =
    100·e[k//4] + 1·e[4 + k%4] (+ ~1e-2 deterministic jitter). The
    first K=16 vec_ids are the centers themselves, so the Lloyd init
    (first K vectors) starts on-cluster and the id-blocked coarse
    grouping is geometric — two-level routing is exact here, and the
    sampled-agreement gate must accept."""
    out = tmp_path_factory.mktemp("sep")
    n, k, d = 1024, 16, 64
    g = math.ceil(math.sqrt(k))
    rows = []
    for i in range(n):
        c = i % k
        v = np.zeros(d, dtype=np.float32)
        v[c // g] = 100.0
        v[g + c % g] = 1.0
        if i >= k:  # centers themselves stay exact
            v[8 + (i % 7)] += ((i * 37) % 101 - 50) / 5000.0
        rows.append((i, v.tolist(), c))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(
        pdf,
        schema=pa.schema(
            [
                pa.field("vec_id", pa.int64()),
                pa.field("embedding", pa.list_(pa.float32())),
                pa.field("label", pa.int32()),
            ]
        ),
        preserve_index=False,
    )
    pq.write_table(tbl, str(out / "embeddings.parquet"))
    return str(out)


def _oracle_rows(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return cur.fetchall(), cols


def test_gate_accepts_and_routed_kmeans_hash_matches(spark, separable_dir):
    import __spark_entry__ as entry
    import grebi_spark.functions.training as tr

    df = entry.queries()["kmeans_embeddings"](spark, separable_dir)
    rows = df.collect()
    gate = artifacts.peek(tr.gate, spark, separable_dir)
    assert gate is True, "gate must ACCEPT on separable data"
    orows, ocols = _oracle_rows(entry.oracle_sql()["kmeans_embeddings"], separable_dir)
    assert _canon([tuple(r) for r in rows], df.columns) == _canon(orows, ocols)
    # sanity: 16 clusters of 64, routed exactly
    assert len(rows) == 16 and all(r["n_vecs"] == 64 for r in rows)


def test_routed_semdedup_hash_matches(spark, separable_dir):
    import __spark_entry__ as entry
    import grebi_spark.functions.training as tr

    df = entry.queries()["semantic_dedup_cells"](spark, separable_dir)
    rows = [tuple(r) for r in df.collect()]
    assert artifacts.peek(tr.gate, spark, separable_dir) is True
    orows, ocols = _oracle_rows(
        entry.oracle_sql()["semantic_dedup_cells"], separable_dir
    )
    assert _canon(rows, df.columns) == _canon(orows, ocols)
    assert len(rows) > 0  # tight clusters produce within-cell dup pairs


def test_gate_rejects_on_uniform_corpus(spark, sf_dir):
    """On the harness corpus the id-blocked coarse groups carry no
    geometry, so the gate must fall back to the exact flat leg — and
    the routed twin (kmeans_assign_twolevel's diagnostic) reports the
    sub-99% agreement that justifies it."""
    import __spark_entry__ as entry
    import grebi_spark.functions.training as tr

    entry.queries()["kmeans_embeddings"](spark, sf_dir).collect()
    assert artifacts.peek(tr.gate, spark, sf_dir) is False
    diag = entry.queries()["kmeans_assign_twolevel"](spark, sf_dir).collect()
    n_eval = sum(r["n_eval"] for r in diag)
    n_agree = sum(r["n_agree"] for r in diag)
    assert n_eval > 0 and n_agree < tr.KMEANS_ROUTE_MIN_AGREE * n_eval
