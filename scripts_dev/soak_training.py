"""Training-pass soak: replicate embeddings Nx, then time the k-means
TRAINING leg (Lloyd on the md5-bucket sample + the sampled gate) under
different KMEANS_SAMPLE_PER_CELL settings — evidence that training cost
tracks the SAMPLE size, not the corpus size.

Usage: python scripts_dev/soak_training.py [N] [per_cell ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from grebi_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    per_cells = [int(x) for x in sys.argv[2:]] or [4, 16, 9999]
    spark = get_spark("soak_training", shuffle_partitions=32)
    from pyspark.sql import functions as F

    import grebi_spark.functions.training as tr
    from grebi_spark import artifacts

    out = tempfile.mkdtemp(prefix=f"grebi_soak_train_{n}x_")
    df = spark.read.parquet(f"{BASE}/embeddings.parquet")
    parts = [df] + [
        df.withColumn("vec_id", F.col("vec_id") + i * 10_000_000)
        for i in range(1, n)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.coalesce(8).write.mode("overwrite").parquet(f"{out}/_e")
    os.rename(f"{out}/_e", f"{out}/embeddings.parquet")
    nrows = spark.read.parquet(f"{out}/embeddings.parquet").count()
    k = tr.kmeans_k(nrows)
    print(f"corpus {nrows} rows, K={k}", flush=True)

    for pc in per_cells:
        tr.KMEANS_SAMPLE_PER_CELL = pc
        artifacts.forget(tr.centroids, tr.gate, tr.corpus_n)
        e = spark.read.parquet(f"{out}/embeddings.parquet")
        s = min(nrows, pc * k)
        t0 = time.time()
        # training leg only (mirrors the kmeans_embeddings cache-fill
        # block): Lloyd pass 1 on the sample + centroid collect
        assert artifacts.peek(tr.centroids, spark, out) is None
        t2 = tr
        nloc = e.count()
        kloc = tr.kmeans_k(nloc)
        init = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.filter(F.col("vec_id") < kloc)
            .select("vec_id", "embedding")
            .collect()
        ]
        init.sort()
        v = t2._as_double(F.col("embedding"))
        a1 = t2.train_sample(e, nloc, kloc).select(
            "vec_id", "embedding", t2._assign(v, init).getField("cluster").alias("cluster")
        )
        dims = (
            a1.select("cluster", F.posexplode(v).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("val"))
        )
        cent_rows = (
            dims.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda st: st.getField("val"),
                ).alias("c")
            )
            .collect()
        )
        cents = sorted((int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows)
        t_train = time.time() - t0
        t0 = time.time()
        gate = tr.route_gate(e, cents, kloc, nloc)
        t_gate = time.time() - t0
        print(
            f"SOAK-TRAIN {n}x per_cell={pc} sample~{s} "
            f"lloyd={t_train:.1f}s gate={t_gate:.1f}s gate_accept={gate}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
