"""Round-12 ANN ladder: flat vs two-level (IMI) quantizer, and the
split rung — measured at sf0.1 / sf1 / sf4 (2k / 20k / 80k vectors).

Per scale point, both geometries at their VOLUME-DERIVED sizes:
- flat: k = derived_n_centroids(n) = clamp(√n, 16, 4096), n_probe=4
- imi:  k1 = k2 = derived_imi_k(n) ≈ ⌈n^(1/4)⌉, T = 9 joint-ranked
reporting recall@5 (exact-rerank serving mode, 8 queries vs
brute-force ground truth), the mean PER-QUERY candidate fraction
(probed cells' rows / index rows — the scan-cost term), build wall
times, and the split rung's cost vs hot-cell size.

Usage: python scripts/ann_ladder.py [sf_dir ...]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def recall_at_5(spark, corpus, fetch):
    from project_clinical_data_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    queries = corpus.filter(F.col("vec_id") < 8)
    exact: dict[int, set[int]] = {}
    for r in brute_force_topk(queries, corpus, k=5, dim=64).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set[int]] = {}
    for r in fetch(queries).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recs = [
        len(approx.get(q, set()) & t) / len(t) for q, t in exact.items()
    ]
    return sum(recs) / len(recs)


def per_query_fraction(spark, path, probes_of):
    """Mean over queries of (rows in that query's probed cells) / n."""
    from project_clinical_data_etl_pipeline_spark.operators import (
        ann_index as AI,
    )

    idx = AI.read_index(spark, path)
    occ = {
        r["cell"]: r["n"]
        for r in idx.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    total = sum(occ.values())
    per_q: dict[int, int] = {}
    for r in probes_of().select("query_id", "cell").collect():
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + occ.get(
            r["cell"], 0
        )
    return sum(per_q.values()) / (len(per_q) * total)


def main():
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        "/root/repo/scratch/sf1",
        "/root/repo/scratch/sf4",
    ]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from project_clinical_data_etl_pipeline_spark.operators import (
        ann_index as AI,
    )
    from project_clinical_data_etl_pipeline_spark.operators.quantization import (
        derived_imi_k,
        imi_probe_cells,
    )
    from project_clinical_data_etl_pipeline_spark.session import tune
    from project_clinical_data_etl_pipeline_spark.tables import load

    tune(spark)
    for sf_dir in dirs:
        corpus = load(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = corpus.count()
        out = {"sf_dir": sf_dir, "n": n}
        queries = corpus.filter(F.col("vec_id") < 8)

        # flat at derived k
        flat_path = tempfile.mkdtemp(prefix="ladder_flat_")
        t0 = time.perf_counter()
        meta_f = AI.build_ivfpq_index(spark, corpus, flat_path, dim=64)
        out["flat_build_s"] = round(time.perf_counter() - t0, 1)
        out["flat_k"] = meta_f["n_centroids"]
        out["flat_recall"] = recall_at_5(
            spark,
            corpus,
            lambda q: AI.probe_index_rerank(
                spark, flat_path, q, corpus, k=5, n_probe=4
            ),
        )
        # flat per-query fraction: probes = top-4 cells per query
        from project_clinical_data_etl_pipeline_spark.operators.similarity import (  # noqa: E501
            _centroid_df,
            cosine,
            norm,
        )
        from pyspark.sql import Window

        def flat_probes():
            cent = _centroid_df(spark, meta_f["centroids"])
            w = Window.partitionBy("query_id").orderBy(
                F.col("__sim").desc(), F.col("centroid_id").asc()
            )
            return (
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("__qv"),
                    norm(F.col("embedding"), 64).alias("__qn"),
                )
                .crossJoin(F.broadcast(cent))
                .withColumn(
                    "__sim", cosine(F.col("__qv"), F.col("__center"), 64)
                )
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= 4)
                .select("query_id", F.col("centroid_id").alias("cell"))
            )

        out["flat_frac"] = round(
            per_query_fraction(spark, flat_path, flat_probes), 4
        )

        # split rung on the flat index: hottest cell
        crit = AI.retrain_criterion(spark, flat_path)
        hot = crit["hot_cell"]
        hot_rows = (
            AI.read_index(spark, flat_path)
            .filter(F.col("cell") == hot)
            .count()
        )
        t0 = time.perf_counter()
        AI.split_cell(spark, flat_path, hot, n_subcells=2)
        out["split_s"] = round(time.perf_counter() - t0, 1)
        out["split_hot_rows"] = hot_rows
        out["split_hot_frac"] = round(hot_rows / n, 4)

        # imi at derived k1=k2
        imi_path = tempfile.mkdtemp(prefix="ladder_imi_")
        t0 = time.perf_counter()
        meta_i = AI.build_imi_index(spark, corpus, imi_path, dim=64)
        out["imi_build_s"] = round(time.perf_counter() - t0, 1)
        out["imi_k1"] = meta_i["imi_k1"]
        out["imi_cells"] = meta_i["n_centroids"]
        out["imi_recall"] = recall_at_5(
            spark,
            corpus,
            lambda q: AI.probe_index_rerank(
                spark, imi_path, q, corpus, k=5, n_probe=3
            ),
        )
        out["imi_frac"] = round(
            per_query_fraction(
                spark,
                imi_path,
                lambda: imi_probe_cells(
                    queries,
                    meta_i["centroids"],
                    meta_i["centroids2"],
                    64,
                    3,
                    3,
                    stride=meta_i["imi_stride"],
                ),
            ),
            4,
        )
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
