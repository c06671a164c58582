"""Offline ANN training (the FAISS-style train-once/serve-forever
split): fit the PQ codebooks and the IVF coarse quantizer with
pyspark.ml KMeans (pinned seeds) over the sf0.01 embeddings and
commit the results as single-file parquet artifacts —
``artifacts/pq_codebook_trained.parquet`` (code, j, cval; m=32,
k=64 — the config SURVEY measured 0.68@10 untrained) and
``artifacts/ivf_centroids_trained.parquet`` (centroid_id, cv).

The artifacts ship in-repo like ``jvm/kernels.jar``: serving-path
queries (``ann_recall``'s trained PQ / IVF-PQ rows) READ them on both
engines — Spark and the DuckDB oracle see byte-identical tables, so
the trained serving stack is hash-gatable even though the KMeans fit
itself is not SQL-expressible.  Re-run this script only to retrain
(artifact churn invalidates the committed recall targets in
BASELINE.md).

Usage: python tools/train_ann_artifacts.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "artifacts",
        )
    )
    os.makedirs(out_dir, exist_ok=True)

    from record_linkage_ldu_spark.operators import ann
    from record_linkage_ldu_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    cb = ann.pq_trained_codebooks(emb, m=32, k=64, dim=64, seed=42)
    cb_pd = cb.toPandas().sort_values(["code", "j"]).reset_index(drop=True)
    cb_path = os.path.join(out_dir, "pq_codebook_trained.parquet")
    cb_pd.to_parquet(cb_path, index=False)
    print(f"wrote {cb_path}: {len(cb_pd)} rows (m=32 k=64 dim=64 seed=42)")

    centroids, _ = ann.ivf_index(emb, n_centroids=16, seed=42)
    c_pd = centroids.toPandas().sort_values("centroid_id").reset_index(
        drop=True
    )
    c_path = os.path.join(out_dir, "ivf_centroids_trained.parquet")
    c_pd.to_parquet(c_path, index=False)
    print(f"wrote {c_path}: {len(c_pd)} rows (k=16 seed=42)")
    spark.stop()


if __name__ == "__main__":
    main()
