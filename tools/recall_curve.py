"""Measure the IVF ANN recall/cost trade-off (VERDICT r4 item 5).

For each n_probe in {1,2,4,8} (n_cells=8, the lowest-id seed
centroids): append the corpus to an ANN store once, probe a fixed set
of vectors with ``ann_ivf_topk_store``, and compare the top-k id set
against exact brute-force ``cosine_topk`` ground truth.  Also reports
the scan fraction (n_probe/n_cells approximates the share of the corpus
scored — the cost axis of the curve).

Usage: python tools/recall_curve.py [sf_dir]   # default /root/testdata/sf0.1
Output: one markdown table (pasted into SCALE.md) + a JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 5
N_CELLS = 8
PROBES = [3, 77, 128, 256, 400, 511, 640, 800, 1024, 1200, 1350, 1500, 1650, 1800, 1900, 1999]
N_PROBES = [1, 2, 4, 8]


def main(sf_dir: str) -> None:
    import shutil
    import tempfile

    from jurimetria_etl_spark.operators.ann_store import (
        ann_ivf_topk_store,
        append_ann_store,
    )
    from jurimetria_etl_spark.operators.similarity import (
        cosine_topk,
        seed_centroids,
    )
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark("recall-curve")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    probes = [p for p in PROBES if p < n]

    truth = {
        p: {r.vec_id for r in cosine_topk(emb, probe_id=p, k=K).collect()}
        for p in probes
    }
    vecs = {
        r.vec_id: list(r.embedding)
        for r in emb.where(emb.vec_id.isin(probes)).collect()
    }
    centroids = seed_centroids(emb, n_cells=N_CELLS)
    store = tempfile.mkdtemp(prefix="recall_curve_")
    try:
        append_ann_store(emb.select("vec_id", "embedding"), store, centroids)
        rows = []
        for np_ in N_PROBES:
            hits = tot = 0
            for p in probes:
                got = {
                    r.vec_id
                    for r in ann_ivf_topk_store(
                        spark, store, vecs[p], k=K, n_probe=np_,
                        centroids=centroids, exclude_id=p,
                    ).collect()
                }
                hits += len(got & truth[p])
                tot += K
            rows.append(
                {
                    "n_probe": np_,
                    "recall_at_5": round(hits / tot, 3),
                    "scan_fraction": round(np_ / N_CELLS, 3),
                }
            )
    finally:
        shutil.rmtree(store, ignore_errors=True)

    print(f"| n_probe (of {N_CELLS} cells) | recall@{K} | corpus scored |")
    print("|---|---|---|")
    for r in rows:
        print(f"| {r['n_probe']} | {r['recall_at_5']} | {r['scan_fraction']:.0%} |")
    print(json.dumps({"sf_dir": sf_dir, "k": K, "n_cells": N_CELLS, "curve": rows}))


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
