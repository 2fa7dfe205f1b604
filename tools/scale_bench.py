"""Scale-bench: measure how the heavy queries' wall-clock grows when the
data grows 10x (self-generated sf0.1 -> sf1, same generator both sides —
tools/gen_testdata.py).

For each query we run once cold (discarded: plan/codegen compile) then
take the best of two warm runs at each scale, and report

    exponent = log(t_sf1 / t_sf0.1) / log(10)

Exponent ~1.0 means linear scaling (what a banded/partition-pruned plan
should deliver); ~0 means the sf0.1 time was dominated by fixed
scheduling/JVM floor; >1.3 flags super-linear growth the plan audit
could not see (e.g. a candidate-pair blowup).  Results land in
_scale/scale_results.json and are summarized in SCALE.md.

Usage:
    python tools/gen_testdata.py --sf 0.1 --out _scale/sf0.1
    python tools/gen_testdata.py --sf 1   --out _scale/sf1
    python tools/scale_bench.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "q06_join_star",
    "t01_pricing_summary",
    "t08_small_qty_revenue",
    "t09_promotion_suppliers",
    "t11_big_orders",
    "t12_waiting_suppliers",
    "t13_min_cost_supplier",
    "t14_customer_distribution",
    "t18_supplier_cnt_by_part",
    "x05_minhash_near_dups",
    "x08_simhash_near_dups",
    "x13_cosine_join",
    "x13b_cosine_join_scaled",
    "x18_near_dup_clusters",
    "x22_training_shards",
    "x28_duplicate_spans",
    "t20_market_share",
    # r8: SemDeDup on the FIXED 10-label clustering — the honest
    # quadratic contrast (cluster size grows linearly with the corpus,
    # so the within-cluster scan grows ~x100 for x10 data); the scale
    # path is semdedup_scaled below, which grows n_clusters with the
    # corpus to hold cluster size constant.
    "x36_semdedup",
    # r8: hybrid BM25+dense retrieval — index build linear, 4-probe
    # dense scan linear, fusion match-sized.
    "x37_hybrid_search",
    # r8: leakage-guarded split — shingle explode + hash join + per-doc
    # count agg, all linear in corpus chars; the eval shingle set is a
    # fixed FRACTION of the corpus (un-hinted join that AQE sizes, never
    # a forced broadcast at scale).
    "x38_split_guarded",
    # r8: domain-balanced top-k — narrow rank window + semi-join back.
    "x39_top_per_domain",
    # r11: the registered persisted-ANN-store probe (FULL probe — exact,
    # so it scans the whole store: linear expectation; the sublinear
    # production posture is ann_store_scaled_cells below).
    "x41_ann_store_topk",
    # r12: the exact-percentile pair (r11 verdict task 6) — the native
    # per-group value→count buffer aggregate (q32) vs the distributed
    # histogram (q32b, whose shuffle is distinct-value-sized and whose
    # only per-group serial step sorts distinct values).  Both linear in
    # rows; the structural claim the pair turns into evidence is that
    # the histogram's exponent must not EXCEED the native one while the
    # absolute sf1 time stays below it (no buffer to serialize/spill).
    "q32_percentile",
    "q32b_percentile_hist",
    # r12: the composed persisted-store retrieval path (x37's at-scale
    # twin): BM25 index build linear, store probe full-probe-linear,
    # fusion match-sized.
    "x37b_hybrid_search_ann",
    # r12: the one-scan per-gate curation funnel — flags are scan-fused,
    # the contamination flag rides the shingle explode + broadcast join,
    # the output is one row: expect ~linear in corpus chars with no
    # super-linear term (the benchmark side is a fixed doc_id%97 slice,
    # so its broadcast set grows with the corpus but stays tiny).
    "x43_curation_funnel",
    # r12: seeded training-order shuffle + packing — x20's two-phase
    # prefix sum with an md5 sort key instead of the id: the range
    # exchange and per-partition window dominate; expect x20's profile
    # (sort on a 32-char string vs a long is the only delta).
    "x42_shuffled_shards",
    # r13: Bloom-prefiltered incremental dedup after the one-join
    # re-check rewrite (the former fresh/suspect union re-executed the
    # probe lineage per branch) — fingerprint + bitset probe are
    # scan-fused, the single store join and trailing dropDuplicates
    # share one fp exchange; expect near-floor growth.
    "x34_bloom_incremental_dedup",
]


def time_query(fn, spark, sf_dir: str) -> float:
    def once() -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    once()  # cold: plan + codegen compile, parquet footers
    return min(once(), once())


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = {
        "sf0.1": os.path.join(root, "_scale", "sf0.1"),
        "sf1": os.path.join(root, "_scale", "sf1"),
    }
    for d in dirs.values():
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}; run tools/gen_testdata.py first")

    from jurimetria_etl_spark.memo import session_memo
    from jurimetria_etl_spark.plans.registry import REGISTRY
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark("scale-bench")

    # x13 contrast pair: the registry x13 form pins FIXED n_planes=4 (16
    # buckets/table — quadratic candidate growth, the measured 23×/10×);
    # x13b (in HEAVY above) is the auto-scaled DEFAULT path, registered
    # since round 6.  tools/occupancy_probe.py decomposes its residual
    # exponent into candidate volume vs floor.
    def knn_join_top5(spark, sf_dir):
        # the batched k-NN primitive on its production path: auto planes
        # + the per-session banded-signature cache (ingest-time pattern)
        from jurimetria_etl_spark.operators import similarity as S
        from jurimetria_etl_spark.plans.extensions import _lsh_banded
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        planes = S.suggest_lsh_planes(emb.count())
        banded = _lsh_banded(spark, sf_dir, dim=64, n_planes=planes)
        return S.knn_join(
            emb, emb, k=5, dim=64, n_planes=planes,
            left_banded=banded, right_banded=banded,
        )

    def semdedup_scaled(spark, sf_dir):
        # the 100-TB posture: n_clusters grows with the corpus so
        # per-cluster size (and the quadratic scan's c_i) stays ~125;
        # assignment switches to the Arrow matmul kernel at >= 64
        # centroids (assign="auto").
        from jurimetria_etl_spark.operators.semdedup import semdedup_flags
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        n_clusters = max(16, emb.count() // 125)
        return semdedup_flags(emb, eps=0.35, n_clusters=n_clusters)

    def ann_store_scaled_cells(spark, sf_dir):
        # the persisted-ANN-store 100-TB posture: cells grow with the
        # corpus (target occupancy ~125 — semdedup_scaled's rule) and a
        # probe batch reads only its n_probe=4 cells' partitions, so
        # scanned rows per probe stay ~constant as the corpus grows —
        # the partition-pruning claim, MEASURED.  The store build rides
        # the discarded cold run (ingest cost, amortized — the
        # per-session cache in plans/extensions.py); warm runs probe the
        # persisted layout.
        from pyspark.sql import functions as F

        from jurimetria_etl_spark.operators.ann_store import (
            ann_ivf_topk_store_batch,
        )
        from jurimetria_etl_spark.plans.extensions import _ann_store_dir
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        n_cells = max(16, emb.count() // 125)
        d, cents = _ann_store_dir(spark, sf_dir, n_cells=n_cells)
        probes = emb.where(F.col("vec_id").isin([1, 7])).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("probe"),
        )
        return ann_ivf_topk_store_batch(
            spark, d, probes, k=5, n_probe=4, centroids=cents
        )

    def streaming_audited_funnel(spark, sf_dir):
        # r12 verdict task 6: the per-batch AUDITED streaming funnel,
        # end-to-end — x43's batch exponent is known (0.74); this row
        # measures the same drop-rate monitoring on the STREAMING path
        # (curate_document_stream(audit_dir=…)): stage the documents
        # table as 4 chronological drops, run the audited exact→minhash
        # →decontam stream against FRESH stores (each timed run is a
        # full from-empty pass — identical work at both scales), return
        # the folded one-row-per-batch audit.  Constant batch COUNT,
        # growing batch SIZE: the exponent reads how per-batch cost
        # scales with batch volume.
        import shutil
        import tempfile
        import time as _time
        from pathlib import Path

        from pyspark.sql import functions as F

        from jurimetria_etl_spark.sources.fixtures import load_fixture
        from jurimetria_etl_spark.streaming.curation import (
            curate_document_stream,
            load_curation_audit,
            read_documents_stream,
        )

        tmp = tempfile.mkdtemp(prefix="audit_scale_")
        docs = load_fixture(spark, sf_dir, "documents").select(
            "doc_id",
            F.coalesce("source", F.lit("s")).alias("source"),
            F.coalesce("lang", F.lit("en")).alias("lang"),
            "text",
        )
        flat = os.path.join(tmp, "flat")
        base_t = _time.time() - 3600
        for b in range(4):
            staging = os.path.join(tmp, f"stage_{b}")
            docs.where(F.col("doc_id") % 4 == b).coalesce(1).write.parquet(
                staging
            )
            Path(flat).mkdir(parents=True, exist_ok=True)
            dst = os.path.join(flat, f"{b:03d}.parquet")
            shutil.move(
                str(next(Path(staging).glob("part-*.parquet"))), dst
            )
            os.utime(dst, (base_t + 60 * b, base_t + 60 * b))
            shutil.rmtree(staging, ignore_errors=True)
        # x43's benchmark shape: a fixed corpus slice
        bench = docs.where(F.col("doc_id") % 97 == 0).select(
            "doc_id", "text"
        )
        audit = os.path.join(tmp, "audit")
        q = curate_document_stream(
            read_documents_stream(spark, flat),
            os.path.join(tmp, "corpus"),
            os.path.join(tmp, "fps"),
            os.path.join(tmp, "sigs"),
            os.path.join(tmp, "ckpt"),
            benchmark=bench,
            decontam_ngram=5,
            audit_dir=audit,
        )
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("audited stream did not finish in 30 min")
        # materialize the (4-row) audit so the staged corpus copy can be
        # reclaimed NOW — time_query runs this 3× per scale, and leaving
        # six staged corpus copies under /tmp per bench run fills disks
        out = load_curation_audit(spark, audit)
        rows = out.collect()
        result = spark.createDataFrame(rows, out.schema)
        shutil.rmtree(tmp, ignore_errors=True)
        return result

    # r14: the split-vs-recluster maintenance contrast.  Both rows copy
    # the cached scaled-cells store via hardlinks (metadata-only), run
    # ONE maintenance op on the copy, and return a tiny literal frame —
    # the timing is the op itself.  With cells ∝ corpus (occupancy held
    # ~125), split_cell's work is ONE cell → expect a near-flat
    # exponent; recluster_ann_store reads + rewrites every row → expect
    # ~linear.  The pair is the measured form of split_cell's "bounded
    # remedy" claim.
    _hot_cell_memo: dict[str, int] = {}

    def _copied_scaled_store(spark, sf_dir):
        import shutil as _sh
        import tempfile as _tf

        from jurimetria_etl_spark.plans.extensions import _ann_store_dir
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        n_cells = max(16, emb.count() // 125)
        base, cents = _ann_store_dir(spark, sf_dir, n_cells=n_cells)
        tmp = _tf.mkdtemp(prefix="ann_maint_scale_")
        store = os.path.join(tmp, "store")
        _sh.copytree(base, store, copy_function=os.link)
        return tmp, store, cents

    def ann_split_hot_cell(spark, sf_dir):
        import shutil as _sh

        from pyspark.sql import functions as F

        from jurimetria_etl_spark.operators.ann_store import (
            ann_store_occupancy,
        )
        from jurimetria_etl_spark.sinks.maintenance import split_cell

        tmp, store, _ = _copied_scaled_store(spark, sf_dir)
        hot = _hot_cell_memo.get(sf_dir)
        if hot is None:
            # hot-cell election is the monitor's job, not the split's —
            # memoized so only the discarded cold run pays the scan
            hot = int(
                ann_store_occupancy(spark, store)
                .orderBy(F.col("n_rows").desc(), F.col("ivf_cell"))
                .first()["ivf_cell"]
            )
            _hot_cell_memo[sf_dir] = hot
        rep = split_cell(spark, store, hot, k=2)
        _sh.rmtree(tmp, ignore_errors=True)
        assert rep["verified"], rep
        return spark.createDataFrame(
            [(rep["rows_moved"], rep["n_cells"])],
            "rows_moved long, n_cells long",
        )

    def ann_recluster_full(spark, sf_dir):
        import shutil as _sh

        from jurimetria_etl_spark.sinks.maintenance import (
            recluster_ann_store,
        )

        tmp, store, cents = _copied_scaled_store(spark, sf_dir)
        # same geometry, nudged — the cost is the full-store rewrite
        new_cents = [
            (cid, [x + 0.001 for x in v]) for cid, v in cents
        ]
        rep = recluster_ann_store(spark, store, new_cents)
        _sh.rmtree(tmp, ignore_errors=True)
        assert rep["verified"], rep
        return spark.createDataFrame(
            [(rep["rows"], rep["n_cells"])], "rows long, n_cells long"
        )

    # r14: the PERSISTED-semdedup-store probe posture — a small batch
    # gated against a corpus-sized cell-partitioned store with
    # static_prune=True (the contractual partition filter the r14
    # streaming writer + semdedup_incremental change added).  Cells ∝
    # corpus at ~125 occupancy, so the batch touches a bounded number
    # of cells and the pruned scan reads ~constant rows across 10×
    # data — ann_store_scaled_cells' claim, on the dedup-gate store.
    # The store build rides the discarded cold run (session-memoized).
    @session_memo(release=lambda v: shutil.rmtree(v[0], ignore_errors=True))
    def _semdedup_store(spark, sf_dir):
        import tempfile as _tf

        from jurimetria_etl_spark.operators.semdedup import build_semdedup_store
        from jurimetria_etl_spark.operators.similarity import (
            train_ivf_centroids,
        )
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        n_cells = max(16, emb.count() // 125)
        cents = train_ivf_centroids(
            emb, n_cells=n_cells, n_iters=2
        )
        d = _tf.mkdtemp(prefix="sem_store_scale_")
        build_semdedup_store(emb, cents).write.mode(
            "append"
        ).partitionBy("sem_cluster").parquet(d)
        return d, cents

    def semdedup_store_probe(spark, sf_dir):
        from pyspark.sql import functions as F

        from jurimetria_etl_spark.operators.semdedup import semdedup_incremental
        from jurimetria_etl_spark.sources.fixtures import load_fixture

        emb = load_fixture(spark, sf_dir, "embeddings")
        d, cents = _semdedup_store(spark, sf_dir)
        store = spark.read.parquet(d)
        batch = emb.where(F.col("vec_id").isin(list(range(8)))).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        return semdedup_incremental(
            batch, store, cents, eps=0.999, static_prune=True
        )

    extra: dict = {
        "knn_join_top5": knn_join_top5,
        "semdedup_scaled": semdedup_scaled,
        "ann_store_scaled_cells": ann_store_scaled_cells,
        "streaming_audited_funnel": streaming_audited_funnel,
        "ann_split_hot_cell": ann_split_hot_cell,
        "ann_recluster_full": ann_recluster_full,
        "semdedup_store_probe": semdedup_store_probe,
    }

    # Optional name filter: `python tools/scale_bench.py <name> …`
    # measures only the named rows and MERGES them into the existing
    # artifact — a new operator family gets its exponent row without
    # re-timing the whole corpus (full runs still refresh everything).
    selected = sys.argv[1:]
    names = HEAVY + list(extra)
    if selected:
        unknown = [s for s in selected if s not in names]
        if unknown:
            raise SystemExit(f"unknown scale rows: {unknown}")
        names = selected

    results: dict[str, dict[str, float]] = {}
    out = os.path.join(root, "_scale", "scale_results.json")
    if selected and os.path.exists(out):
        with open(out) as f:
            results = json.load(f)
        # A single-row merge must not carry forward rows for queries that
        # were renamed or removed since the artifact was written — stale
        # exponents would read as live coverage (r12 ADVICE).
        stale = sorted(set(results) - set(HEAVY) - set(extra))
        for s in stale:
            del results[s]
        if stale:
            print(f"dropped stale rows: {stale}", flush=True)
    for name in names:
        fn = extra[name] if name in extra else REGISTRY[name].spark
        row: dict[str, float] = {}
        for label, d in dirs.items():
            try:
                row[label] = round(time_query(fn, spark, d), 3)
            except Exception as e:  # keep measuring the rest
                row[f"error:{label}"] = f"{type(e).__name__}: {e}"[:300]  # type: ignore[assignment]
        if "sf0.1" in row and "sf1" in row and row["sf0.1"] > 0:
            row["ratio_10x"] = round(row["sf1"] / row["sf0.1"], 2)
            row["exponent"] = round(math.log(row["sf1"] / row["sf0.1"]) / math.log(10), 2)
        results[name] = row
        print(f"{name}: {row}", flush=True)

    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
