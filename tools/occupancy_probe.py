"""Why is the auto-scaled LSH join's exponent ~0.78, not ~0.5?  This
probe measures the thing the wall-clock cannot separate: CANDIDATE
VOLUME vs fixed floor.

``suggest_lsh_planes`` picks p = ceil(log2(N / target)), so expected
bucket occupancy oscillates in (target/2, target] as N grows — a
SAWTOOTH, not a constant.  Candidate pairs per row therefore stay within
a bounded band (linear total volume), but a 10× N step can land on a
different point of the sawtooth and legitimately grow pairs/row by up to
2× — which shows up as a wall-clock exponent between ~0.7 and ~1.0 while
still being linear-with-bounded-constant asymptotics.  This probe prints
the actual numbers (occupancy percentiles, total candidate pairs,
pairs/row) at both scale dirs so SCALE.md can state which part of the
measured exponent is volume and which is floor.

Usage: python tools/occupancy_probe.py  (needs _scale/sf0.1 and _scale/sf1)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators import similarity as S
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    emb = load_fixture(spark, sf_dir, "embeddings")
    n = emb.count()
    planes = S.suggest_lsh_planes(n)
    banded = S.lsh_banded_signatures(emb, dim=64, n_planes=planes, n_tables=8)
    occ = banded.groupBy("t", "bk").agg(F.count("*").alias("c"))
    stats = occ.agg(
        F.count("*").alias("n_buckets"),
        F.expr("percentile(c, 0.5)").alias("p50"),
        F.expr("percentile(c, 0.95)").alias("p95"),
        F.max("c").alias("max"),
        F.sum(F.expr("c * (c - 1) / 2")).alias("cand_pairs"),
    ).first()
    return {
        "n_rows": n,
        "n_planes": planes,
        "buckets_per_table": 2**planes,
        "expected_uniform_occ": round(n / 2**planes, 1),
        "occ_p50": float(stats["p50"]),
        "occ_p95": float(stats["p95"]),
        "occ_max": int(stats["max"]),
        "cand_pairs_all_tables": int(stats["cand_pairs"]),
        "cand_pairs_per_row": round(stats["cand_pairs"] / n, 1),
    }


def probe_spans(spark, sf_dir: str) -> dict:
    """Decompose x28 (duplicate_spans): how much of the work is the
    winnow (linear in corpus chars) vs the candidate/verify stages
    (proportional to how many documents genuinely share a 40-char span)
    vs the OUTPUT itself (Σ df(span)² over true duplicate spans — the
    answer's own size, which no plan can undercut)."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.spans import (
        duplicate_spans,
        lgram_set,
        winnowed_fingerprints,
    )
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    n_docs = docs.count()
    total_chars = docs.agg(F.sum(F.length("text"))).first()[0]
    fps = winnowed_fingerprints(docs, span_len=40, k=8)
    fp_df = fps.groupBy("fp").agg(F.count("*").alias("df"))
    fp_stats = fp_df.agg(
        F.count("*").alias("n_fps"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("shared_fps"),
        F.max("df").alias("max_df"),
    ).first()
    cand_ids = (
        fps.join(
            fp_df.where(F.col("df") >= 2).select("fp"), "fp", "left_semi"
        )
        .select("doc_id")
        .distinct()
    )
    cand_docs = cand_ids.count()
    cand_grams = lgram_set(
        docs.join(cand_ids, "doc_id", "left_semi"), 40
    ).count()
    out_rows = duplicate_spans(docs, span_len=40, k=8, max_fp_df=None).count()
    return {
        "n_docs": n_docs,
        "total_chars": int(total_chars),
        "winnow_fps": int(fp_stats["n_fps"]),
        "shared_fps": int(fp_stats["shared_fps"]),
        "max_fp_df": int(fp_stats["max_df"]),
        "candidate_docs": cand_docs,
        "candidate_doc_fraction": round(cand_docs / n_docs, 3),
        "verify_gram_rows": int(cand_grams),
        "output_pair_rows": int(out_rows),
    }


def probe_x29(spark, sf_dir: str) -> dict:
    """x29/boilerplate_spans' scale knob is the SURVIVOR SET (distinct
    ≥min_df span hashes): its un-hinted semi-filter is broadcast by AQE
    while its runtime bytes fit, shuffled beyond.  Measure survivor
    count vs min_df (spans and lines) on the generated corpus so
    SCALE.md can state the set's size and what min_df a 100-TB run
    should start from."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.spans import _lgram_array
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    n_docs = docs.count()
    span_len = 40
    span_hashes = F.transform(
        F.array_distinct(_lgram_array(F.col("text"), span_len)),
        lambda s: F.xxhash64(s),
    )
    hc = (
        docs.select(F.explode(span_hashes).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("c"))
    )
    cuts = [2, 3, 5, 10, 25, 100]
    row = hc.agg(
        F.count("*").alias("total"),
        *[
            F.sum(F.when(F.col("c") >= m, 1).otherwise(0)).alias(f"ge{m}")
            for m in cuts
        ],
    ).first()

    lines_expr = F.filter(
        F.array_distinct(F.split(F.col("text"), "\n")),
        lambda l: F.length(F.trim(l)) >= 10,
    )
    lc = (
        docs.select(
            F.explode(
                F.transform(lines_expr, lambda l: F.xxhash64(l))
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").alias("c"))
    )
    lrow = lc.agg(
        F.count("*").alias("total"),
        *[
            F.sum(F.when(F.col("c") >= m, 1).otherwise(0)).alias(f"ge{m}")
            for m in cuts
        ],
    ).first()
    return {
        "n_docs": n_docs,
        "span_hashes_total": int(row["total"]),
        "span_survivors_by_min_df": {
            str(m): int(row[f"ge{m}"]) for m in cuts
        },
        "line_hashes_total": int(lrow["total"]),
        "line_survivors_by_min_df": {
            str(m): int(lrow[f"ge{m}"]) for m in cuts
        },
    }


def probe_knn(spark, sf_dir: str) -> dict:
    """Decompose knn_join's residual: candidate rows PER LEFT ID (the
    unit the per-left-id top-k window pays for) on the same auto-planes
    banding the scale bench runs."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators import similarity as S
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    emb = load_fixture(spark, sf_dir, "embeddings")
    n = emb.count()
    planes = S.suggest_lsh_planes(n)
    banded = S.lsh_banded_signatures(emb, dim=64, n_planes=planes, n_tables=8)
    a = banded.select(
        F.col("vec_id").alias("lid"), "t", "bk"
    )
    b = banded.select(F.col("vec_id").alias("rid"), "t", "bk")
    cand = (
        a.join(b, ["t", "bk"])
        .where(F.col("lid") != F.col("rid"))
        .select("lid", "rid")
        .distinct()
    )
    per_left = cand.groupBy("lid").agg(F.count("*").alias("c"))
    st = per_left.agg(
        F.count("*").alias("n_left"),
        F.expr("percentile(c, 0.5)").alias("p50"),
        F.expr("percentile(c, 0.95)").alias("p95"),
        F.max("c").alias("max"),
        F.sum("c").alias("total"),
    ).first()
    # The r8 collision-count cap bounds the exact re-score at
    # min(cap, candidates) per left row — the volume the vector joins
    # and the top-k window actually pay AFTER the cap (r9 verdict task
    # 7: decompose the honest 0.67 exponent — if this grows ~linearly
    # while wall-clock grows sub-linearly, the exponent is floor
    # amortization over linear work, not a hidden blowup).
    cap = max(20 * 5, 100)  # knn_join's "auto" at the bench's k=5
    post_cap = per_left.agg(
        F.sum(F.least(F.col("c"), F.lit(cap))).alias("t")
    ).first()["t"]
    return {
        "n_rows": n,
        "n_planes": planes,
        "distinct_cand_pairs": int(st["total"]),
        "cand_per_left_p50": float(st["p50"]),
        "cand_per_left_p95": float(st["p95"]),
        "cand_per_left_max": int(st["max"]),
        "cand_per_left_mean": round(st["total"] / max(st["n_left"], 1), 1),
        "auto_cap": cap,
        "post_cap_rescore_pairs": int(post_cap),
    }


def probe_semdedup(spark, sf_dir: str) -> dict:
    """SemDeDup's scale knob is CLUSTER SIZE: the per-cell scan is
    O(c²·d) flops, so what matters at 10× data is whether the scaled
    configuration (n_clusters ∝ corpus, tools/scale_bench.py
    semdedup_scaled) actually holds c — and the scan work Σc² — flat
    per row.  Measure the cell-size distribution and Σc² for both the
    fixed-10-label clustering (the honest quadratic, x36) and the
    scaled k-means cells."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.semdedup import _assign_cells
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    emb = load_fixture(spark, sf_dir, "embeddings")
    n = emb.count()

    def dist(frame, col):
        occ = frame.groupBy(col).agg(F.count("*").alias("c"))
        s = occ.agg(
            F.count("*").alias("n_cells"),
            F.expr("percentile(c, 0.5)").alias("p50"),
            F.max("c").alias("max"),
            F.sum(F.expr("c * c")).alias("sum_c_sq"),
        ).first()
        return {
            "n_cells": s["n_cells"],
            "p50": float(s["p50"]),
            "max": int(s["max"]),
            "sum_c_sq": int(s["sum_c_sq"]),
            "scan_work_per_row": round(s["sum_c_sq"] / n, 1),
        }

    n_clusters = max(16, n // 125)
    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_clusters).collect()
    )
    cents = [(i, list(r["embedding"])) for i, r in enumerate(seeds)]
    scaled = _assign_cells(emb, cents, "embedding")
    return {
        "n_rows": n,
        "fixed_label": dist(emb, "label"),
        "scaled_cells": {"n_clusters": n_clusters, **dist(scaled, "sem_cluster")},
    }


def _growth(out: dict, section: str, key: str, label: str) -> None:
    a, b = out[section]["sf0.1"], out[section]["sf1"]
    if a.get(key):
        out[section][label] = round(b[key] / a[key], 2)


def main() -> None:
    from jurimetria_etl_spark.session import get_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark("occupancy-probe")
    out: dict = {
        "x28_spans": {},
        "knn": {},
        "x29_survivors": {},
        "semdedup": {},
    }
    for label in ("sf0.1", "sf1"):
        d = os.path.join(root, "_scale", label)
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}")
        out[label] = probe(spark, d)
        print(label, json.dumps(out[label]), flush=True)
        out["x28_spans"][label] = probe_spans(spark, d)
        print(label, "x28", json.dumps(out["x28_spans"][label]), flush=True)
        out["knn"][label] = probe_knn(spark, d)
        print(label, "knn", json.dumps(out["knn"][label]), flush=True)
        out["x29_survivors"][label] = probe_x29(spark, d)
        print(
            label, "x29", json.dumps(out["x29_survivors"][label]), flush=True
        )
        out["semdedup"][label] = probe_semdedup(spark, d)
        print(
            label, "semdedup", json.dumps(out["semdedup"][label]), flush=True
        )
    a, b = out["sf0.1"], out["sf1"]
    out["pairs_growth_for_10x_rows"] = round(
        b["cand_pairs_all_tables"] / a["cand_pairs_all_tables"], 2
    )
    out["pairs_per_row_growth"] = round(
        b["cand_pairs_per_row"] / a["cand_pairs_per_row"], 2
    )
    for key, label in (
        ("output_pair_rows", "output_growth_10x"),
        ("verify_gram_rows", "verify_rows_growth_10x"),
        ("candidate_doc_fraction", "cand_fraction_growth_10x"),
    ):
        _growth(out, "x28_spans", key, label)
    _growth(out, "knn", "distinct_cand_pairs", "cand_growth_10x")
    _growth(out, "knn", "post_cap_rescore_pairs", "post_cap_growth_10x")
    _growth(out, "knn", "cand_per_left_mean", "cand_per_left_growth_10x")
    sa, sb = out["semdedup"]["sf0.1"], out["semdedup"]["sf1"]
    out["semdedup"]["fixed_scan_work_growth_10x"] = round(
        sb["fixed_label"]["scan_work_per_row"]
        / sa["fixed_label"]["scan_work_per_row"],
        2,
    )
    out["semdedup"]["scaled_scan_work_growth_10x"] = round(
        sb["scaled_cells"]["scan_work_per_row"]
        / sa["scaled_cells"]["scan_work_per_row"],
        2,
    )
    path = os.path.join(root, "_scale", "occupancy.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
