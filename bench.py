#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from environmental_stac_generator_spark.registry import load_full_registry
from environmental_stac_generator_spark.session import get_spark

# Representative of every operator family: scan+agg, joins, windows,
# pivots, regex/string map stages, dedup/similarity/text extensions.
HEADLINE = [
    "q1_pricing_summary",
    "orders_lineitem_join",
    "star_join_enrich",
    "band_stats",
    "overview_pyramid",
    "skip_existing_items",
    "first_per_group",
    "band_pivot",
    "freq_parse",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "embedding_near_dup",
    "cosine_topk",
    "ivf_ann_probe",
    "quality_score",
    "dedup_exact",
    "simhash",
    "salted_agg",
    "tumbling_window_agg",
    "session_window_agg",
    "json_props_extract",
    "asof_join_events",
    "range_join_tiers",
    "time_rollup",
    "exact_percentiles",
    "duplicate_clusters",
    "stratified_sample",
    "decontaminate",
    "token_budget_select",
    "sequence_pack",
    "repetition_profile",
    "kmeans_clusters",
    "chunk_documents",
    "incremental_lsh_dedup",
    "span_dedup",
    "vocab_top_tokens",
    "pii_scan",
    "semdedup_pairs",
    "importance_weights",
    "perplexity_score",
    "int8_quantize",
    # r7 additions — new HEADLINE rows; round-over-round total
    # comparisons use the shared-row subset, as in r5/r6
    "pq_encode",
    "pq_ann_probe",
    "ivfpq_ann_probe",
    # r8: FAISS-style residual-coded IVFPQ
    "ivfpq_residual_probe",
    # r9: the same rankings served from the MATERIALIZED
    # partitionBy(cell) index — partition-pruned reads (warm-index
    # probe cost; the one-off build cost is the `ann_index` block)
    "ivf_index_probe",
    "ivfpq_index_probe",
]

# The ANN accuracy surface (VERDICT r7 #6): every approximate path's
# top-10 is scored against the exact `cosine_topk` ground truth so the
# compression/probe quality trade-off has a recorded number, not just
# bit-exact-vs-its-own-oracle checks.
ANN_RECALL_PATHS = [
    "ann_lsh_probe",
    "ann_lsh_multiprobe",
    "ivf_ann_probe",
    "ivf_ann_nprobe",
    "pq_ann_probe",
    "ivfpq_ann_probe",
    "ivfpq_residual_probe",
    "ivfpq_residual_nprobe",
]


def _ann_recall_mean(spark, sf_dir: str, n_probes: int | None = None) -> dict:
    """Mean ± sd of recall@10 over ``n_probes`` (default 32, env
    ``SPARK_GRAFT_ANN_PROBES``) probe vectors. recall@10 over 8
    probes quantized to 0.0125 steps — too coarse to rank adjacent
    variants (VERDICT r8 #5) — so the ladder now reports a per-probe
    mean and spread over >=32 probe ids (the first ``n_probes``
    corpus rows). Reuses the engine's kernels with per-probe driver
    routing (same bit-exact arithmetic); paths: single-/multi-probe
    LSH, single-/nprobe IVF (exact in-cell ranking), fixed-sample PQ
    ADC, and the PRODUCTION composition (VERDICT r8 #4): Lloyd-
    trained k=64 residual codebook + nprobe=4 routing + per-cell ADC
    through the broadcast-codebook kernel. r12 adds the refine-stage
    rows (VERDICT r11 #1): per trained/OPQ config, refine recall@10
    at the R dial (exact by the pool identity documented inline),
    plus the refine OPERATOR executed end-to-end on the served index
    with a per-probe identity cross-check."""
    import math
    import statistics

    import numpy as np
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.queries import similarity as S

    if n_probes is None:
        n_probes = int(os.environ.get("SPARK_GRAFT_ANN_PROBES", "32"))
    e = S.load(spark, sf_dir, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    planes = cents[: S.N_PLANES]
    probes = sorted(
        e.filter(F.col("vec_id") < n_probes)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    if len(probes) < n_probes or len(cents) < S.N_CENTROIDS:
        return {}
    cb = S._pq_sample_codebook(e)
    # cache the shared per-path relations: the harness fires
    # ~7 x n_probes small jobs over them
    cells = S._ivf_cells_of(e, cents).cache()
    buckets = S._lsh_bucketed(spark, sf_dir).cache()
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    resid = S.residual_of(cells, cents, out="embedding").cache()
    rot_frames = {}
    try:
        # ONE training per codebook size (probe-independent): the global
        # residual distribution — k=64 is the named production row, k=256
        # the codebook-size dial's upper rung
        cb64 = S.pq_train_codebook(resid.select("vec_id", "embedding"), k=64)
        cb256 = S.pq_train_codebook(resid.select("vec_id", "embedding"), k=256)
        # OPQ (VERDICT r9 #3): rotation + rotated-space codebook per
        # size; the rotated residual frame is cached once per rotation
        # and shared by all probes
        opq = {}
        for kk in (64, 256):
            rot, cbr = S.opq_train_rotation(
                resid.select("vec_id", "embedding"), k=kk
            )
            if cbr and len(cbr) == kk:
                rframe = S.rotate_vectors(resid, rot, src="embedding").cache()
                rot_frames[kk] = rframe
                opq[kk] = (np.asarray(rot, dtype=np.float64), cbr, rframe)
        # the composed production row SERVED FROM the materialized
        # index (VERDICT r9 #6): same bootstrap cells + trained k=64
        # residual codebook, but ranking reads STORED codes from the
        # partition-pruned index — recall parity with the on-the-fly
        # twin proves the persisted codes at harness scale
        import tempfile as _tf

        from environmental_stac_generator_spark.queries import (
            ann_index as AI,
        )

        idx64 = None
        if cb64 and len(cb64) == 64:
            out = _tf.mkdtemp(prefix="envstac_annidx_recall_")
            AI._SCRATCH.append(out)
            idx64 = f"{out}/k64"
            if AI.build_ann_index(spark, sf_dir, idx64, codebook=cb64) is None:
                idx64 = None

        def _bucket_of(vec) -> str:
            return "".join(
                "1" if S._py_dot(vec, p.embedding) >= 0 else "0" for p in planes
            )

        def _top10(df, pid, score_col, desc):
            order = F.desc(score_col) if desc else F.col(score_col)
            return [
                r["vec_id"]
                for r in df.filter(F.col("vec_id") != pid)
                .orderBy(order, "vec_id").limit(10).collect()
            ]

        # Refine-stage ladder rows (VERDICT r11 #1). The refine stage
        # re-scores the ADC top-R pool by EXACT cosine, and truth is
        # the exact-cosine top-10 under the same (score desc, vec_id)
        # total order — so within the pool every truth member outranks
        # every non-truth member and refine's recall@10 is EXACTLY
        # |truth ∩ ADC-top-R| / 10 (an identity, not a bound; the
        # executed-operator twin below cross-checks it per probe and
        # tests/test_ann_index.py pins the re-rank parity driver-
        # independently). The curve over R is therefore the ADC pool
        # quality that caps refine, measured as the refine recall it
        # delivers: R=10 is the unrefined row, R→∞ the routing
        # ceiling (ivf_nprobe).
        refine_curve = {
            "ivfpq_residual_trained_nprobe_k64": (32,),
            "ivfpq_residual_trained_nprobe_k256": (32,),
            "ivfpq_residual_opq_nprobe_k64": (32,),
            # the production 0.322 config gets the full R dial
            "ivfpq_residual_opq_nprobe_k256": (10, 32, 64, 128),
            # r12.5: the OTHER recall dial — routing width. nprobe=8
            # (of the 16 bootstrap cells; 16/16 is trivially the
            # exact scan) on the production config, with the R dial
            # repeated so recall = f(nprobe, R) is a measured
            # surface, not two independent curves
            "ivfpq_residual_opq_nprobe8_k256": (32, 128),
        }
        pool_n = max(max(rs) for rs in refine_curve.values())
        paths = (
            "lsh", "lsh_multiprobe", "ivf", "ivf_nprobe", "ivf_nprobe8",
            "pq_adc",
            "ivfpq_residual_trained_nprobe_k64",
            "ivfpq_residual_trained_nprobe_k256",
            "ivfpq_residual_opq_nprobe_k64",
            "ivfpq_residual_opq_nprobe_k256",
            "ivfpq_residual_opq_nprobe8_k256",
            "ivfpq_index_served_nprobe_k64",
            # r12: the EXECUTED refine operator on the served index
            "ivfpq_index_refine_nprobe_k64",
        ) + tuple(
            f"{base}_refine_r{r}"
            for base, rs in refine_curve.items()
            for r in rs
        )
        per_probe: dict[str, list[float]] = {k: [] for k in paths}
        refine_identity_mismatches = 0
        for p in probes:
            pid = int(p.vec_id)
            pv = [float(v) for v in p.embedding]
            p_norm = math.sqrt(S._py_dot(pv, pv))
            cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
                F.sqrt(F.expr(S._dot_sql("embedding", "embedding"))) * F.lit(p_norm)
            )
            truth = set(_top10(e.select("vec_id", cos.alias("c")), pid, "c", True))
            if not truth:
                continue

            def rec(ids) -> float:
                return len(set(ids) & truth) / len(truth)

            pb = _bucket_of(pv)
            ham = F.expr(S._hamming_terms("bucket", f"'{pb}'"))
            bcos = cos  # same expression over the buckets frame
            per_probe["lsh"].append(rec(_top10(
                buckets.filter(F.col("bucket") == pb).select("vec_id", bcos.alias("c")),
                pid, "c", True)))
            per_probe["lsh_multiprobe"].append(rec(_top10(
                buckets.filter(ham <= S.MULTIPROBE_R).select("vec_id", bcos.alias("c")),
                pid, "c", True)))
            top_cells = S._ivf_top_cells_py(pv, cents, S.NPROBE)
            per_probe["ivf"].append(rec(_top10(
                cells.filter(F.col("cell") == top_cells[0]).select("vec_id", cos.alias("c")),
                pid, "c", True)))
            per_probe["ivf_nprobe"].append(rec(_top10(
                cells.filter(F.col("cell").isin(top_cells)).select("vec_id", cos.alias("c")),
                pid, "c", True)))
            # routing-width dial: the exact-in-cells ceiling at
            # nprobe=8 — what widening the probe alone buys
            top_cells8 = S._ivf_top_cells_py(pv, cents, 8)
            per_probe["ivf_nprobe8"].append(rec(_top10(
                cells.filter(F.col("cell").isin(top_cells8)).select("vec_id", cos.alias("c")),
                pid, "c", True)))
            if cb:
                per_probe["pq_adc"].append(rec([
                    r["vec_id"]
                    for r in S.pq_adc_rank_of(e, cb, pv, exclude=pid).collect()
                ]))
            def _pool_rows(key: str, pool: list) -> None:
                """Record the base row (pool[:10]) and its refine
                curve rows — rec(pool[:R]) IS refine's recall@10 at
                that R (see the identity note above)."""
                per_probe[key].append(rec(pool[:10]))
                for r_ in refine_curve.get(key, ()):
                    per_probe[f"{key}_refine_r{r_}"].append(rec(pool[:r_]))

            for key, book in (
                ("ivfpq_residual_trained_nprobe_k64", cb64),
                ("ivfpq_residual_trained_nprobe_k256", cb256),
            ):
                if not book:
                    continue
                ranked = None
                for cell in top_cells:
                    pres = [x - y for x, y in zip(pv, cent_by_id[cell])]
                    r = S.pq_adc_rank_bcast(
                        resid.filter(F.col("cell") == F.lit(cell)), book, pres,
                        exclude=pid, limit_n=pool_n,
                    )
                    ranked = r if ranked is None else ranked.unionByName(r)
                _pool_rows(key, [
                    r["vec_id"]
                    for r in ranked.orderBy("adc", "vec_id")
                    .limit(pool_n).collect()
                ])
            def _opq_pool(probe_cells, rot_m, cbr, rframe) -> list:
                ranked = None
                for cell in probe_cells:
                    pres = [
                        float(x)
                        for x in np.asarray(
                            [x - y for x, y in zip(pv, cent_by_id[cell])]
                        )
                        @ rot_m
                    ]
                    r = S.pq_adc_rank_bcast(
                        rframe.filter(F.col("cell") == F.lit(cell)), cbr, pres,
                        exclude=pid, limit_n=pool_n,
                    )
                    ranked = r if ranked is None else ranked.unionByName(r)
                return [
                    r["vec_id"]
                    for r in ranked.orderBy("adc", "vec_id")
                    .limit(pool_n).collect()
                ]

            for kk, (rot_m, cbr, rframe) in opq.items():
                _pool_rows(
                    f"ivfpq_residual_opq_nprobe_k{kk}",
                    _opq_pool(top_cells, rot_m, cbr, rframe),
                )
            if 256 in opq:
                # the nprobe dial on the production config: same
                # codes, 8 probed cells — its refine rows complete
                # the (nprobe, R) surface
                rot_m, cbr, rframe = opq[256]
                _pool_rows(
                    "ivfpq_residual_opq_nprobe8_k256",
                    _opq_pool(top_cells8, rot_m, cbr, rframe),
                )
            if idx64 is not None:
                adc_pool = [
                    r["vec_id"]
                    for r in AI.index_probe_adc(
                        spark, sf_dir, nprobe=S.NPROBE, idx_dir=idx64,
                        probe_id=pid, limit_n=AI.REFINE_R,
                    ).collect()
                ]
                per_probe["ivfpq_index_served_nprobe_k64"].append(
                    rec(adc_pool[:10])
                )
                # the refine OPERATOR, executed end-to-end (candidate
                # handoff + pruned float re-read), not the identity
                got = rec([
                    r["vec_id"]
                    for r in AI.index_probe_refine(
                        spark, sf_dir, nprobe=S.NPROBE, idx_dir=idx64,
                        probe_id=pid,
                    ).collect()
                ])
                per_probe["ivfpq_index_refine_nprobe_k64"].append(got)
                # per-probe cross-check of the identity the curve rows
                # above rest on: executed refine == |truth ∩ pool|/10
                if abs(got - rec(adc_pool)) > 1e-9:
                    refine_identity_mismatches += 1
        return {
            "n_probes": n_probes,
            "refine_identity_mismatches": refine_identity_mismatches,
            "paths": {
                k: {
                    "mean": round(statistics.fmean(v), 4),
                    "sd": round(statistics.pstdev(v), 4),
                }
                for k, v in per_probe.items()
                if v
            },
        }
    finally:
        # unpersist on EVERY exit: a thrown probe job must not
        # leave three corpus-sized cache pins skewing the rest of
        # the bench session (the r6 cache-pin lesson)
        for df in (cells, buckets, resid, *rot_frames.values()):
            df.unpersist()


def _ann_recall(spark, sf_dir: str, reg) -> dict[str, float]:
    """recall@10 vs exact cosine top-10 of probe vec 0. Each ANN path
    already returns its candidates ranked by its own metric (cosine or
    ADC distance); take the first 10 and intersect with the truth set.
    PQ ADC ranks by L2 over codes while truth is cosine — on
    non-normalized corpora that metric mismatch is part of what this
    number exposes."""
    from environmental_stac_generator_spark.queries import similarity as _sim

    truth = {
        r["vec_id"] for r in reg["cosine_topk"].fn(spark, sf_dir).collect()
    }
    out: dict[str, float] = {}
    runs = [(name, reg[name].fn) for name in ANN_RECALL_PATHS]
    # trained-codebook variants: the codebook-quality lever (bench-only
    # — Lloyd float means aren't engine-portable as oracle SQL)
    runs += [
        ("pq_ann_probe_trained", _sim.pq_ann_probe_trained),
        ("ivfpq_residual_trained", _sim.ivfpq_residual_trained),
        # K=64 codebooks through the broadcast-array ADC kernel — the
        # codebook-size axis of the quality dial
        ("pq_ann_probe_trained_k64",
         lambda s, d: _sim.pq_ann_probe_trained(s, d, k=64)),
        ("ivfpq_residual_trained_k64",
         lambda s, d: _sim.ivfpq_residual_trained(s, d, k=64)),
        # the production COMPOSITION measured as one row (VERDICT r8
        # #4): trained k=64 residual codebook + nprobe=4 routing +
        # per-cell ADC; its exact-ranking ceiling is the
        # ivf_ann_nprobe row (exact cosine within the same 4 cells)
        ("ivfpq_residual_trained_nprobe_k64",
         lambda s, d: _sim.ivfpq_residual_trained(
             s, d, k=64, nprobe=_sim.NPROBE)),
        # the codebook-size dial on the composition: k 64 -> 256 buys
        # +0.2 recall at sf0.01 (0.4 -> 0.6) for 4x ADC table size —
        # still 8 codes/vector on disk
        ("ivfpq_residual_trained_nprobe_k256",
         lambda s, d: _sim.ivfpq_residual_trained(
             s, d, k=256, nprobe=_sim.NPROBE)),
    ]
    for name, fn in runs:
        ids = [r["vec_id"] for r in fn(spark, sf_dir).collect()[:10]]
        out[name] = round(len(set(ids) & truth) / max(len(truth), 1), 3)
    return out


def _ann_index_block(spark, sf_dir: str) -> dict:
    """Materialized-index evidence (VERDICT r8 #1): a fresh build's
    cost, then warm partition-pruned probe latency with the
    files-read fact from the EXECUTED scan — the ~nprobe/K I/O claim
    as a recorded number next to the timing it buys."""
    import tempfile as _tf

    from environmental_stac_generator_spark.queries import ann_index as AI
    from environmental_stac_generator_spark.queries import similarity as S

    # AI-managed scratch (atexit-swept): the timed build is ADOPTED as
    # the probes' cached index — without register_index the probes'
    # index_dir_for would silently pay a second identical full build
    out = _tf.mkdtemp(prefix="envstac_annidx_bench_")
    AI._SCRATCH.append(out)
    t0 = time.perf_counter()
    idx = f"{out}/index"
    meta = AI.build_ann_index(spark, sf_dir, idx)
    build = round(time.perf_counter() - t0, 3)
    if meta is None:
        return {"build_sec": None}
    AI.register_index(sf_dir, idx)
    total_files = len(spark.read.parquet(idx).inputFiles())

    def _probe_row(fn) -> dict:
        scans = AI.executed_scan_metrics(fn())  # warm + evidence
        sec = _best_of(
            lambda: fn().write.mode("overwrite").format("noop").save()
        )
        return {
            "sec": sec,
            "files_read": scans[0]["num_files"],
            "files_total": total_files,
        }

    block = {
        "build_sec": build,
        "cells": meta["cells"],
        "bootstrap_balance": AI.cell_balance(spark, idx),
        "probe_exact_nprobe4": _probe_row(
            lambda: AI.index_probe_exact(spark, sf_dir, nprobe=S.NPROBE)
        ),
        "probe_adc_nprobe4": _probe_row(
            lambda: AI.index_probe_adc(spark, sf_dir, nprobe=S.NPROBE)
        ),
        # r12: the refine stage's warm latency + its float re-read's
        # pruned shape (files_read here is the re-read scan — the ADC
        # stage ran during plan construction via the candidate handoff)
        "probe_refine_nprobe4": _probe_row(
            lambda: AI.index_probe_refine(spark, sf_dir, nprobe=S.NPROBE)
        ),
    }
    # trained-quantizer twin at the same K: Lloyd cells flatten the
    # inverted-list balance ratio — the probe-latency tail at
    # 100 TB is the largest probed cell, so max/mean is the number
    # the trained quantizer exists to shrink
    e = S.load(spark, sf_dir, "embeddings")
    tr_cents = AI.train_coarse_centroids(e, k=S.N_CENTROIDS)
    tr_idx = f"{out}/trained"
    if tr_cents and AI.build_ann_index(spark, sf_dir, tr_idx, cents=tr_cents):
        probe = AI._probe_vector(e)
        trained = {"balance": AI.cell_balance(spark, tr_idx)}
        if probe is not None:
            import pyspark.sql.functions as F

            pv, p_norm = probe
            cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
                F.sqrt(F.expr(S._dot_sql("embedding", "embedding")))
                * F.lit(p_norm)
            )
            truth = {
                r["vec_id"]
                for r in e.filter(F.col("vec_id") != 0)
                .select("vec_id", cos.alias("c"))
                .orderBy(F.desc("c"), "vec_id")
                .limit(10)
                .collect()
            }
            got = [
                r["vec_id"]
                for r in AI.index_probe_exact(
                    spark, sf_dir, nprobe=S.NPROBE, idx_dir=tr_idx
                ).collect()
            ]
            trained["recall_at_10_nprobe4"] = round(
                len(set(got) & truth) / max(len(truth), 1), 3
            )
        block["trained_quantizer"] = trained
    return block


def _ann_index_trained_block(
    spark, sf_dir: str, k: int = 256, n_probes: int = 32,
    encode_ab: bool = True,
) -> dict:
    """The K~sqrt(N) regime as executed evidence (VERDICT r9 #1):
    every r9 build was K=16 cells, so the demonstrated prune ratio
    was nprobe/16 = 25%, not the ~1% the 100 TB design claims. This
    block builds the FULL production stack at K>=256 on the given
    corpus — spherical-k-means coarse quantizer, OPQ rotation,
    rotated-space trained codebook, all persisted — and records:

    - train/build cost and the trained cells' balance (max/mean);
    - the probes' executed numFiles == nprobe of K files (the ~1.6%
      I/O fact at K=256, nprobe=4), plus warm probe latency;
    - mean recall@10 over ``n_probes`` probes of the index-served ADC
      ranking vs global exact truth, NEXT TO the exact-ranking
      ceiling over the SAME probed cells (what routing alone allows —
      the gap between the two is pure code-quantization loss);
    - the same probe routed through the CATALOG route — since r14 the
      manifest-backed view (register_index_view: epoch-pinned file
      set, snapshot-isolated through maintenance, VERDICT r13 #1),
      with the raw metastore table (CREATE TABLE ... LOCATION +
      recoverPartitions) kept as a labeled comparison row;
    - the many-cell compaction measurement (VERDICT r13 #4): two
      appends put all ~K cells over threshold, ONE batched job
      rewrites them."""
    import math
    import statistics
    import tempfile as _tf

    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.queries import ann_index as AI
    from environmental_stac_generator_spark.queries import similarity as S

    e = S.load(spark, sf_dir, "embeddings")
    corpus_n = e.count()
    t0 = time.perf_counter()
    cents = AI.train_coarse_centroids(e, k=k, sample_n=max(4096, 4 * k))
    train_sec = round(time.perf_counter() - t0, 3)
    if len(cents) < 8:
        return {}
    # trainer input via the driver-side sample kernel: composing it
    # from residual_of(_ivf_cells_of(...)) made the trainer's bounded
    # TakeOrdered pay the K-wide assignment+residual expression chain
    # over the corpus (the 53.4 → 29.65 → ~2.5 s chain; COVERAGE.md
    # "trainer" narration with host probes) — sample materialization
    # and the numpy trainer core are separately recorded facts below
    t0 = time.perf_counter()
    sample = S.trainer_residual_sample(e, cents, sample_n=4096)
    opq_sample_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    rot, cb = S.opq_train_rotation(sample, k=256)
    opq_sec = round(time.perf_counter() - t0, 3)
    out = _tf.mkdtemp(prefix="envstac_annidx_trained_")
    AI._SCRATCH.append(out)
    idx = f"{out}/trained"
    t0 = time.perf_counter()
    if AI.build_ann_index(
        spark, sf_dir, idx, cents=cents, codebook=cb, rotation=rot,
        kernel="numpy",
    ) is None:
        return {}
    build_sec = round(time.perf_counter() - t0, 3)
    # encode-kernel A/B: the HOF build of the SAME index — O(K)
    # interpreted lambda evaluations per row vs the Arrow/BLAS pass —
    # plus a cells/codes parity count (differences are float hairline
    # ties only, the `_argmin_numpy` adjudication). Skippable: the
    # ~85 s interpreted build is evidence, not product, and one
    # corpus regime per soak carries it.
    ab = None
    if encode_ab:
        idx_hof = f"{out}/trained_hof"
        t0 = time.perf_counter()
        AI.build_ann_index(
            spark, sf_dir, idx_hof, cents=cents, codebook=cb, rotation=rot
        )
        hof_sec = round(time.perf_counter() - t0, 3)
        a = spark.read.parquet(idx).select("vec_id", "cell", "codes")
        b = (
            spark.read.parquet(idx_hof)
            .select("vec_id", F.col("cell").alias("cell_h"), F.col("codes").alias("codes_h"))
        )
        j = a.join(b, "vec_id")
        ab = {
            "numpy_build_sec": build_sec,
            "hof_build_sec": hof_sec,
            "rows": j.count(),
            "cell_mismatch": j.filter(F.col("cell") != F.col("cell_h")).count(),
            "code_mismatch": j.filter(
                (F.col("cell") == F.col("cell_h"))
                & (F.col("codes") != F.col("codes_h"))
            ).count(),
        }
    total_files = len(spark.read.parquet(idx).inputFiles())
    nprobe = S.NPROBE

    def _scan_facts(df) -> dict:
        s = AI.executed_scan_metrics(df)[0]
        return {
            "files_read": s["num_files"],
            "partitions_read": s.get("num_partitions"),
            "files_total": total_files,
        }

    block = {
        "corpus_rows": corpus_n,
        "cells_requested": k,
        "cells_trained": len(cents),
        "train_sec": train_sec,
        "opq_sample_sec": opq_sample_sec,
        "opq_train_sec": opq_sec,
        "build_sec": build_sec,
        "encode_kernel_ab": ab,
        "balance": AI.cell_balance(spark, idx),
        "probe_exact": _scan_facts(
            AI.index_probe_exact(spark, sf_dir, nprobe=nprobe, idx_dir=idx)
        ),
        "probe_adc": _scan_facts(
            AI.index_probe_adc(spark, sf_dir, nprobe=nprobe, idx_dir=idx)
        ),
        # fresh-path comparison row ONLY: each call re-lists all K
        # partition dirs (InMemoryFileIndex), a cost no catalog-backed
        # deployment pays per probe — the headline large-K latency is
        # probe_adc_sec_catalog below (VERDICT r10 #6 / r11 #6)
        "probe_adc_sec_fresh_listing": _best_of(
            lambda: AI.index_probe_adc(spark, sf_dir, nprobe=nprobe, idx_dir=idx)
            .write.mode("overwrite")
            .format("noop")
            .save()
        ),
    }
    probes = sorted(
        e.filter(F.col("vec_id") < n_probes)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    # the catalog route is created FIRST and serves every large-K
    # number below (probe timings AND the recall loop's pool reads).
    # Since r14 it is the MANIFEST-BACKED VIEW (VERDICT r13 #1:
    # register_index_view pins the relation to a committed epoch, so
    # the catalog route keeps snapshot isolation through maintenance);
    # the raw metastore table (CREATE TABLE ... LOCATION +
    # recoverPartitions — metadata-lookup pruning, but directory-
    # listing file resolution) stays as the labeled comparison rows
    # catalog_table_probe / probe_adc_sec_metastore_table.
    tbl = "ann_idx_trained_soak"
    view = "ann_idx_trained_view"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{idx}'")
        spark.catalog.recoverPartitions(tbl)
        block["catalog_route"] = {
            "kind": "manifest_view",
            "epoch": AI.register_index_view(spark, idx, view),
        }
        rel = spark.table(view)
        meta_cents, _cb, _rot = AI.load_meta(idx)
        pv0 = [float(v) for v in probes[0].embedding] if probes else None
        if pv0 is not None:
            top = S._ivf_top_cells_py(pv0, meta_cents, nprobe)
            block["catalog_table_probe"] = _scan_facts(
                spark.table(tbl)
                .filter(F.col("cell").isin(top))
                .select("vec_id", "codes")
            )
            block["catalog_table_partitions"] = spark.sql(
                f"SHOW PARTITIONS {tbl}"
            ).count()
            block["probe_adc_sec_catalog"] = _best_of(
                lambda: AI.index_probe_adc(
                    spark, sf_dir, nprobe=nprobe, idx_dir=idx, relation=rel,
                )
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            block["probe_adc_sec_metastore_table"] = _best_of(
                lambda: AI.index_probe_adc(
                    spark, sf_dir, nprobe=nprobe, idx_dir=idx,
                    relation=spark.table(tbl),
                )
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            # the refine OPERATOR at this K, catalog-route: ADC stage
            # + bounded candidate handoff + pruned float re-read
            block["probe_refine_sec_catalog"] = _best_of(
                lambda: AI.index_probe_refine(
                    spark, sf_dir, nprobe=nprobe, idx_dir=idx, relation=rel,
                )
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            # the trained-K balance TAIL as latency facts (VERDICT
            # r10 #3 / r11 #4): a max/mean summary can't show what a
            # probe actually pays, so record the probed cells' own
            # populations, the worst-case nprobe-largest-cells bound,
            # and the per-probed-cell pruned codes-scan latency
            # spread (ADC compute is per-row uniform, so scan+rank
            # time tracks rows)
            sizes = sorted(
                int(r["n"])
                for r in rel.groupBy("cell")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            by_cell = {
                int(r["cell"]): int(r["n"])
                for r in rel.groupBy("cell")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            probed_rows = {str(c): by_cell.get(int(c), 0) for c in top}
            worst = sum(sizes[-nprobe:])
            block["balance_tail"] = {
                "cell_rows_max": sizes[-1],
                "cell_rows_p99": sizes[min(len(sizes) - 1, int(0.99 * len(sizes)))],
                "cell_rows_mean": round(sum(sizes) / len(sizes), 1),
                "probed_cell_rows": probed_rows,
                "probed_rows_sum": sum(probed_rows.values()),
                "worst_nprobe_rows_sum": worst,
                "worst_over_probed": round(
                    worst / max(sum(probed_rows.values()), 1), 3
                ),
                "per_probed_cell_scan_sec": {
                    str(c): _best_of(
                        lambda c=c: rel.filter(F.col("cell") == int(c))
                        .select("vec_id", "codes")
                        .write.mode("overwrite")
                        .format("noop")
                        .save()
                    )
                    for c in top
                },
            }
        # the FULL (nprobe, R) recall surface on THIS trained config —
        # refine recall@10 at R is |truth ∩ ADC-top-R|/10 (the pool
        # identity; cross-checked per-probe against the executed
        # operator in _ann_recall_mean and pinned in
        # tests/test_ann_index.py), measured at every routing width
        # so it joins the cost axis below into one frontier (VERDICT
        # r12 #2). Every read — ADC pools AND the exact ceilings —
        # takes the catalog route (rel): the widened ceilings
        # previously paid a fresh all-K listing per call (ADVICE r12
        # #1; also gone from the path route itself, which now
        # resolves files from the epoch manifest).
        grid_ws = (4, 8, 16, 32)
        grid_rs = (10, 32, 64, 128)
        pool_n = max(grid_rs)
        grid_rec: dict[int, dict[int, list[float]]] = {
            w: {r_: [] for r_ in grid_rs} for w in grid_ws
        }
        ceil_rec: dict[int, list[float]] = {w: [] for w in grid_ws}
        for p in probes:
            pid = int(p.vec_id)
            pv = [float(v) for v in p.embedding]
            p_norm = math.sqrt(S._py_dot(pv, pv))
            cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
                F.sqrt(F.expr(S._dot_sql("embedding", "embedding")))
                * F.lit(p_norm)
            )
            truth = {
                r["vec_id"]
                for r in e.filter(F.col("vec_id") != pid)
                .select("vec_id", cos.alias("c"))
                .orderBy(F.desc("c"), "vec_id")
                .limit(10)
                .collect()
            }
            if not truth:
                continue
            for w in grid_ws:
                pool = [
                    r["vec_id"]
                    for r in AI.index_probe_adc(
                        spark, sf_dir, nprobe=w, idx_dir=idx, probe_id=pid,
                        relation=rel, limit_n=pool_n,
                    ).collect()
                ]
                for r_ in grid_rs:
                    grid_rec[w][r_].append(
                        len(set(pool[:r_]) & truth) / len(truth)
                    )
                ceil = {
                    r["vec_id"]
                    for r in AI.index_probe_exact(
                        spark, sf_dir, nprobe=w, idx_dir=idx, probe_id=pid,
                        relation=rel,
                    ).collect()[:10]
                }
                ceil_rec[w].append(len(ceil & truth) / len(truth))
        if ceil_rec[nprobe]:
            def _ms(v):
                return {
                    "mean": round(statistics.fmean(v), 4),
                    "sd": round(statistics.pstdev(v), 4),
                }

            block["recall_at_10"] = {
                "n_probes": len(ceil_rec[nprobe]),
                "nprobe": nprobe,
                "index_adc_mean": _ms(grid_rec[nprobe][10])["mean"],
                "index_adc_sd": _ms(grid_rec[nprobe][10])["sd"],
                "refine_at_r": {
                    str(r_): _ms(v) for r_, v in grid_rec[nprobe].items()
                },
                "same_cells_exact_ceiling_mean": _ms(ceil_rec[nprobe])["mean"],
                "same_cells_exact_ceiling_sd": _ms(ceil_rec[nprobe])["sd"],
                "ceiling_at_nprobe": {
                    str(w): dict(
                        _ms(ceil_rec[w]),
                        files_frac=round(w / max(len(cents), 1), 4),
                    )
                    for w in grid_ws
                },
            }
            # the COST axis joined to the surface (VERDICT r12 #2):
            # per (nprobe, R) grid point, the measured operator
            # latency (catalog route, probe 0, _best_of policy) and
            # the files the probed partitions hold — R=10 is the
            # unrefined ADC probe (refine adds nothing a 10-pool
            # can't already give), R>10 the executed refine operator
            # at that candidate width. files_read counts the ADC
            # stage's scan; the refine stage re-reads R float rows
            # from the SAME files (one extra pruned scan, no new
            # partitions).
            frontier = []
            for w in grid_ws:
                facts = _scan_facts(
                    AI.index_probe_adc(
                        spark, sf_dir, nprobe=w, idx_dir=idx, relation=rel
                    )
                )
                adc_sec = _best_of(
                    lambda w=w: AI.index_probe_adc(
                        spark, sf_dir, nprobe=w, idx_dir=idx, relation=rel
                    )
                    .write.mode("overwrite")
                    .format("noop")
                    .save()
                )
                for r_ in (10, 32, 128):
                    sec = adc_sec if r_ == 10 else _best_of(
                        lambda w=w, r_=r_: AI.index_probe_refine(
                            spark, sf_dir, nprobe=w, refine_r=r_,
                            idx_dir=idx, relation=rel,
                        )
                        .write.mode("overwrite")
                        .format("noop")
                        .save()
                    )
                    frontier.append({
                        "nprobe": w,
                        "refine_r": r_,
                        "recall_mean": round(
                            statistics.fmean(grid_rec[w][r_]), 4
                        ),
                        "recall_sd": round(
                            statistics.pstdev(grid_rec[w][r_]), 4
                        ),
                        "probe_sec": sec,
                        "files_read": facts["files_read"],
                        # recorded directly (ADVICE r13 #5): the
                        # renderer must not reconstruct the
                        # denominator from the rounded fraction
                        "files_total": facts["files_total"],
                        "files_frac": round(
                            facts["files_read"]
                            / max(facts["files_total"], 1),
                            4,
                        ),
                    })
            block["recall_cost_frontier"] = frontier
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.catalog.dropTempView(view)
    # VERDICT r13 #4 / r14 #1 done-criterion: the MANY-CELL compaction
    # measurement. Two appended batches put every populated cell over
    # the 1-file threshold; compact then rewrites all ~K cells in ONE
    # Spark job (r14 batched rewrite) and commits ONE epoch for the
    # whole run (r15 single-epoch apply — epochs_committed below is
    # the measured fact; at the curve's 0.506 s/commit for 1e5-file
    # manifests, the per-cell alternative costs K × that).
    # Runs LAST — it mutates the index after every recall/probe
    # number above is taken.
    seed = e.orderBy("vec_id").limit(2048).select("vec_id", "embedding")
    hi = corpus_n + 10_000_000
    t0 = time.perf_counter()
    for i in range(2):
        AI.append_ann_index(
            spark,
            seed.select(
                (F.col("vec_id") + hi + i * 4096).alias("vec_id"),
                "embedding",
            ),
            idx,
        )
    append_sec = round(time.perf_counter() - t0, 3)
    epoch_before = int(AI._load_current(AI.Path(idx))["epoch"])
    t0 = time.perf_counter()
    res = AI.compact_ann_index(spark, idx)
    block["compact_many_cells"] = {
        "append_sec_2_batches": append_sec,
        "cells_compacted": res["cells_compacted"],
        "compact_sec": round(time.perf_counter() - t0, 3),
        # r15 single-epoch apply: one manifest commit for the whole
        # K-cell run (epoch delta measured, not asserted from code)
        "epochs_committed": res["epochs_committed"],
        "epoch_delta": int(AI._load_current(AI.Path(idx))["epoch"])
        - epoch_before,
    }
    return block


def _span_window_cliff_block(
    spark, sizes=(2_048, 16_384, 131_072, 1_048_576)
) -> dict:
    """Measure the WindowExec hot-group buffer cliff behind
    ``SPAN_WINDOW_MAX_GROUP`` (VERDICT r12 #5): one span hash shared
    by n documents forces the window plan to buffer an n-row group in
    a single task, which is exactly the state the skew-safe gate
    insures against. The sweep runs BOTH plans on synthetic corpora
    whose hottest group is exactly n (every doc = the same viral
    {SPAN_W}-token span + 4 unique tokens), records wall-clock per
    plan (one timing policy: _best_of), asserts result parity, and
    reports the premium ratio — the data the threshold decision cites
    (r12 adjudication: the 2048 gate paid a measured ~1.8x premium on
    corpora the window plan demonstrably survives)."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.queries.curation import (
        SPAN_W,
        SPAN_WINDOW_MAX_GROUP,
        span_dedup,
        span_max_group_bound,
    )
    from environmental_stac_generator_spark.tables import load

    viral = " ".join(f"viral{i}" for i in range(SPAN_W))
    out: dict = {
        "span_w": SPAN_W,
        "threshold": SPAN_WINDOW_MAX_GROUP,
        "sweep": [],
    }
    for n in sizes:
        d = Path(tempfile.mkdtemp(prefix="envstac_spancliff_"))
        try:
            text = F.concat(
                F.lit(viral + " u"), F.col("id").cast("string"),
                F.lit("a u"), F.col("id").cast("string"),
                F.lit("b u"), F.col("id").cast("string"),
                F.lit("c u"), F.col("id").cast("string"), F.lit("d"),
            )
            (
                spark.range(n)
                .select(
                    F.col("id").alias("doc_id"),
                    text.alias("text"),
                    F.lit("en").alias("lang"),
                    F.lit("viral").alias("source"),
                    F.length(text).cast("bigint").alias("n_chars"),
                )
                .write.mode("overwrite")
                .parquet(str(d / "documents.parquet"))
            )
            sfd = str(d)
            row = {
                "hot_group_rows": n,
                "sampled_bound": span_max_group_bound(
                    load(spark, sfd, "documents")
                ),
                "window_sec": _best_of(
                    lambda: span_dedup(spark, sfd, skew_safe=False)
                    .write.mode("overwrite").format("noop").save()
                ),
                "skew_safe_sec": _best_of(
                    lambda: span_dedup(spark, sfd, skew_safe=True)
                    .write.mode("overwrite").format("noop").save()
                ),
            }
            row["premium"] = round(
                row["skew_safe_sec"] / max(row["window_sec"], 1e-9), 3
            )
            a = sorted(
                tuple(r)
                for r in span_dedup(spark, sfd, skew_safe=False).collect()
            )
            b = sorted(
                tuple(r)
                for r in span_dedup(spark, sfd, skew_safe=True).collect()
            )
            row["plans_equal"] = a == b
            out["sweep"].append(row)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return out


def _compaction_ingest_block(
    spark, soak_dir: str, n_batches: int = 8, batch_rows: int = 400
) -> tuple[dict, list[str]]:
    """Compaction + 2PC ingest under a REAL multi-batch stream at the
    10x corpus (VERDICT r10 #5 / r11 #3): N micro-batches through a
    Structured Streaming query with the exactly-once foreachBatch
    sink inflate the per-cell file counts and the probe's executed
    numFiles; compaction restores both, with probe latency recorded
    before / inflated / after. The r11/r12 single-maintainer guard is
    exercised in the loop: the guard fires against an in-flight
    batch's staging marker AND against a crashed-mid-commit pending
    ledger entry (fault-injected at the first post-commit file move),
    the stream writer refuses under the maintenance lock, the crashed
    batch's ledger replay is timed, and the final index is checked
    duplicate-free (exactly-once across the crash).

    Returns (block, failures) — failures feed plan_shape_failures so
    a guard that does not fire fails the soak run."""
    import tempfile as _tf

    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.queries import ann_index as AI
    from environmental_stac_generator_spark.queries import similarity as S
    from environmental_stac_generator_spark.tables import load

    failures: list[str] = []
    out = _tf.mkdtemp(prefix="envstac_compact_soak_")
    AI._SCRATCH.append(out)
    idx = f"{out}/index"
    if AI.build_ann_index(spark, soak_dir, idx) is None:
        return {}, ["compaction block: index build returned None"]
    e = load(spark, soak_dir, "embeddings")
    corpus_n = e.count()
    base = int(
        e.agg(F.max("vec_id").alias("m")).head()["m"]
    ) + 1

    def _files_per_cell() -> dict:
        sizes = [
            len(AI._part_files(d))
            for d in sorted(AI.Path(idx).glob("cell=*"))
        ]
        return {
            "cells": len(sizes),
            "max": max(sizes),
            "mean": round(sum(sizes) / len(sizes), 3),
        }

    def _probe_sec() -> float:
        return _best_of(
            lambda: AI.index_probe_adc(spark, soak_dir, nprobe=S.NPROBE, idx_dir=idx)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )

    def _probe_files() -> int:
        return AI.executed_scan_metrics(
            AI.index_probe_adc(spark, soak_dir, nprobe=S.NPROBE, idx_dir=idx)
        )[0]["num_files"]

    block: dict = {
        "corpus_rows": corpus_n,
        "n_batches": n_batches,
        "batch_rows": batch_rows,
        "files_per_cell_fresh": _files_per_cell(),
        "probe_adc_sec_fresh": _probe_sec(),
        "probe_files_fresh": _probe_files(),
    }

    # one parquet FILE per micro-batch: maxFilesPerTrigger=1 +
    # availableNow makes the file-source stream deliver exactly
    # n_batches micro-batches through the 2PC sink
    src = AI.Path(out) / "stream_src"
    src.mkdir()
    sample = e.orderBy("vec_id").limit(batch_rows).select("vec_id", "embedding")
    for i in range(n_batches):
        bdir = AI.Path(out) / f"_mk{i}"
        (
            sample.select(
                (F.col("vec_id") + base + i * batch_rows).alias("vec_id"),
                "embedding",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(bdir))
        )
        part = next(p for p in bdir.glob("*.parquet"))
        AI.os.replace(part, src / f"batch-{i}.parquet")
    t0 = time.perf_counter()
    # schema comes from the batch files themselves: the 10x soak
    # corpus stores embedding as double (pandas round-trip in the
    # synthesizer) while the base corpora store float32 — a hardcoded
    # float schema fails the stream read on the soak corpus
    q = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(AI.ann_index_stream_writer(idx))
        .option("checkpointLocation", f"{out}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    block["stream_ingest_sec"] = round(time.perf_counter() - t0, 3)
    led = json.loads((AI.Path(idx) / "_ann_batches.json").read_text())
    block["batches_committed"] = len(led["committed"])
    if len(led["committed"]) != n_batches:
        failures.append(
            f"compaction block: {len(led['committed'])} committed "
            f"batches, expected {n_batches}"
        )
    block["files_per_cell_inflated"] = _files_per_cell()
    block["probe_adc_sec_inflated"] = _probe_sec()
    block["probe_files_inflated"] = _probe_files()

    # guard 1: an in-flight batch (staging marker present) refuses
    # compaction — and the lock never survives the refusal
    marker = AI.Path(idx) / "_staging" / "999"
    marker.mkdir(parents=True)
    try:
        AI.compact_ann_index(spark, idx)
        failures.append("compaction block: guard missed staging marker")
        block["guard_fired_inflight"] = False
    except RuntimeError:
        block["guard_fired_inflight"] = True
    AI.shutil.rmtree(marker.parent)
    block["lock_released_after_refusal"] = not (
        AI.Path(idx) / AI.MAINT_LOCK
    ).exists()

    # guard 2: a crash at the first post-commit file move leaves a
    # REAL pending ledger entry; compaction must refuse until the
    # stream's replay rolls it forward (replay timed)
    crash_batch = sample.select(
        (F.col("vec_id") + base + n_batches * batch_rows).alias("vec_id"),
        "embedding",
    )
    w = AI.ann_index_stream_writer(idx)
    real_replace = AI.os.replace
    calls = {"n": 0}

    def _crashing_replace(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash (soak fault injection)")
        return real_replace(*a, **k)

    AI.os.replace = _crashing_replace
    try:
        w(crash_batch, n_batches)
        failures.append("compaction block: fault injection did not fire")
    except RuntimeError:
        pass
    finally:
        AI.os.replace = real_replace
    led = json.loads((AI.Path(idx) / "_ann_batches.json").read_text())
    block["pending_after_crash"] = sorted(led["pending"])
    try:
        AI.compact_ann_index(spark, idx)
        failures.append("compaction block: guard missed pending ledger entry")
        block["guard_fired_pending"] = False
    except RuntimeError:
        block["guard_fired_pending"] = True
    t0 = time.perf_counter()
    w(crash_batch, n_batches)  # the stream's replay path
    block["ledger_replay_sec"] = round(time.perf_counter() - t0, 3)

    # guard 3: the writer side of the handshake — a batch must refuse
    # while the maintenance lock is held
    with AI.FileLease(AI.Path(idx), AI.MAINT_LOCK):
        try:
            w(crash_batch.select(F.col("vec_id") + 10_000_000, "embedding"), 99)
            failures.append("compaction block: writer ignored maintenance lock")
            block["writer_refused_under_lock"] = False
        except RuntimeError:
            block["writer_refused_under_lock"] = True

    t0 = time.perf_counter()
    block["compact"] = AI.compact_ann_index(spark, idx)
    block["compact_sec"] = round(time.perf_counter() - t0, 3)
    block["files_per_cell_compacted"] = _files_per_cell()
    block["probe_adc_sec_compacted"] = _probe_sec()
    block["probe_files_compacted"] = _probe_files()
    if block["probe_files_compacted"] > block["probe_files_fresh"]:
        failures.append(
            "compaction block: compaction did not restore probe numFiles"
        )

    # exactly-once across the whole sequence: every ingested id lands
    # exactly once (the crashed batch included, via replay)
    total = spark.read.parquet(idx).count()
    expected = corpus_n + (n_batches + 1) * batch_rows
    dups = (
        spark.read.parquet(idx)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    block["rows_total"] = total
    block["rows_expected"] = expected
    block["duplicate_vec_ids"] = dups
    if total != expected or dups:
        failures.append(
            f"compaction block: exactly-once violated "
            f"(rows {total} vs {expected}, dups {dups})"
        )
    return block, failures


def _manifest_commit_curve_block() -> dict:
    """VERDICT r13 #6: the manifest-commit cost curve the module doc
    hand-waved — ``_commit_current`` wall time and ``_current.json``
    size vs live-file count (synthetic manifests, ~1 file/cell, so
    the file count IS the cell count K). Every index mutation pays
    one commit; a compaction pays one PER CELL APPLY — the rendered
    PLANS.md block carries the go/no-go note on Iceberg's split
    manifest-list layout at the measured cadence. Driver-only
    (pure JSON I/O), no Spark session involved."""
    import tempfile as _tf

    from environmental_stac_generator_spark.queries import ann_index as AI

    rows = []
    for n_files in (100, 1_000, 10_000, 100_000):
        root = AI.Path(_tf.mkdtemp(prefix="envstac_mancurve_"))
        try:
            files = {
                f"cell={c}": [f"part-{c:05d}-0000.snappy.parquet"]
                for c in range(n_files)
            }
            AI._commit_current(root, files)  # creation commit
            # steady-state commit: parse prev epoch + write history +
            # swap — the exact per-mutation (and per-cell-apply) cost
            sec = _best_of(lambda: AI._commit_current(root, files))
            rows.append({
                "files": n_files,
                "commit_sec": sec,
                "manifest_bytes": (root / AI.CURRENT_NAME).stat().st_size,
            })
        finally:
            AI.shutil.rmtree(root, ignore_errors=True)
    return {"rows": rows}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="envstac-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # executor-realistic heap: local[32] previously ran on Spark's
        # 1g cluster-driver default, so all 32 task threads shared 1 GB
        # — a GC regime no real executor sees (r7 machine-config fix)
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_full_registry()

    # Warm the JVM / IO path once so per-query numbers measure the
    # queries, not session startup.
    reg["q1_pricing_summary"].fn(spark, sf_dir).collect()

    steal0 = _steal_jiffies()
    _calibration_probe(spark)  # warm: first run pays codegen compile
    calib_start = _calibration_probe(spark)

    # bench-only row (deliberately NOT a driver registry entry — the
    # registry is pinned at 50): the curate chain's actual SemDeDup
    # default is auto-K (K ~ sqrt(N)) with the Arrow assignment
    # kernel; soak showed it 4.4x faster than fixed-K at 10x data, so
    # it needs round-over-round tracking at sf0.1 too, not just in
    # SOAK files. The fixed-K `semdedup_pairs` row stays as the
    # oracle-pinned twin. Reported in `queries` but EXCLUDED from
    # `value`, which stays the sum of the HEADLINE rows so totals
    # remain comparable round-over-round.
    runs = [(name, reg[name].fn) for name in HEADLINE]
    runs.append(("semdedup_pairs_auto_k", _auto_k_df))

    timings: dict[str, float] = {}
    for name, fn in runs:
        timings[name] = _best_of(
            lambda: fn(spark, sf_dir)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
    # bench-only row #2 (VERDICT r6 #2): the one-call curate chain —
    # the product surface a real user runs (CLI `curate`). It was
    # pytest-e2e'd but never timed, so a regression in its stage
    # materialization/reuse would be invisible round-over-round.
    # Tracked per-row, EXCLUDED from `value` like auto_k.
    timings["curate_chain"] = _best_of(lambda: _curate_chain_run(spark, sf_dir))

    calib_end = _calibration_probe(spark)
    steal1 = _steal_jiffies()
    # value = the HEADLINE surface only: bench-only extras (auto-K)
    # are tracked per-row without shifting the round-over-round total
    total = round(sum(timings[n] for n in HEADLINE), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The PRINTED line is the driver contract and must survive a
    # fixed-size stdout tail capture (VERDICT r16 #3: the r15 line
    # embedded the full 22-path recall ladder, overflowed the
    # driver's 2000-char window, and cost the round its
    # round-over-round numbers). It therefore carries ONLY the
    # headline metric/value/queries + the machine block (~2.5 KB);
    # the recall ladders, index block and COG throughput — quality
    # evidence, not timing — live in the self-artifact file alone.
    slim = {
        "machine": _machine_report(calib_start, calib_end, steal0, steal1),
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    payload = {
        "ann_recall_at_10": _ann_recall(spark, sf_dir, reg),
        "ann_recall_at_10_mean": _ann_recall_mean(spark, sf_dir),
        "ann_index": _ann_index_block(spark, sf_dir),
        "cog_pipeline": _cog_pipeline_throughput(spark),
        **slim,
    }
    _write_self_artifact(payload, "BENCH_SELF.json")
    print(json.dumps(slim))
    spark.stop()


def _write_self_artifact(payload: dict, name: str) -> None:
    """Full copy of the bench/soak payload on disk, independent of the
    driver's stdout tail-capture window (VERDICT r9 #2) — committed as
    BENCH_SELF_r{N}.json so every row stays checkable even if stdout
    truncates. Env SPARK_GRAFT_SELF_OUT overrides the directory."""
    out_dir = Path(os.environ.get("SPARK_GRAFT_SELF_OUT", str(REPO)))
    try:
        (out_dir / name).write_text(json.dumps(payload, indent=1) + "\n")
    except OSError as exc:  # never let evidence-writing kill the bench
        print(f"self-artifact write failed: {exc}", file=sys.stderr)


def _best_of(run) -> float:
    """Best-of-2 with resample-on-disagreement — ONE timing policy
    for every bench number. The first attempt pays one-time plan
    compilation / codegen / Python-worker spinup; the second is the
    steady-state number, which is what throughput at scale tracks.
    A transient host-contention spike (this box shows CPU-steal
    bursts) can inflate both attempts; when they disagree by >40%
    the fast one may still be the spiked one, so buy one more sample
    before taking the min."""
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    attempts: list[float] = []
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        attempts.append(time.perf_counter() - t0)
        # drain cache pins some queries create for their multi-consumed
        # relations (dedup.bucket_pairs): the bench loop is exactly the
        # long-lived caller that would otherwise accumulate one pin per
        # (query, attempt) for the whole session (ADVICE r6) — and a
        # pinned bucket table would let attempt 2 read attempt 1's
        # cache, timing the cache instead of the operator
        release_tracked()
    if max(attempts) > 1.4 * min(attempts):
        t0 = time.perf_counter()
        run()
        attempts.append(time.perf_counter() - t0)
        release_tracked()
    return round(min(attempts), 3)


def _curate_chain_run(spark, sf_dir):
    """One default-config curate() pass: exact dedup → near-dup LSH →
    quality scoring → sequence packing, every stage materialized and
    counted exactly as the CLI runs it."""
    from environmental_stac_generator_spark.plans.curation_pipeline import (
        curate,
    )
    from environmental_stac_generator_spark.tables import load

    # NOT fanned (r17 revert of the r16 fan): the fan was added on the
    # single-thread-downstream theory but never A/B'd; the r17
    # interleaved A/B (tools/ab_bench_extra.py, HEAD fan-vs-nofan
    # lanes) read the fanned input 1.18x SLOWER — the chain's heavy
    # stages shuffle to the session width anyway (exact-dedup hash
    # window, bucket partition), so the fan only adds an exchange and
    # a 16-partition localCheckpoint per stage for a tiny corpus.
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    return curate(docs).stats


def _auto_k_df(spark, sf_dir):
    """The curate chain's actual SemDeDup default: auto-K (K~sqrt N)
    with the Arrow assignment kernel — shared by the headline bench
    row and the soak.

    NOT fanned (r16): the r16 fan-out commit blanket-applied
    fan_out=True here, but this row's assignment is the VECTORIZED
    mapInPandas kernel, not an interpreted-HOF map stage — fanning
    split the tiny corpus into 16 Arrow batches across 16 Python
    workers and measured 1.3–4x SLOWER (interleaved A/B, identical
    results; worst in a long warm session where the first fanned
    attempt spawns the full worker pool). The fused scan stands."""
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )
    from environmental_stac_generator_spark.tables import load

    return semantic_pairs_of(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        n_clusters="auto",
    )


def _calibration_probe(spark) -> float:
    """Fixed CPU-bound probe — xxhash64-sum over a 400M-row range,
    pure whole-stage-codegen JVM work, no IO, no Python. Its runtime
    tracks the MACHINE (host CPU steal, co-tenant contention), not
    the engine, so round-over-round bench totals can be normalized:
    observed probe variance on this box spans ~3x between quiet and
    stolen periods while the engine code is identical."""
    t0 = time.perf_counter()
    spark.range(
        0, 400_000_000, 1, spark.sparkContext.defaultParallelism
    ).selectExpr("bit_xor(xxhash64(id)) AS s").collect()  # no ANSI overflow
    return round(time.perf_counter() - t0, 3)


def _steal_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off-Linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return None


def _machine_report(calib_start, calib_end, steal0, steal1) -> dict:
    """Environment-noise context for the bench numbers: the fixed
    CPU probe at start/end plus hypervisor CPU-steal over the run."""
    rep = {"probe_sec_start": calib_start, "probe_sec_end": calib_end}
    if steal0 and steal1 and steal1[1] > steal0[1]:
        rep["steal_pct"] = round(
            100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 2
        )
    return rep


def _cog_pipeline_throughput(spark) -> dict:
    """The reference's actual workload: NetCDF cells -> per-leadtime
    multi-band COGs (BASELINE.md: 432x432x93x2 ~ 34.7M cells/file on
    a 4-worker pool). Measures our scan->grid->encode pipeline in
    cells/sec with the deterministic codec. The codec now does real
    per-tile DEFLATE + overview pages, so the number tracks the whole
    encode path (shuffle, grouping, Arrow, zlib), not just plumbing.

    _best_of applies here too: the first execution of each path pays
    one-time Python UDF worker spinup + per-worker module imports +
    plan compilation (~7 s measured vs a ~2 s steady state for
    long_rows), which a single-shot timing records as throughput —
    that inflated r5's long_rows number by 1.8x while the code was
    timing-neutral."""
    import shutil
    import tempfile
    from pathlib import Path

    from environmental_stac_generator_spark.sinks.raster import (
        encode_cogs,
        encode_cogs_grids,
    )
    from environmental_stac_generator_spark.sources import netcdf

    base = Path(tempfile.mkdtemp(prefix="envstac_bench_cog_"))
    landing = base / "bench_in"
    n_files, grid, n_lead, n_vars = 4, 216, 12, 2
    for i in range(n_files):
        (landing / f"coll{i}").mkdir(parents=True)
        (landing / f"coll{i}" / "fc.nc").write_bytes(bytes([i]))
    src = str(landing / "*")
    dec = netcdf.fake_decoder(grid=grid, n_lead=n_lead)
    cells = n_files * grid * grid * n_lead * n_vars

    sec_long = _best_of(
        lambda: encode_cogs(
            netcdf.scan_netcdf(spark, src, decoder=dec), base / "cogs_long"
        ).write.mode("overwrite").format("noop").save()
    )
    sec_grid = _best_of(
        lambda: encode_cogs_grids(
            netcdf.scan_netcdf_grids(spark, src, decoder=dec), base / "cogs_grid"
        ).write.mode("overwrite").format("noop").save()
    )

    shutil.rmtree(base, ignore_errors=True)
    return {
        "cells": cells,
        "long_rows": {"sec": round(sec_long, 3), "cells_per_sec": int(cells / sec_long)},
        "packed_grids": {"sec": round(sec_grid, 3), "cells_per_sec": int(cells / sec_grid)},
    }


# ---------------------------------------------------------------------------
# --soak: one order-of-magnitude scale datapoint (VERDICT r4 #6).
# Synthesizes a ~10x corpus from $SPARK_GRAFT_SF_DIR's documents +
# embeddings (replication with id offsets; odd replicas perturbed so
# the corpus carries BOTH exact and near duplicates, even replicas
# exact), symlinks the other tables, runs the dedup/ANN/curation
# chains, and asserts the documented plan shapes survive AQE at the
# larger size: map-side signatures stay zero-shuffle, no pair join
# degrades to a nested-loop/cartesian product.

SOAK_FACTOR = 10

SOAK_QUERIES = [
    # dedup family
    "dedup_exact",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "duplicate_clusters",
    "span_dedup",
    "incremental_lsh_dedup",
    # ANN / embedding family
    "cosine_topk",
    "ivf_ann_probe",
    "embedding_near_dup",
    "kmeans_clusters",
    "semdedup_pairs",
    "int8_quantize",
    "pq_encode",
    "pq_ann_probe",
    "ivfpq_ann_probe",
    # curation / text family
    "quality_score",
    "repetition_profile",
    "pii_scan",
    "decontaminate",
    "token_budget_select",
    "sequence_pack",
    "vocab_top_tokens",
    "importance_weights",
    "perplexity_score",
    "chunk_documents",
    "stratified_sample",
]

# zero-shuffle map stages must stay zero-shuffle at any scale
SOAK_MAP_SIDE = [
    "minhash_signatures", "simhash", "quality_score", "int8_quantize",
    "pq_encode", "ivfpq_ann_probe",
    # r8: the residual/nprobe probes stay map-side at 10x too
    "ivfpq_residual_probe", "ivfpq_residual_nprobe", "ivf_ann_nprobe",
    # r9: the materialized ADC probe stays a zero-shuffle pruned scan
    "ivfpq_index_probe",
]


def _synthesize_soak_dir(src: str, factor: int) -> tuple[str, int]:
    import tempfile

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    base = Path(tempfile.mkdtemp(prefix="envstac_soak_"))
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        p = Path(src) / f"{t}.parquet"
        if p.exists():
            (base / p.name).symlink_to(p)
    docs = pq.read_table(f"{src}/documents.parquet").to_pandas()
    span = int(docs["doc_id"].max()) + 1
    reps = []
    for r in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + r * span
        if r % 2:  # odd replicas: near-dups; even replicas: exact dups
            d["text"] = d["text"] + f" rep{r}"
            d["n_chars"] = d["n_chars"] + len(f" rep{r}")
        reps.append(d)
    pd.concat(reps, ignore_index=True).to_parquet(base / "documents.parquet")
    emb = pq.read_table(f"{src}/embeddings.parquet").to_pandas()
    vspan = int(emb["vec_id"].max()) + 1
    rng = np.random.default_rng(1234)
    ereps = []
    for r in range(factor):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + r * vspan
        if r:
            noise = rng.normal(scale=0.01, size=(len(e), len(e["embedding"].iloc[0])))
            e["embedding"] = [
                (np.asarray(v, dtype="float32") + n.astype("float32")).tolist()
                for v, n in zip(e["embedding"], noise)
            ]
        ereps.append(e)
    pd.concat(ereps, ignore_index=True).to_parquet(base / "embeddings.parquet")
    return str(base), len(docs) * factor


def _synthesize_uniform_embeddings_dir(src: str, factor: int) -> str:
    """Fresh-seed embeddings at ``factor``× the base corpus size —
    the UNIFORM regime twin of the replica-based 10x fixture. The
    base corpus is isotropic unit-sphere gaussian
    (tools/make_testdata.py), so the honest scale-up is the same
    generative process at N×rows with a new seed: no probe has
    near-copy neighbors, which is exactly the structure the replica
    fixture's recall caveat flags. Deterministic (default_rng(77),
    disjoint from the corpus seed 42 and the noise seed 1234)."""
    import tempfile

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    base = Path(tempfile.mkdtemp(prefix="envstac_uni_"))
    emb = pq.read_table(f"{src}/embeddings.parquet").to_pandas()
    n = len(emb) * factor
    dim = len(emb["embedding"].iloc[0])
    rng = np.random.default_rng(77)
    x = rng.normal(size=(n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [row for row in x],
            "label": (np.arange(n) % 10).astype("int32"),
        }
    ).to_parquet(base / "embeddings.parquet")
    return str(base)


# --- natural-regime scale block (VERDICT r6 #1/#3/#5) -------------------
# The 10x soak corpus (50k docs) sits below every stats gate, so its
# scale plans only run under the force_scale_plans override. This
# block synthesizes a corpus big enough that the parquet FOOTER STATS
# flip every gate on their own (>SMALL_INPUT_ROWS documents,
# >DRIVER_CC_PAIRS duplicate pairs), proving the thresholds are
# placed right, and adds the two fixtures the plan audit said AQE
# elides at bench sf: a viral document whose LSH buckets exceed
# max_bucket (the mega-bucket fallback join actually executes) and an
# all-conflict upsert (the JDBC chokepoint, measured at two batch
# sizes).

# 5000 docs/replica -> 1.25M docs > SMALL_INPUT_ROWS (the env
# override exists for smoke-testing the block's plumbing quickly; the
# recorded SOAK artifact always uses the default)
NATURAL_FACTOR = int(os.environ.get("SPARK_GRAFT_NATURAL_FACTOR", "250"))
VIRAL_COPIES = int(os.environ.get("SPARK_GRAFT_VIRAL_COPIES", "3000"))
MEGA_MAX_BUCKET = 1_000  # cap the fallback must kick in above


def _synthesize_natural_dir(
    src: str, factor: int = NATURAL_FACTOR, viral: int = VIRAL_COPIES
) -> tuple[str, int]:
    """Documents-only corpus for the natural-regime block. Unlike the
    10x fixture (whole-corpus replication, so duplicate-group size
    GROWS with the factor — at 250x each group would be a 250-clique
    and pair counts would explode quadratically, which no real corpus
    does), replicas here are DISTINCT documents: every token carries
    a per-replica tag, so no shingle survives across replicas. The
    duplicate share stays constant and bounded instead — every 10th
    replica is an exact copy of its predecessor (multiplicity-2
    groups, ~10% dup rate), plus one viral document at ``viral``
    exact copies whose LSH buckets exceed any sane ``max_bucket``."""
    import tempfile

    import pandas as pd
    import pyarrow.parquet as pq

    base = Path(tempfile.mkdtemp(prefix="envstac_natural_"))
    docs = pq.read_table(f"{src}/documents.parquet").to_pandas()
    span = int(docs["doc_id"].max()) + 1
    reps = []
    prev_text = docs["text"]
    for r in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + r * span
        if r and r % 10 == 9:
            d["text"] = prev_text.values  # exact dup of replica r-1
        elif r:
            tag = f"r{r}x"
            d["text"] = tag + d["text"].str.replace(" ", " " + tag, regex=False)
        prev_text = d["text"]
        reps.append(d)
    vtext = " ".join(f"viraltok{i}" for i in range(54))
    viral_df = pd.DataFrame(
        {
            "doc_id": range(factor * span, factor * span + viral),
            "text": vtext,
            "lang": "en",
            "source": "srcviral",
        }
    )
    out = pd.concat([*reps, viral_df], ignore_index=True)
    out["n_chars"] = out["text"].str.len()
    # small row groups: parquet scans parallelize per row group, and
    # pyarrow's default (~1M rows) would hand the whole corpus to one
    # or two scan tasks — the tokenize-heavy stages would then run at
    # 1/32 of the machine and the block would measure the fixture's
    # layout, not the engine
    out.to_parquet(base / "documents.parquet", row_group_size=65536)
    return str(base), len(out)


def _interleaved_twins(
    mk_a, mk_b, rounds: int = 2
) -> tuple[float, float, list[float], list[float], str]:
    """Alternating timed executions of two plan twins (the
    tools/ab_bench.py protocol at soak scale): a host-contention
    burst hits both sides, so the min-per-side pair is comparable —
    single-shot twin timings on this host have flipped SIGN between
    soak runs. Returns (min_a, min_b, samples_a, samples_b, plan_a)."""
    a_s: list[float] = []
    b_s: list[float] = []
    plan_a = ""
    for _ in range(rounds):
        sec, plan_a = _timed_plan(mk_a())
        a_s.append(sec)
        sec, _ = _timed_plan(mk_b())
        b_s.append(sec)
    return min(a_s), min(b_s), a_s, b_s, plan_a


def _timed_plan(df) -> tuple[float, str]:
    """(seconds, executed plan string) for one full execution of the
    frame's own QueryExecution — the adaptive FINAL plan, same
    methodology as _run_and_bad_joins."""
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    t0 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    sec = round(time.perf_counter() - t0, 3)
    plan = qe.executedPlan().toString()
    release_tracked()
    return sec, plan


def _natural_scale_block(spark, sf_dir: str, reg) -> tuple[dict, list[str], str]:
    import shutil

    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.queries.curation import span_dedup
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
        bands_of,
        lsh_candidate_pairs,
    )
    from environmental_stac_generator_spark.tables import load

    nat_dir, nat_rows = _synthesize_natural_dir(sf_dir)
    res: dict = {
        "doc_rows": nat_rows,
        "factor": NATURAL_FACTOR,
        "viral_copies": VIRAL_COPIES,
    }
    failures: list[str] = []

    # 1. the CBO gates must flip on footer stats ALONE (no force
    # flag): the bucketed prefix sums plan without a single-reducer
    # exchange, span dedup without a window
    for name, must_not in [
        ("token_budget_select", "Exchange SinglePartition"),
        ("sequence_pack", "Exchange SinglePartition"),
    ]:
        sec, plan = _timed_plan(reg[name].fn(spark, nat_dir))
        res[f"{name}_sec"] = sec
        if must_not in plan:
            failures.append(
                f"natural regime: {name} gate did NOT flip on stats "
                f"(plan still contains {must_not!r})"
            )
    # 2. the span twin pair, INTERLEAVED (r9): single-shot twin
    # timings on this host have flipped sign between soak runs
    # (SOAK_r09 history — multi-minute jobs ride contention bursts),
    # so both plans alternate samples and each side records its min —
    # the ab_bench adjudication shape at soak scale. r13 calibration
    # (VERDICT r12 #5 + the span_window_cliff sweep): this corpus's
    # 3,000-copy viral clique is far below the measured window-plan
    # buffer capability, so the gate must now KEEP the window plan
    # here and bank the ~1.3-1.8x premium the skew-safe twin pays —
    # the exact row the r12 adjudication flagged as an overpay.
    g_min, s_min, g_s, s_s, g_plan = _interleaved_twins(
        lambda: reg["span_dedup"].fn(spark, nat_dir),
        lambda: span_dedup(spark, nat_dir, skew_safe=True),
    )
    res["span_dedup_sec"] = g_min
    res["span_dedup_skewsafe_sec"] = s_min
    res["span_dedup_samples"] = {"gated": g_s, "skew_safe": s_s}
    if "Window [" not in g_plan:
        failures.append(
            "kilo-viral corpus: span gate paid the skew-safe premium "
            "below the measured window cap (r13 calibration)"
        )

    # 2b. the r8 group-bound gate (VERDICT r7 #1): the sampled bound
    # must DETECT the 3,000-copy clique (well above the unviral
    # corpus's bound) while staying below the r13 cap — detection and
    # the threshold verdict are separate facts; the gate's cost is
    # recorded so the "~2% of the span job" claim stays measured
    from environmental_stac_generator_spark.queries.curation import (
        SPAN_WINDOW_MAX_GROUP,
        span_max_group_bound,
    )

    t0 = time.perf_counter()
    vb = span_max_group_bound(load(spark, nat_dir, "documents"))
    res["span_gate_sec"] = round(time.perf_counter() - t0, 3)
    res["span_gate_bound_viral"] = vb
    if not (VIRAL_COPIES <= vb <= SPAN_WINDOW_MAX_GROUP):
        failures.append(
            f"span gate bound {vb} outside the kilo-viral window "
            f"[{VIRAL_COPIES}, {SPAN_WINDOW_MAX_GROUP}]"
        )

    # 2b'. the skew-safe flip still fires PAST the r13 cap, executed
    # end-to-end: a mega-viral corpus (one span at ~1.5x the cap's
    # copies) must bound above the cap and plan without a window —
    # the insurance the threshold exists for, proven on a real run
    # rather than a monkeypatched bound. factor=125 keeps the corpus
    # above SMALL_INPUT_ROWS (125 x 5k base docs + ~393k viral copies
    # = ~1.02M rows) so footer stats cannot prove it small — the first
    # soak run's lesson: a sub-1M-row mega corpus short-circuits at
    # stage 1 and never consults the bound
    mega_copies = int(SPAN_WINDOW_MAX_GROUP * 1.5)
    mega_dir, _mega_rows = _synthesize_natural_dir(
        sf_dir, factor=125, viral=mega_copies
    )
    try:
        mb = span_max_group_bound(load(spark, mega_dir, "documents"))
        res["span_gate_bound_megaviral"] = mb
        res["megaviral_copies"] = mega_copies
        if mb <= SPAN_WINDOW_MAX_GROUP:
            failures.append(
                f"span gate bound {mb} did not flag the mega-viral "
                f"corpus (cap {SPAN_WINDOW_MAX_GROUP})"
            )
        sec, plan = _timed_plan(reg["span_dedup"].fn(spark, mega_dir))
        res["span_dedup_megaviral_sec"] = sec
        if "Window [" in plan:
            failures.append(
                "mega-viral corpus: span gate did NOT flip to the "
                "skew-safe plan past the cap"
            )
    finally:
        shutil.rmtree(mega_dir, ignore_errors=True)

    # 2c. the UNVIRAL twin at the same 250x scale: stats cannot prove
    # it small, but the group bound must keep the ~1.7x cheaper window
    # plan — and both plans must agree bit-for-bit
    unviral_dir, unviral_rows = _synthesize_natural_dir(sf_dir, viral=0)
    res["unviral_doc_rows"] = unviral_rows
    ub = span_max_group_bound(load(spark, unviral_dir, "documents"))
    res["span_gate_bound_unviral"] = ub
    if ub > SPAN_WINDOW_MAX_GROUP:
        failures.append(
            f"span gate bound {ub} flagged the UNVIRAL corpus "
            f"(cap {SPAN_WINDOW_MAX_GROUP})"
        )
    g_min, s_min, g_s, s_s, g_plan = _interleaved_twins(
        lambda: reg["span_dedup"].fn(spark, unviral_dir),
        lambda: span_dedup(spark, unviral_dir, skew_safe=True),
    )
    res["span_dedup_unviral_window_sec"] = g_min
    res["span_dedup_unviral_skewsafe_sec"] = s_min
    res["span_dedup_unviral_samples"] = {"window": g_s, "skew_safe": s_s}
    if "Window [" not in g_plan:
        failures.append(
            "span gate did not pick the window plan on the unviral corpus"
        )
    rows_w = sorted(
        map(tuple, span_dedup(spark, unviral_dir, skew_safe=False).collect())
    )
    rows_s = sorted(
        map(tuple, span_dedup(spark, unviral_dir, skew_safe=True).collect())
    )
    if rows_w != rows_s:
        failures.append("span plans disagree on the unviral corpus")

    # 3. connected components: the pair count (~constant dup share of
    # 1.25M docs + the viral clique) exceeds DRIVER_CC_PAIRS, so the
    # distributed fixpoint must engage off stats alone
    t0 = time.perf_counter()
    labels, cc_rounds = _components_label(lsh_candidate_pairs(spark, nat_dir))
    labels.write.mode("overwrite").format("noop").save()
    res["duplicate_clusters_sec"] = round(time.perf_counter() - t0, 3)
    res["cc_rounds"] = cc_rounds
    if cc_rounds < 1:
        failures.append(
            "natural regime: duplicate_clusters still took the driver "
            "union-find below DRIVER_CC_PAIRS"
        )

    # 4. the mega-bucket fallback join, executed for REAL: the viral
    # doc's clique shares every band bucket, so with max_bucket=1000
    # those buckets can ONLY produce pairs through the
    # bucket-restricted self-join branch of bucket_pairs — recovering
    # all C(viral, 2) clique pairs is behavioral proof the fallback
    # ran (the map-side small-bucket branch never sees them)
    d = load(spark, nat_dir, "documents")
    over = (
        bands_of(d)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MEGA_MAX_BUCKET)
        .count()
    )
    res["buckets_over_cap"] = over
    if over < 1:
        failures.append("natural regime: no bucket exceeded MEGA_MAX_BUCKET")
    t0 = time.perf_counter()
    n_pairs = lsh_candidate_pairs(
        spark, nat_dir, max_bucket=MEGA_MAX_BUCKET
    ).count()
    res["mega_fallback_sec"] = round(time.perf_counter() - t0, 3)
    res["mega_fallback_pairs"] = n_pairs
    clique = VIRAL_COPIES * (VIRAL_COPIES - 1) // 2
    if n_pairs < clique:
        failures.append(
            f"mega-bucket fallback lost clique pairs: {n_pairs} < {clique}"
        )
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    release_tracked()
    return res, failures, nat_dir


def _semdedup_mega_fallback(spark, soak_dir: str) -> dict:
    """Run the SemDeDup pair stage with max_bucket far below the
    actual cluster populations (~20k vectors over K=32 clusters →
    mean 625, so by pigeonhole clusters above 50 MUST exist): the
    cluster-restricted self-join branch of the skew-safe path — the
    analog of dedup's mega-bucket fallback, which AQE's
    empty-relation propagation elides at bench sf — provably
    executes and is timed."""
    from environmental_stac_generator_spark.queries.similarity import (
        semantic_pairs_of,
    )
    from environmental_stac_generator_spark.tables import load

    e = load(spark, soak_dir, "embeddings").select("vec_id", "embedding")
    t0 = time.perf_counter()
    n = semantic_pairs_of(e, max_bucket=50).count()
    sec = round(time.perf_counter() - t0, 3)
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    release_tracked()
    return {"max_bucket": 50, "pairs": n, "sec": sec}


def _multimodal_streaming_block(spark, soak_dir: str, sf_dir: str) -> tuple[dict, list[str]]:
    """VERDICT r7 #8: natural-regime coverage for the two remaining
    rows-only families. Multimodal runs over the full 10x document
    corpus (its pytest evidence tops out at sf0.001); streaming T1-T4
    run over a 10x events corpus (1M rows) split across files so
    availableNow drains in MULTIPLE micro-batches, with each
    operator's final state asserted equal to its batch twin —
    stream/batch equivalence at scale, not just at test size."""
    import re as _re
    import tempfile

    import pandas as pd
    import pyarrow.parquet as _pq
    import pyspark.sql.functions as F

    from environmental_stac_generator_spark.operators import multimodal as mm
    from environmental_stac_generator_spark.streaming import incremental
    from environmental_stac_generator_spark.streaming import windows as sw
    from environmental_stac_generator_spark.tables import load

    res: dict = {}
    failures: list[str] = []

    # --- multimodal at 10x docs: the Arrow decode/feature kernel must
    # stay ONE MapInPandas pass, zero shuffles, one feature row per doc
    docs = load(spark, soak_dir, "documents")
    n_docs = docs.count()
    feats = mm.extract_features(mm.synthesize_media(docs))
    t0 = time.perf_counter()
    qe = feats._jdf.queryExecution()
    n_feats = qe.toRdd().count()
    res["multimodal_features_sec"] = round(time.perf_counter() - t0, 3)
    res["multimodal_feature_rows"] = n_feats
    plan = qe.executedPlan().toString()
    if "MapInPandas" not in plan:
        failures.append("multimodal: feature kernel lost its Arrow map stage")
    if _re.findall(r"Exchange (hash|range)partitioning", plan):
        failures.append("multimodal: feature kernel gained a shuffle at 10x")
    if n_feats != n_docs:
        failures.append(
            f"multimodal: {n_feats} feature rows != {n_docs} docs"
        )
    t0 = time.perf_counter()
    n_frames = mm.frame_sample(
        mm.synthesize_media(docs), every_n=10
    ).count()
    res["multimodal_frame_sample_sec"] = round(time.perf_counter() - t0, 3)
    res["multimodal_frame_rows"] = n_frames

    # --- 10x events corpus (1M rows), 32 files so the file source has
    # real micro-batch boundaries
    base = Path(tempfile.mkdtemp(prefix="envstac_stream10x_"))
    ev = _pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
    span = int(ev["event_id"].max()) + 1
    reps = []
    for r in range(SOAK_FACTOR):
        e = ev.copy()
        e["event_id"] = e["event_id"] + r * span
        e["ts"] = e["ts"] + pd.Timedelta(days=31 * r)
        reps.append(e)
    ev10 = pd.concat(reps, ignore_index=True).sort_values("ts").reset_index(drop=True)
    ev10["ts"] = ev10["ts"].astype("datetime64[us]")  # pandas Timedelta
    # arithmetic re-upcasts to [ns], which parquet stores as INT64
    # nanos — a type the fixed stream schema (timestamp) rejects
    ev_dir = base / "events10x"
    ev_dir.mkdir(parents=True)
    # 32 TIME-ORDERED files written sequentially (ascending names AND
    # mod times): the file source replays them oldest-first, so event
    # time arrives roughly ordered and nothing lands behind the
    # watermark — random file order would make whole time slices
    # "late" and the stream would (correctly) drop them
    import numpy as _np

    for i, chunk in enumerate(_np.array_split(ev10, 32)):
        chunk.to_parquet(ev_dir / f"{i:05d}.parquet", index=False)
    n_events = len(ev10)
    res["stream_event_rows"] = n_events

    def _drain(writer, timeout_s: int = 600):
        q = writer.start()
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError("stream did not drain")
        return len(q.recentProgress)

    # T4: watermarked tumbling windows, multi-batch, == batch twin
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(str(ev_dir))
    )
    t0 = time.perf_counter()
    name = _memory_name(spark, "soak_win")
    batches = _drain(
        sw.windowed_event_counts(stream, watermark="2 days")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(base / "ckpt_win"))
    )
    res["stream_windowed_sec"] = round(time.perf_counter() - t0, 3)
    res["stream_windowed_batches"] = batches

    def _w(rows):
        # double sums are rounded: stream and batch may add the window's
        # values in different orders
        return {
            (r["window_start"], r["window_end"], r["event_type"],
             r["n_events"], round(r["sum_value"], 3))
            for r in rows
        }

    got = _w(spark.sql(f"SELECT * FROM {name}").collect())
    batch_twin = sw.windowed_event_counts(
        spark.read.parquet(str(ev_dir)), watermark="2 days"
    ).collect()
    from datetime import timedelta

    max_ts = (
        spark.read.parquet(str(ev_dir)).agg(F.max("ts")).first()[0]
    )
    cutoff = max_ts - timedelta(days=2)
    # append mode emits exactly the watermark-CLOSED windows; the open
    # tail (window_end past max event time - watermark) stays in state
    want = _w(r for r in batch_twin if r["window_end"] <= cutoff)
    if batches < 2:
        failures.append("streaming: windowed agg drained in a single batch")
    if not got or got != want:
        failures.append(
            f"streaming: windowed counts diverge from batch twin "
            f"({len(got)} streamed vs {len(want)} closed batch windows)"
        )

    # T2: applyInPandasWithState running extent == batch extent
    ev_stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(str(ev_dir))
        .select(
            F.col("event_type").alias("collection"),
            F.col("event_id").cast("string").alias("item_id"),
            F.col("ts").alias("forecast_reference_time"),
        )
    )
    rows: list = []
    t0 = time.perf_counter()
    q = (
        sw.stateful_running_extent(ev_stream)
        .writeStream.foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(base / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("stateful extent stream did not drain")
    res["stream_stateful_sec"] = round(time.perf_counter() - t0, 3)
    res["stream_stateful_batches"] = len(q.recentProgress)
    final = {}
    for r in rows:  # update mode: LAST emission per key is the state
        final[r["collection"]] = (r["extent_start"], r["extent_end"], r["n_items"])
    want_ext = {
        r["collection"]: (r["extent_start"], r["extent_end"], r["n_items"])
        for r in spark.read.parquet(str(ev_dir))
        .groupBy(F.col("event_type").alias("collection"))
        .agg(
            F.min("ts").alias("extent_start"),
            F.max("ts").alias("extent_end"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .collect()
    }
    if final != want_ext:
        failures.append("streaming: stateful extent state != batch extent")

    # T1/T3: incremental keyed merge of a REPLAYED source (every file
    # delivered, then the exact-dup half) — final table == distinct keys
    merge_src = base / "merge_landing"
    merge_in = spark.read.parquet(str(ev_dir)).select(
        F.lit("demo").alias("collection"),
        F.pmod(F.col("event_id"), F.lit(100_000)).cast("string").alias("item_id"),
        F.col("ts").alias("forecast_reference_time"),
    )
    merge_in.unionAll(merge_in).repartition(16).write.mode("overwrite").parquet(
        str(merge_src)
    )
    stream = incremental.stream_source(
        spark, merge_src,
        "collection string, item_id string, forecast_reference_time timestamp",
    )
    t0 = time.perf_counter()
    q = incremental.start_incremental_merge(
        stream, base / "merge_table", base / "merge_ckpt",
        ["collection", "item_id"],
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("incremental merge stream did not drain")
    res["stream_merge_sec"] = round(time.perf_counter() - t0, 3)
    got_n = spark.read.parquet(str(base / "merge_table")).count()
    want_n = merge_in.select("collection", "item_id").distinct().count()
    res["stream_merge_rows"] = got_n
    if got_n != want_n:
        failures.append(
            f"streaming: merged table {got_n} rows != {want_n} distinct keys"
        )
    return res, failures


def _memory_name(spark, prefix: str) -> str:
    import uuid

    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _upsert_throughput(spark, soak_dir: str) -> dict:
    """K5 rows/s through the real ``upsert_partition`` path (VERDICT
    r6 #5) against the embedded ON CONFLICT engine, at two batch
    sizes plus an all-conflict re-upsert. The ``batch_size`` knob is
    the executemany round-trip granularity — the lever to turn when a
    live pgSTAC shows per-statement latency dominating."""
    import os as _os
    import tempfile

    from environmental_stac_generator_spark.sinks.jdbc_upsert import (
        sqlite_connection_factory,
        upsert_dataframe,
    )
    from environmental_stac_generator_spark.tables import load

    d = (
        load(spark, soak_dir, "documents")
        .selectExpr(
            "cast(doc_id as string) AS id",
            "source AS collection",
            "to_json(struct(doc_id, lang, n_chars)) AS content",
        )
        .repartition(8)
    )
    out: dict = {}
    for bs in (500, 5000):
        db = tempfile.mktemp(prefix="envstac_upsert_", suffix=".db")
        conn = sqlite_connection_factory(db)
        conn.execute(
            "CREATE TABLE items (id TEXT, collection TEXT, content TEXT,"
            " PRIMARY KEY (id, collection))"
        )
        conn.commit()
        conn.close()
        t0 = time.perf_counter()
        n = upsert_dataframe(
            d,
            db,
            "items",
            ["id", "collection"],
            batch_size=bs,
            connection_factory=sqlite_connection_factory,
            paramstyle="qmark",
        )
        sec = time.perf_counter() - t0
        out[f"insert_batch_{bs}"] = {
            "rows": n,
            "sec": round(sec, 3),
            "rows_per_sec": int(n / sec),
        }
        if bs == 5000:
            # every row now conflicts: the DO UPDATE arm, which is
            # what a re-ingest of an existing catalog exercises
            t0 = time.perf_counter()
            n2 = upsert_dataframe(
                d,
                db,
                "items",
                ["id", "collection"],
                batch_size=bs,
                connection_factory=sqlite_connection_factory,
                paramstyle="qmark",
            )
            sec2 = time.perf_counter() - t0
            out["conflict_batch_5000"] = {
                "rows": n2,
                "sec": round(sec2, 3),
                "rows_per_sec": int(n2 / sec2),
            }
        _os.unlink(db)
    return out


def _run_and_bad_joins(df) -> set[str]:
    """Execute the dataframe's OWN QueryExecution and inspect that
    plan: a noop write runs a separate QueryExecution, so AQE
    runtime strategy flips (the thing the soak asserts about) would
    be invisible in df's never-executed plan. toRdd() executes the
    AdaptiveSparkPlan to its final form."""
    from environmental_stac_generator_spark.operators.lineage import (
        release_tracked,
    )

    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan().toString()
    release_tracked()  # same pin-drain policy as _best_of (ADVICE r6)
    return {
        bad
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin")
        if bad in plan
    }


def soak() -> None:
    import re
    import shutil

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    soak_dir, doc_rows = _synthesize_soak_dir(sf_dir, SOAK_FACTOR)
    spark = get_spark(
        app_name="envstac-soak",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # the natural-regime block scans a >1M-doc corpus; Spark's 1g
        # local-mode default heap OOMs there (32 task threads share
        # the driver JVM — see session.DEFAULT_DRIVER_MEMORY)
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_full_registry()

    def _executed_plan(name: str) -> str:
        return (
            reg[name].fn(spark, soak_dir)._jdf.queryExecution().executedPlan().toString()
        )

    shape_failures = []
    for name in SOAK_MAP_SIDE:
        plan = _executed_plan(name)
        n = len(re.findall(r"Exchange (hash|range)partitioning", plan))
        if n:
            shape_failures.append(f"{name}: {n} shuffles in map-side plan")

    # baseline fingerprint at the base sf: the 1-row scalar cross
    # joins (probe vector / totals frame) legitimately plan as BNLJ
    # at every scale — a DEGRADATION is a bad-join kind that appears
    # at soak scale only (an AQE/size-driven strategy flip).
    base_joins: dict[str, set[str]] = {}
    reg["q1_pricing_summary"].fn(spark, sf_dir).collect()
    for name in SOAK_QUERIES:
        base_joins[name] = _run_and_bad_joins(reg[name].fn(spark, sf_dir))

    timings: dict[str, float] = {}
    degraded = []
    reg["q1_pricing_summary"].fn(spark, soak_dir).collect()
    steal0 = _steal_jiffies()
    _calibration_probe(spark)  # warm: first run pays codegen compile
    calib_start = _calibration_probe(spark)
    for name in SOAK_QUERIES:
        t0 = time.perf_counter()
        bad_now = _run_and_bad_joins(reg[name].fn(spark, soak_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
        for bad in bad_now - base_joins[name]:
            degraded.append(f"{name}: {bad}")
    # the curate chain's scale posture for SemDeDup: K ~ sqrt(N)
    # bounds per-cluster populations, so the O(n²/K) within-cluster
    # pair work grows ~n^1.5 instead of n² — timed in the SAME run as
    # the oracle-pinned fixed-K row so the ratio is noise-free
    t0 = time.perf_counter()
    _auto_k_df(spark, soak_dir).write.mode("overwrite").format("noop").save()
    timings["semdedup_pairs_auto_k"] = round(time.perf_counter() - t0, 3)

    # Both sides of every stats gate get a measured scale datapoint
    # (the 10x corpus still sits under SMALL_INPUT_ROWS and near
    # DRIVER_CC_PAIRS, so the pass above exercised the SMALL plans):
    # force the scale side and assert its plan shape — the bucketed
    # prefix sum has no single-reducer exchange, the skew-safe span
    # plan has no window, the components fixpoint runs distributed
    # rounds, and no forced plan picks up a degraded join. Reported
    # under `forced_scale`, NOT summed into `value`, so soak totals
    # stay comparable round-over-round.
    from environmental_stac_generator_spark.queries.dedup import (
        _components_label,
        lsh_candidate_pairs,
    )
    from environmental_stac_generator_spark.tables import force_scale_plans

    forced: dict[str, float] = {}
    force_scale_plans(True)
    try:
        for name, must_not in [
            ("token_budget_select", "Exchange SinglePartition"),
            ("sequence_pack", "Exchange SinglePartition"),
            ("span_dedup", "Window ["),
        ]:
            t0 = time.perf_counter()
            df = reg[name].fn(spark, soak_dir)
            qe = df._jdf.queryExecution()
            qe.toRdd().count()
            forced[f"{name}_scale_plan"] = round(time.perf_counter() - t0, 3)
            plan = qe.executedPlan().toString()
            if must_not in plan:
                shape_failures.append(
                    f"{name}: forced scale plan still contains {must_not!r}"
                )
            for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
                if bad in plan and bad not in base_joins.get(name, set()):
                    degraded.append(f"{name} (forced scale): {bad}")
        # the components witness IS the forced duplicate_clusters run
        # (same pair pipeline + distributed fixpoint): time it once
        # and read the rounds directly rather than re-executing the
        # registry query for a plan string that can't show the path
        t0 = time.perf_counter()
        labels, cc_rounds = _components_label(lsh_candidate_pairs(spark, soak_dir))
        labels.write.mode("overwrite").format("noop").save()
        forced["duplicate_clusters_scale_plan"] = round(
            time.perf_counter() - t0, 3
        )
        if cc_rounds < 1:
            shape_failures.append(
                "duplicate_clusters: forced gate still took the driver path"
            )
    finally:
        force_scale_plans(False)

    # the one-call curate chain at 10x (VERDICT r6 #2) — separate key,
    # NOT summed into `value`, so soak totals stay comparable
    t0 = time.perf_counter()
    chain_stats = _curate_chain_run(spark, soak_dir)
    curate_chain = {
        "sec": round(time.perf_counter() - t0, 3),
        "stats": chain_stats,
    }

    # K5 upsert throughput + the SemDeDup mega-cluster fallback, both
    # at the 10x corpus (VERDICT r6 #3/#5)
    upsert = _upsert_throughput(spark, soak_dir)
    sem_mega = _semdedup_mega_fallback(spark, soak_dir)

    # multimodal + streaming T1-T4 at 10x with plan/state assertions
    # (VERDICT r7 #8)
    mm_stream, mm_failures = _multimodal_streaming_block(spark, soak_dir, sf_dir)
    shape_failures.extend(mm_failures)

    # the ANN quality ladder at the 10x embedding corpus (r8): recall
    # behavior under corpus growth, beside bench's base-sf numbers
    ann_recall_10x = _ann_recall(spark, soak_dir, reg)

    # the materialized index at 1x AND 10x (r9, VERDICT r8 #1): the
    # probe reads nprobe of K partitions at BOTH scales — files_read
    # stays 4 while the corpus grows 10x, and probe latency tracks
    # the probed cells, not the corpus
    ann_index_scale = {
        "base": _ann_index_block(spark, sf_dir),
        "10x": _ann_index_block(spark, soak_dir),
        # the K~sqrt(N) regime (VERDICT r9 #1): trained K=256 cells +
        # OPQ + trained codebook on the 10x corpus — prune ratio
        # nprobe/K = 4/256, recall vs the same-cells exact ceiling,
        # and the catalog-table (metastore) probe route
        "trained_k256_10x": _ann_index_trained_block(spark, soak_dir, k=256),
    }
    # the uniform-regime twin (r12.5): the replica fixture's recall
    # numbers carry a documented caveat (each probe's true neighbors
    # are near-copies sharing its cell/codes), so the same full
    # lifecycle runs once more on a fresh-seed isotropic corpus at
    # the same 10x size — no near-copy structure, the honest
    # K~sqrt(N) recall regime. encode_ab off: the ~85 s interpreted
    # A/B build is already carried by the replica block.
    uni_dir = _synthesize_uniform_embeddings_dir(sf_dir, SOAK_FACTOR)
    try:
        ann_index_scale["trained_k256_uniform10x"] = _ann_index_trained_block(
            spark, uni_dir, k=256, encode_ab=False
        )
    finally:
        shutil.rmtree(uni_dir, ignore_errors=True)

    # compaction + 2PC exactly-once under a real multi-batch stream at
    # 10x, with the single-maintainer guard exercised in the loop
    # (VERDICT r10 #5 / r11 #3). An exception here must not take the
    # whole soak artifact down with it — record it as a failure.
    try:
        compaction_ingest, ci_failures = _compaction_ingest_block(
            spark, soak_dir
        )
        shape_failures.extend(ci_failures)
    except Exception as exc:  # noqa: BLE001 — recorded, soak exits 1
        compaction_ingest = {"error": str(exc)[:500]}
        shape_failures.append(f"compaction block raised: {exc}"[:300])

    # the manifest-commit cost curve (VERDICT r13 #6): commit wall
    # time + manifest size vs file count, 1e2→1e5 synthetic entries
    try:
        manifest_curve = _manifest_commit_curve_block()
    except Exception as exc:  # noqa: BLE001 — recorded, soak exits 1
        manifest_curve = {"error": str(exc)[:500]}
        shape_failures.append(f"manifest curve block raised: {exc}"[:300])

    # the WindowExec hot-group cliff sweep (VERDICT r12 #5): the data
    # behind the SPAN_WINDOW_MAX_GROUP threshold decision
    try:
        span_cliff = _span_window_cliff_block(spark)
        if not all(r["plans_equal"] for r in span_cliff["sweep"]):
            shape_failures.append("span_window_cliff: plan results diverge")
    except Exception as exc:  # noqa: BLE001 — recorded, soak exits 1
        span_cliff = {"error": str(exc)[:500]}
        shape_failures.append(f"span cliff block raised: {exc}"[:300])

    # the natural-regime block: gates must flip on footer stats alone
    # (VERDICT r6 #1), mega-bucket fallback provably executes (#3)
    natural, nat_failures, nat_dir = _natural_scale_block(spark, sf_dir, reg)
    shape_failures.extend(nat_failures)

    calib_end = _calibration_probe(spark)
    steal1 = _steal_jiffies()
    total = round(sum(timings.values()), 3)
    # auxiliary blocks first, headline metric/value/queries last —
    # same tail-capture ordering rationale as main()
    payload = {
        "forced_scale": forced,
        "curate_chain": curate_chain,
        "upsert_throughput": upsert,
        "semdedup_mega_fallback": sem_mega,
        "multimodal_streaming": mm_stream,
        "ann_recall_at_10_10x": ann_recall_10x,
        "ann_index_scale": ann_index_scale,
        "ann_compaction_ingest": compaction_ingest,
        "manifest_commit_curve": manifest_curve,
        "span_window_cliff": span_cliff,
        "natural_scale": natural,
        "base_sf_dir": sf_dir,
        "scale_factor": SOAK_FACTOR,
        "doc_rows": doc_rows,
        "plan_shape_failures": shape_failures,
        "degraded_joins": degraded,
        "machine": _machine_report(calib_start, calib_end, steal0, steal1),
        "metric": "soak_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
    }
    _write_self_artifact(payload, "SOAK_SELF.json")
    print(json.dumps(payload))
    shutil.rmtree(soak_dir, ignore_errors=True)
    shutil.rmtree(nat_dir, ignore_errors=True)
    spark.stop()
    if shape_failures or degraded:
        sys.exit(1)


if __name__ == "__main__":
    if "--soak" in sys.argv:
        soak()
    else:
        main()
