"""Materialized ANN index (VERDICT r8 #1): the inverted-file layout's
claims as EXECUTED-PLAN facts.

Three contracts:
1. Parity — the index probes return bit-identical results to their
   on-the-fly twins (same kernels at build time + exact parquet
   double round-trip), for both the exact and the residual-ADC
   ranking, single-cell and nprobe=4.
2. Partition pruning — a probe READS only its probed cell
   directories: the executed FileSourceScan's numFiles metric equals
   the probed cells' file count, not the corpus's, and the scan
   carries a cell PartitionFilter. (``inputFiles()`` can't show this
   — it lists the relation pre-pruning — so the metric is the
   assertion surface.)
3. Codes-only ADC reads — the ADC probe's scan ReadSchema contains
   codes but NOT the float embedding/norm columns: at 100 TB the
   ranking reads 8-byte codes, never floats.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from environmental_stac_generator_spark.queries import ann_index as AI
from environmental_stac_generator_spark.queries import similarity as S
from environmental_stac_generator_spark.registry import load_full_registry

REG = load_full_registry()


@pytest.fixture(scope="module")
def idx_dir(spark, sf_dir):
    d = AI.index_dir_for(spark, sf_dir)
    assert d is not None
    return d


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_exact_probe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(REG["ivf_index_probe"].fn(spark, sf_dir)) == _rows(
        REG["ivf_ann_probe"].fn(spark, sf_dir)
    )


def test_exact_nprobe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(AI.index_probe_exact(spark, sf_dir, nprobe=S.NPROBE)) == _rows(
        REG["ivf_ann_nprobe"].fn(spark, sf_dir)
    )


def test_adc_probe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(REG["ivfpq_index_probe"].fn(spark, sf_dir)) == _rows(
        REG["ivfpq_residual_probe"].fn(spark, sf_dir)
    )


def test_adc_nprobe_matches_onthefly(spark, sf_dir, idx_dir):
    assert _rows(AI.index_probe_adc(spark, sf_dir, nprobe=S.NPROBE)) == _rows(
        REG["ivfpq_residual_nprobe"].fn(spark, sf_dir)
    )


@pytest.mark.parametrize("nprobe", [1, S.NPROBE])
def test_probe_reads_only_probed_partitions(spark, sf_dir, idx_dir, nprobe):
    total_files = len(spark.read.parquet(idx_dir).inputFiles())
    cells = spark.read.parquet(idx_dir).select("cell").distinct().count()
    assert cells > nprobe, "corpus must have more cells than the probe"
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, sf_dir, nprobe=nprobe)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    # the I/O claim itself: files READ == the probed cells' files
    # (one file per cell at this size), strictly fewer than the corpus
    assert scan["num_files"] == nprobe, scan
    assert scan["num_files"] < total_files
    assert scan.get("num_partitions", nprobe) == nprobe
    # and it is PARTITION pruning, not post-read filtering
    assert "PartitionFilters: [" in scan["scan"]
    assert "cell" in scan["scan"].split("PartitionFilters")[1].split("]")[0]


def test_adc_probe_reads_codes_not_floats(spark, sf_dir, idx_dir):
    scans = AI.executed_scan_metrics(
        AI.index_probe_adc(spark, sf_dir, nprobe=S.NPROBE)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    read_schema = scan["scan"].split("ReadSchema:")[1]
    assert "codes" in read_schema
    assert "embedding" not in read_schema, read_schema
    assert "norm" not in read_schema, read_schema
    # the codes scan is pruned too
    assert scan["num_files"] == S.NPROBE, scan


def test_refine_matches_driver_rerank_of_adc_topr(spark, sf_dir, idx_dir):
    """The refine ranking contract (VERDICT r10 #1): the served
    result must equal an exact-cosine re-rank of the ADC top-R
    candidate ids, computed independently on the driver from the raw
    corpus (sequential-double dot — bit-identical arithmetic)."""
    import math

    from environmental_stac_generator_spark.tables import load

    cand = [
        int(r["vec_id"])
        for r in AI.index_probe_adc(
            spark, sf_dir, nprobe=S.NPROBE, limit_n=AI.REFINE_R
        ).collect()
    ]
    assert 0 < len(cand) <= AI.REFINE_R
    e = {
        int(r["vec_id"]): [float(v) for v in r["embedding"]]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    pv = e[0]
    p_norm = math.sqrt(S._py_dot(pv, pv))

    def _cos5(vid):
        v = e[vid]
        c = S._py_dot(v, pv) / (math.sqrt(S._py_dot(v, v)) * p_norm)
        return math.floor(c * 100000.0 + 0.5) / 100000.0

    expected = sorted(((-_cos5(i), i) for i in cand))[:10]
    got = _rows(REG["ivfpq_index_refine"].fn(spark, sf_dir))
    assert [(i, -nc) for nc, i in expected] == got


def test_refine_equals_exact_when_r_covers_probed_cells(spark, sf_dir, idx_dir):
    """With R at least the probed cells' population, refine degrades
    to the exact nprobe ranking — every member is in the candidate
    pool, so the re-rank IS the exact in-cell ranking."""
    n = spark.read.parquet(idx_dir).count()
    assert _rows(
        AI.index_probe_refine(spark, sf_dir, nprobe=S.NPROBE, refine_r=n + 10)
    ) == _rows(AI.index_probe_exact(spark, sf_dir, nprobe=S.NPROBE))


def test_refine_read_stays_inside_probed_partitions(spark, sf_dir, idx_dir):
    """The refine stage reads floats, but ONLY from the already-
    probed cell partitions: the executed refine scan is still
    partition-pruned to nprobe files, carries the cell
    PartitionFilter, pushes the vec_id candidate filter, and (unlike
    the ADC stage) reads the embedding column — that is its job."""
    scans = AI.executed_scan_metrics(
        AI.index_probe_refine(spark, sf_dir, nprobe=S.NPROBE)
    )
    assert len(scans) == 1, scans
    scan = scans[0]
    assert scan["num_files"] == S.NPROBE, scan
    assert "PartitionFilters: [" in scan["scan"]
    assert "cell" in scan["scan"].split("PartitionFilters")[1].split("]")[0]
    read_schema = scan["scan"].split("ReadSchema:")[1]
    assert "embedding" in read_schema
    pushed = scan["scan"].split("PushedFilters:")[1].split("]")[0]
    assert "vec_id" in pushed, scan["scan"]


def test_index_layout_one_file_per_cell(spark, idx_dir):
    # repartition("cell") before partitionBy: ~one file per cell dir,
    # not one per (cell x input task) — the small-files guard
    files = spark.read.parquet(idx_dir).inputFiles()
    cells = {f.split("cell=")[1].split("/")[0] for f in files}
    assert len(files) == len(cells)


def _synth_embeddings(spark, ids, shift=0):
    return spark.createDataFrame([(i,) for i in ids], "id bigint").select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, 64), i -> cast(hash(id + {shift}, i) "
            "% 1000 as float) / 1000.0f)"
        ).alias("embedding"),
    )


def test_append_matches_onthefly_over_union(spark, tmp_path):
    """Live-ingest contract: appending a batch coded against the
    PERSISTED quantizer must make the index probe bit-identical to
    the on-the-fly probe over the unioned corpus (whose quantizer
    rows — vec_id < N_CENTROIDS + PQ_K — are unchanged by the new
    higher-id batch)."""
    base = _synth_embeddings(spark, range(0, 80))
    batch = _synth_embeddings(spark, range(1000, 1020), shift=3)
    corpus_a = str(tmp_path / "a")
    corpus_ab = str(tmp_path / "ab")
    base.coalesce(1).write.parquet(f"{corpus_a}/embeddings.parquet")
    base.unionByName(batch).coalesce(1).write.parquet(
        f"{corpus_ab}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus_a, idx) is not None
    before = set(spark.read.parquet(idx).inputFiles())
    AI.append_ann_index(spark, batch, idx)
    after = set(spark.read.parquet(idx).inputFiles())
    # append-only: every pre-existing file is untouched
    assert before <= after and len(after) > len(before)
    # exact probe over the appended index == on-the-fly over the union
    got = _rows(AI.index_probe_exact(spark, corpus_ab, nprobe=1, idx_dir=idx))
    want = _rows(REG["ivf_ann_probe"].fn(spark, corpus_ab))
    assert got == want
    # appended rows actually participate (some batch id lands in some
    # probed cell across nprobe=4)
    got4 = _rows(AI.index_probe_exact(spark, corpus_ab, nprobe=4, idx_dir=idx))
    want4 = _rows(REG["ivf_ann_nprobe"].fn(spark, corpus_ab))
    assert got4 == want4
    # ADC probe over stored codes == on-the-fly residual probe
    got_adc = _rows(AI.index_probe_adc(spark, corpus_ab, idx_dir=idx))
    want_adc = _rows(REG["ivfpq_residual_probe"].fn(spark, corpus_ab))
    assert got_adc == want_adc


def test_custom_coarse_quantizer(spark, tmp_path):
    """A production index passes its own trained quantizer (K past
    the literal budget exercises the broadcast-array assignment
    kernel); the probe must match the on-the-fly kernels fed the same
    centroid rows."""
    corpus = str(tmp_path / "corpus")
    e_df = _synth_embeddings(spark, range(0, 200))
    e_df.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    # 32 custom centroids (> K_LITERAL_MAX=16) from every 6th row,
    # renumbered to cell ids 0..31
    rows = sorted(e_df.collect(), key=lambda r: r.vec_id)
    cents = [AI.CentRow(i, rows[i * 6].embedding) for i in range(32)]
    idx = str(tmp_path / "idx32")
    meta = AI.build_ann_index(spark, corpus, idx, cents=cents)
    assert meta == {"cells": 32, "codes": True}
    files = spark.read.parquet(idx).inputFiles()
    assert len({f.split("cell=")[1].split("/")[0] for f in files}) > 16
    got = _rows(AI.index_probe_exact(spark, corpus, nprobe=2, idx_dir=idx))
    # expected via the trusted on-the-fly kernels over the same cents
    import math

    from environmental_stac_generator_spark.functions.rounding import rnd
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    pv = [float(v) for v in rows[0].embedding]
    p_norm = math.sqrt(S._py_dot(pv, pv))
    top = S._ivf_top_cells_py(pv, cents, 2)
    cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
        F.col("_norm") * F.lit(p_norm)
    )
    want = _rows(
        S._ivf_cells_of(e, cents)
        .filter(F.col("cell").isin(top) & (F.col("vec_id") != 0))
        .select("vec_id", rnd(cos, 5).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )
    assert got == want


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    """The foreachBatch ingest sink: an index seeded from the base
    corpus and fed three streamed micro-batches must probe identically
    to a one-shot batch build over the full corpus; replayed batch ids
    must be skipped (idempotency)."""
    base_ids, stream_ids = range(0, 80), range(1000, 1060)
    base = _synth_embeddings(spark, base_ids)
    full_corpus = str(tmp_path / "full")
    base.unionByName(_synth_embeddings(spark, stream_ids, shift=5)).coalesce(
        1
    ).write.parquet(f"{full_corpus}/embeddings.parquet")
    corpus_a = str(tmp_path / "a")
    base.coalesce(1).write.parquet(f"{corpus_a}/embeddings.parquet")
    idx = str(tmp_path / "idx_stream")
    assert AI.build_ann_index(spark, corpus_a, idx) is not None
    # three parquet files -> three micro-batches via maxFilesPerTrigger
    src = tmp_path / "src"
    for i, lo in enumerate(range(1000, 1060, 20)):
        _synth_embeddings(spark, range(lo, lo + 20), shift=5).coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(AI.ann_index_stream_writer(idx))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_after = spark.read.parquet(idx).count()
    assert n_after == 80 + 60
    # replaying an applied batch id is a no-op
    AI.ann_index_stream_writer(idx)(
        _synth_embeddings(spark, range(1000, 1020), shift=5), 0
    )
    assert spark.read.parquet(idx).count() == n_after
    # streamed index == one-shot build over the full corpus, probe-wise
    idx_full = str(tmp_path / "idx_full")
    assert AI.build_ann_index(spark, full_corpus, idx_full) is not None
    for nprobe in (1, 4):
        assert _rows(
            AI.index_probe_exact(spark, full_corpus, nprobe=nprobe, idx_dir=idx)
        ) == _rows(
            AI.index_probe_exact(
                spark, full_corpus, nprobe=nprobe, idx_dir=idx_full
            )
        )
    assert _rows(AI.index_probe_adc(spark, full_corpus, idx_dir=idx)) == _rows(
        AI.index_probe_adc(spark, full_corpus, idx_dir=idx_full)
    )


def test_trained_coarse_quantizer(spark, tmp_path):
    """Spherical-k-means coarse cells (training under COSINE, the
    metric `_ivf_cells_of` routes by — L2 Lloyd optimizes the wrong
    objective here): deterministic (two trainings identical), auto-K
    ~ sqrt(sample), plugs into build_ann_index, and the trained
    quantizer's inverted lists are at least as flat as the arbitrary
    bootstrap rows' (max/mean — the probe-latency tail at scale).
    All inputs and the trainer are deterministic, so the compared
    numbers are exact, not flaky."""
    corpus = str(tmp_path / "spread")
    _synth_embeddings(spark, range(0, 200)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    t1 = AI.train_coarse_centroids(e, k=16)
    t2 = AI.train_coarse_centroids(e, k=16)
    assert t1 == t2, "training must be deterministic"
    auto = AI.train_coarse_centroids(e)
    assert len(auto) == 14  # isqrt(200)
    boot_idx = str(tmp_path / "boot")
    tr_idx = str(tmp_path / "trained")
    assert AI.build_ann_index(spark, corpus, boot_idx) is not None
    assert AI.build_ann_index(spark, corpus, tr_idx, cents=t1) is not None
    boot = AI.cell_balance(spark, boot_idx)
    trained = AI.cell_balance(spark, tr_idx)
    assert trained["cells"] == boot["cells"] == 16
    assert trained["max_over_mean"] <= boot["max_over_mean"], (boot, trained)


def test_residual_kernels_row_identical(spark, tmp_path):
    """The shared residual kernel's broadcast-array path (the
    K-agnostic form a trained K~sqrt(N) quantizer needs — splicing
    K*dim literals into the plan would blow up codegen) must be
    row-identical to the literal-map path at K=16."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    from environmental_stac_generator_spark.tables import load

    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cells = S._ivf_cells_of(e, cents)
    lit = S.residual_of(cells, cents, kernel="literal").select("vec_id", "_res")
    bc = S.residual_of(cells, cents, kernel="bcast").select("vec_id", "_res")
    assert sorted(map(tuple, lit.collect())) == sorted(map(tuple, bc.collect()))


def test_residual_kernel_param_validated():
    """ADVICE r9: kernel must reject unknown values (a typo silently
    selected the broadcast path) and 'literal' must actually force
    the literal map — including refusing K past the codegen cap."""
    cents16 = [AI.CentRow(i, [float(i)] * 64) for i in range(16)]
    cents17 = [AI.CentRow(i, [float(i)] * 64) for i in range(17)]
    with pytest.raises(ValueError, match="kernel"):
        S.residual_of(None, cents16, kernel="broadcast")
    with pytest.raises(ValueError, match="K_LITERAL_MAX"):
        S.residual_of(None, cents17, kernel="literal")


def test_build_with_custom_cents_on_empty_corpus_degrades(spark, tmp_path):
    """Custom cents must not bypass the degrade-to-empty contract: a
    build over an empty corpus returns None instead of writing a
    data-less dataset that crashes every later read."""
    corpus = str(tmp_path / "empty")
    _synth_embeddings(spark, range(0, 0)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    cents = [AI.CentRow(i, [float(i)] * 64) for i in range(4)]
    assert AI.build_ann_index(spark, corpus, str(tmp_path / "i"), cents=cents) is None


def test_trainer_stops_on_duplicate_directions(spark, tmp_path):
    """A near-duplicate sample has fewer distinct directions than k:
    the farthest-point init must stop rather than emit duplicate
    centroids whose cells would be permanently empty."""
    corpus = str(tmp_path / "dups")
    clones = _synth_embeddings(spark, range(0, 40)).withColumn(
        "embedding", F.expr("transform(sequence(1, 64), i -> 0.5d)")
    )
    clones.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    from environmental_stac_generator_spark.tables import load

    t = AI.train_coarse_centroids(load(spark, corpus, "embeddings"), k=8)
    assert len(t) == 1  # one direction in the sample -> one centroid


def test_index_rebuilds_on_corpus_change(spark, tmp_path):
    src = spark.range(0, 80).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(hash(id, i) % 1000 as float)"
            " / 1000.0f)"
        ).alias("embedding"),
    )
    corpus = str(tmp_path / "corpus")
    src.coalesce(1).write.parquet(f"{corpus}/embeddings.parquet")
    first = _rows(AI.index_probe_exact(spark, corpus, nprobe=1))
    assert first
    # overwrite with a SHIFTED corpus: the fingerprint must miss and
    # the rebuilt index must reflect the new vectors
    shifted = spark.range(0, 80).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(hash(id + 7, i) % 1000 "
            "as float) / 1000.0f)"
        ).alias("embedding"),
    )
    shifted.coalesce(1).write.mode("overwrite").parquet(
        f"{corpus}/embeddings.parquet"
    )
    second = _rows(AI.index_probe_exact(spark, corpus, nprobe=1))
    assert second and second != first
    # and the fresh index agrees with the on-the-fly kernel on the
    # fresh corpus
    assert second == _rows(REG["ivf_ann_probe"].fn(spark, corpus))


class _CrashAt:
    """os.replace wrapper raising at the Nth call — the fault
    injector for the ingest crash-window tests (the ingest path's
    call order is pinned: 1 = the ledger commit, 2 = first staged
    move, ...)."""

    def __init__(self, real, n):
        self.real, self.n, self.count = real, n, 0

    def __call__(self, *a, **k):
        self.count += 1
        if self.count == self.n:
            raise RuntimeError("injected crash")
        return self.real(*a, **k)


class _CrashAtSite:
    """os.replace wrapper raising at the Nth call whose DESTINATION
    matches a semantic commit site — the compaction fault injector.
    Classifying by path instead of global call count keeps the sweep
    pinned to the commit protocol's sites (pending-manifest commit,
    add-move, epoch-history write, _current.json swap) no matter how
    many cells the run touches (r15: the single-epoch commit made
    the add-move count data-dependent). The lease heartbeat is NOT a
    site: it is advisory metadata on os.rename, fault-injected by
    the dedicated lease tests."""

    SITES = ("pending", "move", "history", "swap")

    def __init__(self, real, site, nth=1):
        self.real, self.site, self.nth, self.count = real, site, nth, 0

    @staticmethod
    def classify(dst) -> str:
        p = AI.Path(dst)
        if p.name == AI.PENDING_NAME:
            return "pending"
        if p.name == AI.CURRENT_NAME:
            return "swap"
        if p.parent.name == AI.EPOCHS_DIR:
            return "history"
        if p.parent.name.startswith("cell=") and p.name.startswith(
            "compact-"
        ):
            return "move"
        return "other"

    def __call__(self, src, dst, *a, **k):
        if self.classify(dst) == self.site:
            self.count += 1
            if self.count == self.nth:
                raise RuntimeError("injected crash")
        return self.real(src, dst, *a, **k)


def _ingest_crash_roundtrip(spark, tmp_path, monkeypatch, crash_at):
    """Shared body: seed an index, crash the stream writer at the
    given os.replace call (1 = the ledger commit point itself,
    2 = first file move after commit, 3 = mid-/post-move), then
    replay the SAME batch id and assert exactly-once landing."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    batch = _synth_embeddings(spark, range(1000, 1030), shift=3)
    w = AI.ann_index_stream_writer(idx)
    crash = _CrashAt(AI.os.replace, crash_at)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        w(batch, 7)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    # the crashed batch either never became visible (pre-commit) or
    # is recoverable (post-commit) — never partially double-visible
    # after replay:
    AI.ann_index_stream_writer(idx)(batch, 7)
    assert spark.read.parquet(idx).count() == 80 + 30
    ids = [
        r["vec_id"]
        for r in spark.read.parquet(idx)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    ]
    assert ids == [], f"duplicated vec_ids after replay: {ids}"
    # replaying again is a committed no-op
    AI.ann_index_stream_writer(idx)(batch, 7)
    assert spark.read.parquet(idx).count() == 80 + 30


@pytest.mark.parametrize("crash_at", [1, 2, 3])
def test_stream_writer_crash_windows_land_exactly_once(
    spark, tmp_path, monkeypatch, crash_at
):
    """VERDICT r9 #5: the r9 sink documented a crash window between
    parquet append and ledger record that duplicated the batch on
    replay. The staged two-phase commit closes it — a crash at the
    ledger commit point, at the first post-commit file move, or
    mid-move must all land the batch exactly once after replay."""
    _ingest_crash_roundtrip(spark, tmp_path, monkeypatch, crash_at)


def test_stream_writer_reads_pre_r10_ledger(spark, tmp_path):
    """The pre-r10 ledger was a bare list of committed ids; the 2PC
    writer must still honor it (skip committed, append new)."""
    import json as _json
    from pathlib import Path as _P

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    (_P(idx) / "_ann_batches.json").write_text(_json.dumps([0, 1]))
    w = AI.ann_index_stream_writer(idx)
    w(_synth_embeddings(spark, range(1000, 1010), shift=3), 0)  # committed
    assert spark.read.parquet(idx).count() == 80
    w(_synth_embeddings(spark, range(1000, 1010), shift=3), 2)  # new
    assert spark.read.parquet(idx).count() == 90


def test_compact_restores_probe_numfiles(spark, tmp_path):
    """VERDICT r9 #4: append growth is unbounded in files-per-cell;
    after N appends + compact, the probe's EXECUTED numFiles must
    return to ~nprobe, with bit-identical probe results and an
    untouched quantizer."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    meta_before = (AI.Path(idx) / AI.META_NAME).read_text()
    w = AI.ann_index_stream_writer(idx)
    for i in range(3):
        w(_synth_embeddings(spark, range(1000 + 40 * i, 1040 + 40 * i), shift=3), i)
    inflated = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )[0]["num_files"]
    assert inflated > S.NPROBE, "appends should inflate files-per-cell"
    before_exact = _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    before_adc = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    n_rows = spark.read.parquet(idx).count()
    out = AI.compact_ann_index(spark, idx)
    assert out["cells_compacted"] > 0
    assert (AI.Path(idx) / AI.META_NAME).read_text() == meta_before
    assert spark.read.parquet(idx).count() == n_rows
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans
    assert _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)) == before_exact
    assert _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)) == before_adc
    # idempotent: a second pass finds nothing over-threshold
    assert AI.compact_ann_index(spark, idx)["cells_compacted"] == 0


def test_compact_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """A compaction interrupted between its manifest commit and the
    apply must complete (roll forward) on the next call with no row
    loss or duplication."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    w = AI.ann_index_stream_writer(idx)
    for i in range(2):
        w(_synth_embeddings(spark, range(1000 + 40 * i, 1040 + 40 * i), shift=3), i)
    n_rows = spark.read.parquet(idx).count()
    before = _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    # crash at the first add-move: the single pending manifest is
    # committed, the apply is interrupted
    crash = _CrashAtSite(AI.os.replace, "move", 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    assert (AI.Path(idx) / "_ann_compaction.json").exists()
    AI.compact_ann_index(spark, idx)
    assert not (AI.Path(idx) / "_ann_compaction.json").exists()
    assert spark.read.parquet(idx).count() == n_rows
    assert _rows(AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)) == before
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans


def test_compact_refuses_while_ingest_pending_or_staged(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: the single-maintainer contract is now mechanical —
    compaction must refuse while the ingest ledger has pending batches
    or _staging holds batch dirs (an in-flight or crashed-mid-commit
    writer), and run normally once the replay completes."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    batch = _synth_embeddings(spark, range(1000, 1020), shift=3)
    # crash the writer AT the atomic ledger commit (os.replace call 1
    # is the temp->ledger rename itself): NO pending entry lands, the
    # guard trips on the staged batch dir alone (ADVICE r11 #3)
    crash = _CrashAt(AI.os.replace, 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.ann_index_stream_writer(idx)(batch, 5)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    led = AI.json.loads((AI.Path(idx) / "_ann_batches.json").read_text()) \
        if (AI.Path(idx) / "_ann_batches.json").exists() else {}
    assert not led.get("pending")  # the commit itself was the crash
    with pytest.raises(RuntimeError, match="ingest in progress"):
        AI.compact_ann_index(spark, idx)
    # bare staging garbage (no ledger at all) also refuses
    (AI.Path(idx) / "_ann_batches.json").unlink(missing_ok=True)
    with pytest.raises(RuntimeError, match="ingest in progress"):
        AI.compact_ann_index(spark, idx)
    # replaying the batch completes the commit and clears the guard
    AI.ann_index_stream_writer(idx)(batch, 5)
    assert spark.read.parquet(idx).count() == 80 + 20
    AI.compact_ann_index(spark, idx)  # runs clean now
    assert not (AI.Path(idx) / AI.MAINT_LOCK).exists()  # lock released
    # crash the writer just AFTER the commit (os.replace call 2 = the
    # first staged-file move): a REAL pending ledger entry stays, and
    # the guard must trip on the pending branch with no staging left
    # ambiguity (ADVICE r11 #3 — the branch the old test never hit)
    batch2 = _synth_embeddings(spark, range(2000, 2020), shift=3)
    crash2 = _CrashAt(AI.os.replace, 2)
    monkeypatch.setattr(AI.os, "replace", crash2)
    with pytest.raises(RuntimeError, match="injected"):
        AI.ann_index_stream_writer(idx)(batch2, 6)
    monkeypatch.setattr(AI.os, "replace", crash2.real)
    led = AI.json.loads((AI.Path(idx) / "_ann_batches.json").read_text())
    assert "6" in led["pending"]  # the commit landed before the crash
    with pytest.raises(RuntimeError, match="ingest in progress"):
        AI.compact_ann_index(spark, idx)
    AI.ann_index_stream_writer(idx)(batch2, 6)  # replay rolls forward
    AI.compact_ann_index(spark, idx)  # clean again


def test_maintenance_lock_mutual_exclusion(spark, tmp_path, monkeypatch):
    """ADVICE r11 #1: the check-then-act window is closed by a
    two-sided handshake — the stream writer refuses while the
    maintenance lock exists (including when the lock lands AFTER the
    writer's initial check but before its staging write), a second
    maintainer cannot acquire the held lock, and the lock never
    outlives a compaction (success or refusal)."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    root = AI.Path(idx)
    batch = _synth_embeddings(spark, range(1000, 1020), shift=3)
    # maintainer holds the lock -> writer refuses up front
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    # staleness metadata (VERDICT r12 #4): owner pid/host/acquire time
    # are in the lock body, and refusal messages quote them
    info = AI.lock_info(root, AI.MAINT_LOCK)
    assert info["pid"] == AI.os.getpid()
    assert info["host"] == AI.socket.gethostname()
    AI.datetime.fromisoformat(info["acquired_utc"])  # parses
    with pytest.raises(RuntimeError, match=f"pid {AI.os.getpid()}"):
        AI.ann_index_stream_writer(idx)(batch, 1)
    with pytest.raises(RuntimeError, match="maintenance in progress"):
        AI.ann_index_stream_writer(idx)(batch, 1)
    # a second maintainer cannot acquire it (message quotes the owner)
    with pytest.raises(RuntimeError, match="another maintainer"):
        AI.FileLease(root, AI.MAINT_LOCK).acquire()
    with pytest.raises(RuntimeError, match=f"pid {AI.os.getpid()}"):
        AI.FileLease(root, AI.MAINT_LOCK).acquire()
    lease.release()
    # the TOCTOU interleaving itself: the lock lands AFTER the
    # writer's up-front check — simulate by acquiring it from inside
    # the first post-check filesystem op (the staging-marker mkdir),
    # exactly where a concurrent compactor could slot in. The writer's
    # re-check must abort the batch and remove its marker.
    real_mkdir = AI.Path.mkdir

    def _mkdir_then_lock(self, *a, **k):
        real_mkdir(self, *a, **k)
        # mkdir(parents=True) re-enters for the target after creating
        # the parent — acquire once, not per re-entry
        if (self.name == "1" and self.parent.name == "_staging"
                and not (root / AI.MAINT_LOCK).exists()):
            lease.acquire()

    monkeypatch.setattr(AI.Path, "mkdir", _mkdir_then_lock)
    with pytest.raises(RuntimeError, match="maintenance in progress"):
        AI.ann_index_stream_writer(idx)(batch, 1)
    monkeypatch.setattr(AI.Path, "mkdir", real_mkdir)
    assert not (root / "_staging" / "1").exists()  # marker cleaned up
    lease.release()
    # nothing landed: the aborted batch replays cleanly afterwards
    AI.ann_index_stream_writer(idx)(batch, 1)
    assert spark.read.parquet(idx).count() == 80 + 20
    assert not (root / AI.MAINT_LOCK).exists()
    # a refused compaction (ingest pending) also releases the lock
    (root / "_staging" / "garbage").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="ingest in progress"):
        AI.compact_ann_index(spark, idx)
    assert not (root / AI.MAINT_LOCK).exists()
    AI.shutil.rmtree(root / "_staging")


def test_probe_id_parameter(spark, tmp_path):
    """The recall harness probes many ids against one shared index:
    probe_id must route by THAT vector, exclude THAT id, and match
    the trusted on-the-fly kernel fed the same probe."""
    import math

    from environmental_stac_generator_spark.functions.rounding import rnd
    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    e = load(spark, corpus, "embeddings")
    cents, _cb, _rot = AI.load_meta(idx)
    for pid in (3, 47):
        got = _rows(
            AI.index_probe_exact(spark, corpus, nprobe=2, idx_dir=idx, probe_id=pid)
        )
        pv = [float(v) for v in e.filter(F.col("vec_id") == pid).head().embedding]
        p_norm = math.sqrt(S._py_dot(pv, pv))
        top = S._ivf_top_cells_py(pv, cents, 2)
        cos = F.expr(S._dot_sql("embedding", S._vec_sql(pv))) / (
            F.col("_norm") * F.lit(p_norm)
        )
        want = _rows(
            S._ivf_cells_of(e, cents)
            .filter(F.col("cell").isin(top) & (F.col("vec_id") != pid))
            .select("vec_id", rnd(cos, 5).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(10)
        )
        assert got == want
        assert all(v != pid for v, _ in got)


def test_opq_index_matches_onthefly_composition(spark, tmp_path):
    """An index built with (rotation, rotated-space trained codebook)
    must ADC-rank bit-identically to the on-the-fly OPQ composition
    (rotate residuals, rank per probed cell, re-rank the union) —
    stored codes ARE that kernel, persisted."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 200)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    rot, cb = S.opq_train_rotation(
        resid.select("vec_id", "embedding"), k=64, sample_n=200
    )
    rm = np.asarray(rot)
    assert np.allclose(rm @ rm.T, np.eye(len(rot)), atol=1e-9)
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx, codebook=cb, rotation=rot) == {
        "cells": 16,
        "codes": True,
    }
    got = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    rot_resid = S.rotate_vectors(resid, rot, src="embedding")
    pv = [float(v) for v in e.filter(F.col("vec_id") == 0).head().embedding]
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    out = None
    for cell in S._ivf_top_cells_py(pv, cents, S.NPROBE):
        pres = [
            float(x)
            for x in np.asarray(
                [x - y for x, y in zip(pv, cent_by_id[cell])]
            )
            @ rm
        ]
        rk = S.pq_adc_rank_bcast(
            rot_resid.filter(F.col("cell") == F.lit(cell)), cb, pres
        )
        out = rk if out is None else out.unionByName(rk)
    want = _rows(out.orderBy("adc", "vec_id").limit(10))
    assert got == want


def test_numpy_build_kernel_matches_hof(spark, tmp_path):
    """The Arrow/BLAS build kernel (the trained large-K production
    path — O(K) interpreted HOF per row is the build bottleneck at
    K~sqrt(N)) must produce the same cells and codes as the HOF build
    on a tie-free corpus, with probe parity through both indexes —
    including under an OPQ rotation and a trained K=32/k=64 config."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = AI.train_coarse_centroids(e, k=32, sample_n=300)
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    rot, cb = S.opq_train_rotation(
        resid.select("vec_id", "embedding"), k=64, sample_n=300
    )
    idx_np = str(tmp_path / "np")
    idx_hof = str(tmp_path / "hof")
    assert AI.build_ann_index(
        spark, corpus, idx_np, cents=cents, codebook=cb, rotation=rot,
        kernel="numpy",
    )
    assert AI.build_ann_index(
        spark, corpus, idx_hof, cents=cents, codebook=cb, rotation=rot
    )
    a = {
        int(r.vec_id): (int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(idx_np).select("vec_id", "cell", "codes").collect()
    }
    b = {
        int(r.vec_id): (int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(idx_hof).select("vec_id", "cell", "codes").collect()
    }
    assert a == b
    # stored norms agree to float tolerance (expansion vs sequential
    # sum) and probes agree after the rnd(5) rounding both apply
    na = {int(r.vec_id): r.norm for r in spark.read.parquet(idx_np).collect()}
    nb = {int(r.vec_id): r.norm for r in spark.read.parquet(idx_hof).collect()}
    assert all(abs(na[k] - nb[k]) < 1e-9 for k in na)
    for probe in (AI.index_probe_exact, AI.index_probe_adc):
        assert _rows(probe(spark, corpus, nprobe=S.NPROBE, idx_dir=idx_np)) == _rows(
            probe(spark, corpus, nprobe=S.NPROBE, idx_dir=idx_hof)
        )


def test_build_kernel_param_validated(spark, tmp_path):
    with pytest.raises(ValueError, match="kernel"):
        AI.build_ann_index(spark, str(tmp_path), str(tmp_path / "i"), kernel="blas")


def test_adc_probe_bcast_tables_match_literal_form(spark, tmp_path):
    """Past K_LITERAL_MAX codebook entries the ADC probe carries its
    per-cell distance tables as ONE broadcast row instead of ~PQ_M·k·
    nprobe spliced literals (measured 16x warm-probe win at k=256).
    Values must be identical to the on-the-fly broadcast-kernel
    composition — same driver doubles, same rounding — and the scan
    must stay codes-only and partition-pruned."""
    import numpy as np

    from environmental_stac_generator_spark.tables import load

    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    e = load(spark, corpus, "embeddings")
    cents = sorted(
        e.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    resid = S.residual_of(S._ivf_cells_of(e, cents), cents, out="embedding")
    cb = S.pq_train_codebook(resid.select("vec_id", "embedding"), k=64)
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx, codebook=cb, kernel="numpy")
    got = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
    # expected: the on-the-fly composition through pq_adc_rank_bcast
    pv = [float(v) for v in e.filter(F.col("vec_id") == 0).head().embedding]
    cent_by_id = {int(r.vec_id): [float(v) for v in r.embedding] for r in cents}
    out = None
    for cell in S._ivf_top_cells_py(pv, cents, S.NPROBE):
        pres = [float(x) - y for x, y in zip(pv, cent_by_id[cell])]
        rk = S.pq_adc_rank_bcast(
            resid.filter(F.col("cell") == F.lit(cell)), cb, pres
        )
        out = rk if out is None else out.unionByName(rk)
    want = _rows(out.orderBy("adc", "vec_id").limit(10))
    assert got == want
    scans = AI.executed_scan_metrics(
        AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert len(scans) == 1
    assert scans[0]["num_files"] == S.NPROBE
    read_schema = scans[0]["scan"].split("ReadSchema:")[1]
    assert "codes" in read_schema and "embedding" not in read_schema


def test_adc_probe_via_catalog_relation(spark, tmp_path):
    """`relation=` substitutes a registered catalog table for the
    path read (production: the metastore lists only the pruned
    partitions instead of all K dirs). Results must be identical and
    the executed scan still pruned."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 300)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    tbl = "ann_idx_reltest"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{idx}'")
        spark.catalog.recoverPartitions(tbl)
        via_path = _rows(AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx))
        df = AI.index_probe_adc(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx,
            relation=spark.table(tbl),
        )
        assert _rows(df) == via_path
        scans = AI.executed_scan_metrics(
            AI.index_probe_adc(
                spark, corpus, nprobe=S.NPROBE, idx_dir=idx,
                relation=spark.table(tbl),
            )
        )
        assert scans[0]["num_files"] == S.NPROBE, scans
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------------------
# Epoch manifest: reader snapshot isolation (VERDICT r12 #1)


def _manifest_reader_rows(spark, idx):
    """Rows as the snapshot-isolated reader resolves them — the
    manifest route every probe takes."""
    return sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in AI._read_index(spark, idx).select("vec_id", "cell").collect()
    )


def _seeded_multi_file_index(spark, tmp_path):
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    w = AI.ann_index_stream_writer(idx)
    for i in range(2):
        w(_synth_embeddings(spark, range(1000 + 40 * i, 1040 + 40 * i), shift=3), i)
    return corpus, idx


def test_epoch_manifest_written_and_resolves_exact_files(spark, tmp_path):
    """Build/append/stream-commit each commit an epoch; the manifest
    names exactly the live data files, and the cells= resolution reads
    ONLY the probed cell's files (zero extra relation files — the
    listing-free probe route)."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    cur = AI._load_current(root)
    assert cur is not None and cur["epoch"] >= 3  # build + 2 batches
    # manifest == disk listing (quiescent index)
    assert cur["files"] == AI._listing_manifest(root)
    for cell_dir, names in cur["files"].items():
        cid = int(cell_dir.split("=")[1])
        rel_files = AI._read_index(spark, idx, cells=[cid]).inputFiles()
        assert len(rel_files) == len(names)
        assert all(f"/{cell_dir}/" in f for f in rel_files)


def test_reader_snapshot_isolation_mid_compaction_apply(
    spark, tmp_path, monkeypatch
):
    """THE r13 contract: a reader resolving at any crash point of a
    compaction apply sees exactly one copy of every row. Fault points:
    (a) at the first add-move — the manifest still names the old
    files, all on disk; (b) immediately AFTER the epoch swap, before
    any physical delete — the manifest names the compacted adds while
    the doomed old files are still on disk (the r12 double-count
    window; the manifest is what closes it)."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    assert len(expected) == 200 == len({v for v, _ in expected})

    # (a) crash at the first add-move (the pending manifest is
    # committed; the manifest still names the old files, all on disk)
    crash = _CrashAtSite(AI.os.replace, "move", 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    # owner "died"; operator recovery
    (root / AI.MAINT_LOCK).unlink(missing_ok=True)
    assert _manifest_reader_rows(spark, idx) == expected
    assert (root / "_ann_compaction.json").exists()

    # (b) crash immediately after the epoch swap, before deletes
    real_commit = AI._commit_current
    calls = {"n": 0}

    def _commit_then_crash(r, files, retired=None):
        real_commit(r, files, retired=retired)
        calls["n"] += 1
        raise RuntimeError("injected post-swap crash")

    monkeypatch.setattr(AI, "_commit_current", _commit_then_crash)
    with pytest.raises(RuntimeError, match="post-swap"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    (root / AI.MAINT_LOCK).unlink(missing_ok=True)
    assert calls["n"] == 1
    # the compacted cell's adds are live, its doomed files still on
    # disk — the manifest must hide them: exactly one copy of each row
    assert _manifest_reader_rows(spark, idx) == expected
    listing_rows = spark.read.parquet(idx).count()
    assert listing_rows > len(expected), "double-copy state must exist on disk"

    # roll forward to completion: same rows, pruned probe restored
    AI.compact_ann_index(spark, idx)
    assert _manifest_reader_rows(spark, idx) == expected
    assert not (root / "_ann_compaction.json").exists()
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans


def test_stream_batch_visible_only_at_manifest_commit(
    spark, tmp_path, monkeypatch
):
    """The 2PC sink's reader-visibility point is the epoch-manifest
    commit: a batch whose files are fully moved but whose manifest
    commit crashed is INVISIBLE to manifest readers (and lands exactly
    once after replay)."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    before = _manifest_reader_rows(spark, idx)
    batch = _synth_embeddings(spark, range(1000, 1030), shift=3)

    real_commit = AI._commit_current

    def _crash_commit(r, files, retired=None):
        raise RuntimeError("injected pre-commit crash")

    monkeypatch.setattr(AI, "_commit_current", _crash_commit)
    with pytest.raises(RuntimeError, match="pre-commit"):
        AI.ann_index_stream_writer(idx)(batch, 3)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    # files are on disk, ledger still pending — manifest readers see
    # the pre-batch snapshot
    assert spark.read.parquet(idx).count() == 110
    assert _manifest_reader_rows(spark, idx) == before
    # replay finalizes: visible exactly once
    AI.ann_index_stream_writer(idx)(batch, 3)
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == 110 == len({v for v, _ in after})


def test_append_refuses_under_maintenance_lock(spark, tmp_path):
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    lease = AI.FileLease(AI.Path(idx), AI.MAINT_LOCK).acquire()
    try:
        with pytest.raises(RuntimeError, match="maintenance in progress"):
            AI.append_ann_index(
                spark, _synth_embeddings(spark, range(1000, 1010), shift=3), idx
            )
    finally:
        lease.release()


def test_release_stale_maintenance_lock_contract(tmp_path):
    """The staleness recovery contract (VERDICT r12 #4): refuse while
    the recorded owner is alive; release on a provably dead pid, an
    exceeded age bound, or an explicit force; a metadata-less lock
    needs force."""
    import json as _json
    import subprocess

    root = AI.Path(tmp_path)
    # live owner (this process): refuse
    AI.FileLease(root, AI.MAINT_LOCK).acquire()
    with pytest.raises(RuntimeError, match="not provably dead"):
        AI.release_stale_lock(root, AI.MAINT_LOCK)
    assert (root / AI.MAINT_LOCK).exists()
    # dead pid on this host: release
    p = subprocess.Popen(["true"])
    p.wait()
    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({
            "pid": p.pid,
            "host": AI.socket.gethostname(),
            "acquired_utc": "2026-08-16T00:00:00+00:00",
        })
    )
    info = AI.release_stale_lock(root, AI.MAINT_LOCK)
    assert info["pid"] == p.pid
    assert not (root / AI.MAINT_LOCK).exists()
    # other-host lock: pid liveness unverifiable -> age bound decides
    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({
            "pid": 1,
            "host": "some-other-host",
            "acquired_utc": "2020-01-01T00:00:00+00:00",
        })
    )
    with pytest.raises(RuntimeError, match="not provably dead"):
        AI.release_stale_lock(root, AI.MAINT_LOCK)
    AI.release_stale_lock(root, AI.MAINT_LOCK, max_age_sec=3600)
    assert not (root / AI.MAINT_LOCK).exists()
    # metadata-less (pre-r13 / mid-acquire) lock: force required
    (root / AI.MAINT_LOCK).touch()
    with pytest.raises(RuntimeError, match="not provably dead"):
        AI.release_stale_lock(root, AI.MAINT_LOCK)
    AI.release_stale_lock(root, AI.MAINT_LOCK, force=True)
    assert not (root / AI.MAINT_LOCK).exists()
    # no lock at all: distinct error
    with pytest.raises(RuntimeError, match="no _maintenance.lock"):
        AI.release_stale_lock(root, AI.MAINT_LOCK)


def test_vacuum_grace_compaction_lifecycle(spark, tmp_path):
    """Grace-period compaction (the vacuum knob): replaced files are
    RETIRED — on disk, dead to every manifest reader — until
    vacuum_ann_index reclaims those past the epoch horizon. A
    walk-derived epoch rebuild (append) must never resurrect retired
    files, and a second compaction must fold in live files only."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)

    out = AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert out["cells_compacted"] > 0
    cur = AI._load_current(root)
    n_retired = sum(len(e["files"]) for e in cur.get("retired", []))
    assert n_retired > 0
    # retired files are physically present but invisible to readers
    on_disk = sum(len(_f) for _f in (
        AI._part_files(d) for d in root.glob("cell=*")
    ))
    n_live = sum(len(v) for v in cur["files"].values())
    assert on_disk == n_live + n_retired
    assert _manifest_reader_rows(spark, idx) == expected
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, scans

    # a walk-derived rebuild (append commits a fresh epoch from the
    # directory listing) must exclude retired files and carry the
    # retired ledger forward
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(3000, 3040), shift=3), idx
    )
    after_append = _manifest_reader_rows(spark, idx)
    assert len(after_append) == len(expected) + 40
    assert len({v for v, _ in after_append}) == len(after_append)
    cur2 = AI._load_current(root)
    assert sum(len(e["files"]) for e in cur2.get("retired", [])) == n_retired

    # second grace compaction folds LIVE files only — still exactly
    # one copy of every row, retired ledger grows
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _manifest_reader_rows(spark, idx) == after_append
    cur3 = AI._load_current(root)
    n_retired3 = sum(len(e["files"]) for e in cur3.get("retired", []))
    assert n_retired3 > n_retired

    # horizon: keep_epochs past every retirement removes nothing
    assert AI.vacuum_ann_index(idx, keep_epochs=10_000) == {
        "files_removed": 0,
        "entries_kept": len(cur3["retired"]),
    }
    # keep_epochs=0 reclaims everything retired; disk == manifest
    out = AI.vacuum_ann_index(idx, keep_epochs=0)
    assert out["files_removed"] == n_retired3
    assert out["entries_kept"] == 0
    cur4 = AI._load_current(root)
    assert not cur4.get("retired")
    on_disk = {
        f"{d.name}/{f.name}"
        for d in root.glob("cell=*")
        for f in AI._part_files(d)
    }
    in_manifest = {
        f"{cell}/{n}" for cell, v in cur4["files"].items() for n in v
    }
    assert on_disk == in_manifest
    assert _manifest_reader_rows(spark, idx) == after_append

    # vacuum is a maintenance op: it refuses while another maintainer
    # holds the lock
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    try:
        with pytest.raises(RuntimeError, match="another maintainer"):
            AI.vacuum_ann_index(idx)
    finally:
        lease.release()


@pytest.mark.parametrize(
    "site,nth",
    [
        ("pending", 1),   # the single pending-manifest commit itself
        ("move", 1),      # first add-move of the apply
        ("move", 2),      # mid-move
        ("move", 3),      # later move (another cell's add)
        ("history", 1),   # the one epoch-history write
        ("swap", 1),      # the one _current.json visibility swap
        ("none", 1),      # no crash: the completed run, same asserts
    ],
)
def test_compaction_crash_sweep_exactly_once(
    spark, tmp_path, monkeypatch, site, nth
):
    """Systematic fault injection at every semantic os.replace site of
    the SINGLE-EPOCH commit protocol (r15: one pending manifest naming
    every cell's adds/deletes, all moves, ONE history write, ONE
    _current.json swap — sites classified by destination path, so the
    sweep is invariant to how many cells a run touches): a compaction
    crashed at each site must leave a manifest reader seeing exactly
    one copy of every row, and roll forward to a clean pruned index on
    the next call. The CATALOG route is swept too (VERDICT r13 #1): a
    view registered at each crash point resolves the same exactly-once
    snapshot through spark.table. The lease heartbeat is not a site —
    it is advisory metadata (os.rename), covered by the lease tests."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    crash = _CrashAtSite(AI.os.replace, site, nth)
    monkeypatch.setattr(AI.os, "replace", crash)
    try:
        AI.compact_ann_index(spark, idx)
        assert site == "none", f"expected a crash at {site}/{nth}"
    except RuntimeError as exc:
        assert "injected" in str(exc)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    if (root / AI.MAINT_LOCK).exists():  # only on a non-finally death
        AI.release_stale_lock(root, AI.MAINT_LOCK, force=True)
    assert _manifest_reader_rows(spark, idx) == expected, (site, nth)
    AI.register_index_view(spark, idx, "sweep_view")
    assert sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.table("sweep_view").select("vec_id", "cell").collect()
    ) == expected, (site, nth)
    AI.drop_index_view(spark, "sweep_view")
    AI.compact_ann_index(spark, idx)  # roll forward / finish
    assert _manifest_reader_rows(spark, idx) == expected, (site, nth)
    assert not (root / AI.PENDING_NAME).exists()
    scans = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert scans[0]["num_files"] == S.NPROBE, (site, nth, scans)


def test_time_travel_read_epochs(spark, tmp_path):
    """read_index_at: every committed epoch is a reproducible
    snapshot for as long as the vacuum horizon retains its files —
    build (epoch 1), append (epoch 2), grace-compact: each epoch
    replays its exact rows; vacuum then makes the pre-compaction
    epochs fail LOUDLY (FileNotFoundError naming vacuumed files)
    instead of silently reading a different corpus."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    assert AI.index_epochs(idx) == [1]
    rows_e1 = sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    )
    assert len(rows_e1) == 120
    AI.ann_index_stream_writer(idx)(
        _synth_embeddings(spark, range(1000, 1040), shift=3), 0
    )
    assert AI.index_epochs(idx) == [1, 2]
    # epoch 1 still replays the PRE-append corpus exactly
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    ) == rows_e1
    rows_e2 = sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 2).select("vec_id").collect()
    )
    assert len(rows_e2) == 160
    # grace compaction: every epoch (old file sets retired, on disk)
    # remains readable, and all contain the same 160 rows post-append
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    epochs = AI.index_epochs(idx)
    assert epochs[-1] == int(AI._load_current(AI.Path(idx))["epoch"])
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 1).select("vec_id").collect()
    ) == rows_e1
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, 2).select("vec_id").collect()
    ) == rows_e2
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, epochs[-1])
        .select("vec_id").collect()
    ) == rows_e2
    # vacuum reclaims the retired files: old epochs now fail loudly,
    # the current epoch stays readable
    AI.vacuum_ann_index(idx, keep_epochs=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        AI.read_index_at(spark, idx, 1)
    cur_epoch = int(AI._load_current(AI.Path(idx))["epoch"])
    assert sorted(
        int(r["vec_id"])
        for r in AI.read_index_at(spark, idx, cur_epoch)
        .select("vec_id").collect()
    ) == rows_e2
    # a never-committed epoch is a distinct, loud error
    with pytest.raises(ValueError, match="never committed"):
        AI.read_index_at(spark, idx, 99999)


def test_pre_epoch_index_still_probes(spark, tmp_path):
    """Backward compat: an index on disk WITHOUT _current.json (built
    before the epoch manifest existed) falls back to the directory
    read with identical probe results."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 120)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    with_manifest = _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    (AI.Path(idx) / AI.CURRENT_NAME).unlink()
    AI.shutil.rmtree(AI.Path(idx) / AI.EPOCHS_DIR)
    assert AI.index_epochs(idx) == []
    assert _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    ) == with_manifest
    assert _rows(
        AI.index_probe_adc(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )  # ADC path also survives the fallback


def test_manifest_resolution_with_empty_probed_cells(spark, tmp_path):
    """cells= pointing only at cells with no files yields the correct
    empty result by planning over ONE manifest file (schema + cell
    partition column intact), NOT by resolving the full live set
    (ADVICE r13 #4 — an empty-cell probe at K~1e5 must not plan over
    the whole index's file list)."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    df = AI._read_index(spark, idx, cells=[987654])
    assert df.count() == 0
    assert len(df.inputFiles()) <= 1  # one schema file, not the index
    for col in ("vec_id", "cell", "codes", "embedding", "norm"):
        assert col in df.columns
    # the probe built on top still returns the correct empty frame
    assert df.filter(AI.F.col("cell").isin([987654])).count() == 0


def _view_rows(spark, name):
    return sorted(
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.table(name).select("vec_id", "cell").collect()
    )


def test_register_index_view_pruning_and_refresh(spark, tmp_path):
    """The manifest-backed catalog route (VERDICT r13 #1):
    register_index_view pins a named relation to the current epoch —
    probes through spark.table(name) return identical rows with the
    identical pruned-scan shape as the path route; the view is a
    SNAPSHOT (an append is invisible until re-registration); and
    epoch= pins a time-travel view."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    cur_epoch = int(AI._load_current(AI.Path(idx))["epoch"])
    assert AI.register_index_view(spark, idx, "annv") == cur_epoch
    rel = spark.table("annv")
    path_rows = _rows(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )
    assert _rows(
        AI.index_probe_exact(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx, relation=rel
        )
    ) == path_rows
    # identical executed pruning: same files read as the manifest route
    n_path = AI.executed_scan_metrics(
        AI.index_probe_exact(spark, corpus, nprobe=S.NPROBE, idx_dir=idx)
    )[0]["num_files"]
    n_view = AI.executed_scan_metrics(
        AI.index_probe_exact(
            spark, corpus, nprobe=S.NPROBE, idx_dir=idx, relation=rel
        )
    )[0]["num_files"]
    assert n_view == n_path
    # snapshot semantics: a commit after registration is invisible
    # until the operator re-registers (the refresh contract)
    before = _view_rows(spark, "annv")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(5000, 5040), shift=3), idx
    )
    assert _view_rows(spark, "annv") == before
    new_epoch = AI.register_index_view(spark, idx, "annv")
    assert new_epoch > cur_epoch
    after = _view_rows(spark, "annv")
    assert len(after) == len(before) + 40
    assert len({v for v, _ in after}) == len(after)
    # explicit epoch= gives a pinned time-travel view
    assert AI.register_index_view(spark, idx, "annv_e1", epoch=1) == 1
    assert len(_view_rows(spark, "annv_e1")) == 120  # the build alone
    spark.catalog.dropTempView("annv")
    spark.catalog.dropTempView("annv_e1")


def test_catalog_view_snapshot_isolation_mid_apply(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #1 closed: the catalog route inherits the epoch
    manifest's snapshot isolation. A view registered mid-apply (post-
    swap crash, the r12 double-count window) sees exactly one copy of
    every row, and a view registered BEFORE the compaction keeps
    reading its own epoch's files through the apply and past
    completion under vacuum grace — until an explicit vacuum."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    AI.register_index_view(spark, idx, "pre_view")  # pre-apply snapshot

    real_commit = AI._commit_current

    def _commit_then_crash(r, files, retired=None):
        real_commit(r, files, retired=retired)
        raise RuntimeError("injected post-swap crash")

    monkeypatch.setattr(AI, "_commit_current", _commit_then_crash)
    with pytest.raises(RuntimeError, match="post-swap"):
        AI.compact_ann_index(spark, idx, vacuum_grace=True)
    monkeypatch.setattr(AI, "_commit_current", real_commit)
    (root / AI.MAINT_LOCK).unlink(missing_ok=True)
    # double-copy state exists on disk; BOTH views must hide it
    assert spark.read.parquet(idx).count() > len(expected)
    AI.register_index_view(spark, idx, "mid_view")
    assert _view_rows(spark, "mid_view") == expected
    assert _view_rows(spark, "pre_view") == expected
    # roll forward to completion: grace retention keeps the pre-apply
    # view's files on disk, so it STILL reads its snapshot
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _view_rows(spark, "pre_view") == expected
    fresh_epoch = AI.register_index_view(spark, idx, "post_view")
    assert _view_rows(spark, "post_view") == expected
    assert fresh_epoch == int(AI._load_current(root)["epoch"])
    for v in ("pre_view", "mid_view", "post_view"):
        spark.catalog.dropTempView(v)


def test_heartbeat_lease_contract(tmp_path):
    """VERDICT r13 #3 + ADVICE r13 #1: max_age_sec is a true LEASE
    measured from the last heartbeat, applied ONLY where liveness is
    unverifiable — a heartbeating owner survives an age-based release
    attempt, a non-heartbeating one is released, and a same-host
    VERIFIED-ALIVE owner is never releasable by age at all."""
    import json as _json
    import time as _time

    root = AI.Path(tmp_path)
    # same-host ALIVE pid: age bound must NOT apply (ADVICE r13 #1)
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    with pytest.raises(RuntimeError, match="VERIFIED ALIVE"):
        AI.release_stale_lock(root, AI.MAINT_LOCK, max_age_sec=0.0)
    assert (root / AI.MAINT_LOCK).exists()
    # the owner's heartbeat refreshes heartbeat_utc, not acquired_utc
    info0 = AI.lock_info(root, AI.MAINT_LOCK)
    _time.sleep(1.1)  # timespec is seconds
    lease.heartbeat()
    info1 = AI.lock_info(root, AI.MAINT_LOCK)
    assert info1["acquired_utc"] == info0["acquired_utc"]
    assert info1["heartbeat_utc"] > info0["heartbeat_utc"]
    lease.release()
    # other-host owner, ancient acquire, FRESH heartbeat: the lease
    # holds — an age-based release attempt must refuse
    now = AI.datetime.now(AI.timezone.utc).isoformat(timespec="seconds")
    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({
            "pid": 1,
            "host": "some-other-host",
            "acquired_utc": "2020-01-01T00:00:00+00:00",
            "heartbeat_utc": now,
        })
    )
    with pytest.raises(RuntimeError, match="not provably dead"):
        AI.release_stale_lock(root, AI.MAINT_LOCK, max_age_sec=3600)
    # same lock, STALE heartbeat: the lease expired — released
    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({
            "pid": 1,
            "host": "some-other-host",
            "acquired_utc": "2020-01-01T00:00:00+00:00",
            "heartbeat_utc": "2020-01-01T01:00:00+00:00",
        })
    )
    info = AI.release_stale_lock(root, AI.MAINT_LOCK, max_age_sec=3600)
    assert info["pid"] == 1
    assert not (root / AI.MAINT_LOCK).exists()


def test_committers_refuse_on_pending_compaction(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 #3: after an operator releases a DEAD compactor's
    lock, the half-applied compaction (committed pending manifest) is
    exactly the state where a committer's walk-derived epoch would
    fold both copies of a row into the live set — append and the
    stream sink must refuse until compact_ann_index replays it."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    # kill the compactor at its first add-move: pending manifest
    # committed, adds partially moved in, lock held by the corpse
    crash = _CrashAtSite(AI.os.replace, "move", 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    # the in-process finally already dropped the lock (a real crash
    # leaves it for release_stale_lock); the half-applied
    # manifest is the state committers must now refuse on
    if (root / AI.MAINT_LOCK).exists():
        AI.release_stale_lock(root, AI.MAINT_LOCK, force=True)
    assert (root / AI.PENDING_NAME).exists()
    batch = _synth_embeddings(spark, range(7000, 7020), shift=3)
    with pytest.raises(RuntimeError, match="compaction manifest is pending"):
        AI.append_ann_index(spark, batch, idx)
    with pytest.raises(RuntimeError, match="compaction manifest is pending"):
        AI.ann_index_stream_writer(idx)(batch, 9)
    assert not (root / "_staging" / "9").exists()  # marker cleaned up
    # the documented recovery order: compact replays under the lock,
    # then ingest resumes — exactly-once throughout
    AI.compact_ann_index(spark, idx)
    assert not (root / AI.PENDING_NAME).exists()
    assert _manifest_reader_rows(spark, idx) == expected
    AI.append_ann_index(spark, batch, idx)
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == len(expected) + 20
    assert len({v for v, _ in after}) == len(after)


def test_vacuum_keep_age_sec_horizon(spark, tmp_path):
    """VERDICT r13 #5: the time-based retention horizon. Retired
    entries younger than keep_age_sec stay; entries whose retire
    epoch's committed_utc stamp is older are reclaimed; BOTH horizons
    must pass (conservative intersection with keep_epochs); a
    pre-r14 epoch without a stamp falls back to its history file's
    mtime."""
    import json as _json

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur = AI._load_current(root)
    n_retired = sum(len(e["files"]) for e in cur.get("retired", []))
    assert n_retired > 0
    # young entries: the age horizon keeps everything even at
    # keep_epochs=0
    out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=86_400)
    assert out == {"files_removed": 0, "entries_kept": len(cur["retired"])}
    # age the retire epochs' commit stamps by editing the history
    # files (the stamp is what the horizon measures)
    for ent in cur["retired"]:
        p = root / AI.EPOCHS_DIR / f"epoch-{int(ent['epoch']):08d}.json"
        man = _json.loads(p.read_text())
        man["committed_utc"] = "2020-01-01T00:00:00+00:00"
        p.write_text(_json.dumps(man))
    # both horizons must pass: an un-passed epoch horizon still keeps
    out = AI.vacuum_ann_index(
        idx, keep_epochs=10_000, keep_age_sec=3600
    )
    assert out["files_removed"] == 0
    # aged past the lease and past the epoch horizon: reclaimed
    out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=3600)
    assert out["files_removed"] == n_retired
    assert out["entries_kept"] == 0
    assert _manifest_reader_rows(spark, idx) == expected
    # pre-r14 fallback: a stamp-less epoch history file's mtime decides
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(8000, 8040), shift=3), idx
    )
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur2 = AI._load_current(root)
    if cur2.get("retired"):
        ent = cur2["retired"][0]
        p = root / AI.EPOCHS_DIR / f"epoch-{int(ent['epoch']):08d}.json"
        man = _json.loads(p.read_text())
        man.pop("committed_utc", None)
        p.write_text(_json.dumps(man))
        AI.os.utime(p, (0, 0))  # epoch mtime: 1970 — ancient
        out = AI.vacuum_ann_index(idx, keep_epochs=0, keep_age_sec=3600)
        assert out["files_removed"] >= len(ent["files"])
    final = _manifest_reader_rows(spark, idx)
    assert len(final) == len(expected) + 40
    assert len({v for v, _ in final}) == len(final)


def test_compaction_commits_one_epoch(spark, tmp_path):
    """VERDICT r14 #1: a multi-cell compaction commits exactly ONE
    epoch (single pending manifest naming every cell's adds/deletes,
    one history write, one swap) — not one per cell. The epoch
    counter advances by 1 and exactly one new history file appears,
    so the per-cell manifest-rewrite cost (0.506 s at 1e5 files per
    SOAK_r14's curve, times K cells) is gone by construction."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    epochs0 = AI.index_epochs(idx)
    res = AI.compact_ann_index(spark, idx)
    assert res["cells_compacted"] > 1, "need a multi-cell run"
    assert res["epochs_committed"] == 1
    assert int(AI._load_current(root)["epoch"]) == e0 + 1
    assert AI.index_epochs(idx) == epochs0 + [e0 + 1]
    assert _manifest_reader_rows(spark, idx) == expected
    # grace mode: also one epoch, and ONE retired-ledger entry
    # covering the whole compaction
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(6000, 6040), shift=3), idx
    )
    e1 = int(AI._load_current(root)["epoch"])
    res = AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert res["epochs_committed"] == 1
    cur = AI._load_current(root)
    assert int(cur["epoch"]) == e1 + 1
    new_entries = [
        ent for ent in cur.get("retired", []) if int(ent["epoch"]) == e1 + 1
    ]
    assert len(new_entries) == 1
    assert len(new_entries[0]["files"]) >= res["cells_compacted"]


def test_lease_heartbeat_covers_batched_rewrite(spark, tmp_path, monkeypatch):
    """ADVICE r14 #1 (the medium): the longest un-checkpointed phase —
    the ONE Spark job rewriting all cells — is now covered by a
    background lease heartbeat, so an age-based release attempt
    DURING a long rewrite finds a fresh heartbeat (and a same-host
    release attempt finds a verified-alive pid) and refuses. Asserted
    from inside a slowed rewrite."""
    import time as _time

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    real_rewrite = AI._rewrite_cells
    seen = {}

    def slow_rewrite(spark_, root_, to_do, tmp_root):
        before = AI.lock_info(root_, AI.MAINT_LOCK)["heartbeat_utc"]
        _time.sleep(1.3)  # heartbeat timespec is seconds
        # mid-rewrite, same-host operator: refused on verified liveness
        with pytest.raises(RuntimeError, match="VERIFIED ALIVE"):
            AI.release_stale_lock(root_, AI.MAINT_LOCK, max_age_sec=0.0)
        info = AI.lock_info(root_, AI.MAINT_LOCK)
        seen["before"], seen["during"] = before, info["heartbeat_utc"]
        # the lease math a CROSS-host operator would apply: the last
        # heartbeat is fresh (age well under any sane max_age_sec),
        # not the job-start stamp — the r14 blind spot closed
        age = (
            AI.datetime.now(AI.timezone.utc)
            - AI.datetime.fromisoformat(info["heartbeat_utc"])
        ).total_seconds()
        seen["age"] = age
        return real_rewrite(spark_, root_, to_do, tmp_root)

    monkeypatch.setattr(AI, "_rewrite_cells", slow_rewrite)
    expected = _manifest_reader_rows(spark, idx)
    res = AI.compact_ann_index(spark, idx, heartbeat_interval_sec=0.05)
    assert res["cells_compacted"] > 0
    assert seen["during"] > seen["before"], seen
    assert seen["age"] < 1.5, seen
    assert _manifest_reader_rows(spark, idx) == expected
    assert not (root / AI.MAINT_LOCK).exists()


def test_compaction_aborts_on_lease_ownership_loss(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 #1 (the split-brain half): if the lease is lost
    mid-rewrite — an operator force-released the lock and a SECOND
    maintainer acquired it — the first compactor must abort BEFORE
    its commit point (zero pending manifest, zero epoch commits) and
    must NOT release the new owner's lock on the way out."""
    import json as _json

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    expected = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    real_rewrite = AI._rewrite_cells

    def hijacked_rewrite(spark_, root_, to_do, tmp_root):
        real_rewrite(spark_, root_, to_do, tmp_root)
        # operator force-release + a second maintainer's acquire,
        # landing while the first compactor's job was running
        (root_ / AI.MAINT_LOCK).write_text(
            _json.dumps({
                "pid": 1,
                "host": "second-maintainer-host",
                "acquired_utc": "2026-01-01T00:00:00+00:00",
                "heartbeat_utc": "2026-01-01T00:00:00+00:00",
            })
        )

    monkeypatch.setattr(AI, "_rewrite_cells", hijacked_rewrite)
    # raised by the main-thread ownership-verifying heartbeat that
    # opens the commit sequence, or (if a background tick noticed
    # first) by the hb.check() wrapper — both before any commit
    with pytest.raises(
        RuntimeError, match="ownership lost|heartbeat failed"
    ):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI, "_rewrite_cells", real_rewrite)
    # zero commits: no pending manifest, epoch unmoved, rows intact
    assert not (root / AI.PENDING_NAME).exists()
    assert int(AI._load_current(root)["epoch"]) == e0
    assert _manifest_reader_rows(spark, idx) == expected
    # the new owner's lock survived the aborting compactor's finally
    info = AI.lock_info(root, AI.MAINT_LOCK)
    assert info and info["pid"] == 1
    assert info["host"] == "second-maintainer-host"
    # recovery: the (dead) second maintainer's lock is releasable by
    # the lease, and a clean rerun compacts normally
    AI.release_stale_lock(root, AI.MAINT_LOCK, max_age_sec=3600)
    res = AI.compact_ann_index(spark, idx)
    assert res["cells_compacted"] > 0 and res["epochs_committed"] == 1
    assert _manifest_reader_rows(spark, idx) == expected


def test_heartbeat_lock_refuses_without_metadata_or_lock(tmp_path):
    """ADVICE r14 'wrong #2': a heartbeat against a metadata-less lock
    must refuse rather than blind-rewrite it with only heartbeat_utc
    (which would strip release_stale_lock's same-host
    liveness check); a heartbeat against a MISSING lock means the
    lease was lost and must raise too."""
    root = AI.Path(tmp_path)
    lease = AI.FileLease(root, AI.MAINT_LOCK)
    (root / AI.MAINT_LOCK).write_text("")
    with pytest.raises(RuntimeError, match="no owner metadata"):
        lease.heartbeat()
    assert (root / AI.MAINT_LOCK).read_text() == ""  # preserved
    (root / AI.MAINT_LOCK).unlink()
    with pytest.raises(RuntimeError, match="no longer exists"):
        lease.heartbeat()
    # and a lock someone else owns is never heartbeat-rewritten
    import json as _json

    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({"pid": 1, "host": "elsewhere"})
    )
    with pytest.raises(RuntimeError, match="ownership lost"):
        lease.heartbeat()
    assert AI.lock_info(root, AI.MAINT_LOCK)["pid"] == 1
    # release() leaves a foreign lock in place
    lease.release()
    assert (root / AI.MAINT_LOCK).exists()


def test_refresh_index_view_and_auto_refresh(spark, tmp_path):
    """VERDICT r14 #3: refresh_index_view advances a registered view
    to the current epoch in one call; refresh_on_commit=True views
    advance automatically at every epoch commit this process makes
    (append, compaction) while plain views stay pinned; an epoch= pin
    plus auto-refresh is rejected as contradictory."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    e0 = AI.register_index_view(spark, idx, "rv_manual")
    assert AI.register_index_view(
        spark, idx, "rv_auto", refresh_on_commit=True
    ) == e0
    before = _view_rows(spark, "rv_manual")
    assert _view_rows(spark, "rv_auto") == before

    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9000, 9040), shift=3), idx
    )
    # the commit auto-refreshed rv_auto; rv_manual stays its snapshot
    assert _view_rows(spark, "rv_manual") == before
    after = _view_rows(spark, "rv_auto")
    assert len(after) == len(before) + 40
    assert len({v for v, _ in after}) == len(after)
    # one explicit refresh catches rv_manual up
    e1 = AI.refresh_index_view(spark, "rv_manual")
    assert e1 > e0
    assert _view_rows(spark, "rv_manual") == after

    # a grace compaction's single-epoch commit refreshes the auto
    # view too — exactly-once through maintenance
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    assert _view_rows(spark, "rv_auto") == after
    assert _view_rows(spark, "rv_manual") == after  # grace: files kept

    # contradictory pin
    with pytest.raises(ValueError, match="refresh_on_commit"):
        AI.register_index_view(
            spark, idx, "rv_bad", epoch=1, refresh_on_commit=True
        )
    # unknown view
    with pytest.raises(RuntimeError, match="no index view"):
        AI.refresh_index_view(spark, "rv_never_registered")

    # dropping removes the pin: later commits no longer touch it
    AI.drop_index_view(spark, "rv_auto")
    AI.drop_index_view(spark, "rv_manual")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9500, 9510), shift=3), idx
    )
    with pytest.raises(Exception):
        spark.table("rv_auto")


def test_view_pins_are_session_scoped(spark, tmp_path):
    """Temp views are session-scoped, so the refresh pins must be
    too: a same-named view registered on a second SparkSession
    (spark.newSession()) must not clobber the first session's pin —
    each session's view keeps its own snapshot/refresh behavior, and
    dropping from one session leaves the other's pin (and any later
    auto-refresh of it) intact."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    s2 = spark.newSession()
    AI.register_index_view(spark, idx, "rv_scoped", refresh_on_commit=True)
    before = _view_rows(spark, "rv_scoped")
    # same NAME on a second session: a plain snapshot pin — must not
    # overwrite session 1's auto pin
    AI.register_index_view(s2, idx, "rv_scoped")
    assert _view_rows(s2, "rv_scoped") == before

    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9600, 9630), shift=3), idx
    )
    # session 1's auto view advanced; session 2's manual snapshot
    # stays pinned (pre-fix, s2's registration clobbered the pin and
    # rv_scoped on session 1 silently stopped auto-refreshing)
    assert len(_view_rows(spark, "rv_scoped")) == len(before) + 30
    assert _view_rows(s2, "rv_scoped") == before

    # an explicit refresh on session 2 resolves ITS pin
    AI.refresh_index_view(s2, "rv_scoped")
    assert len(_view_rows(s2, "rv_scoped")) == len(before) + 30

    # dropping session 2's view leaves session 1's pin + view alone
    AI.drop_index_view(s2, "rv_scoped")
    with pytest.raises(RuntimeError, match="for this session"):
        AI.refresh_index_view(s2, "rv_scoped")
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9650, 9660), shift=3), idx
    )
    assert len(_view_rows(spark, "rv_scoped")) == len(before) + 40
    AI.drop_index_view(spark, "rv_scoped")


def test_register_index_view_single_manifest_load(spark, tmp_path, monkeypatch):
    """ADVICE r14 #2: the default-epoch registration resolves the
    pinned epoch AND the view's file set from ONE _current.json load,
    so a commit can never land between two reads and return an epoch
    number that mismatches the pinned files."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    real_load = AI._load_current
    calls = {"n": 0}

    def counting_load(root):
        calls["n"] += 1
        return real_load(root)

    monkeypatch.setattr(AI, "_load_current", counting_load)
    pinned = AI.register_index_view(spark, idx, "rv_once")
    monkeypatch.setattr(AI, "_load_current", real_load)
    assert calls["n"] == 1
    assert pinned == int(AI._load_current(AI.Path(idx))["epoch"])
    assert len(_view_rows(spark, "rv_once")) == 200
    AI.drop_index_view(spark, "rv_once")


def test_empty_manifest_resolves_empty_not_retired(spark, tmp_path):
    """ADVICE r14 #3: when the manifest exists but names NO live files
    (everything retired under grace), the index relation must resolve
    EMPTY — a directory-listing fallback would fold the grace-retired
    files still on disk back into the result."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    root = AI.Path(idx)
    cur = AI._load_current(root)
    # retire EVERYTHING: manifest-correct answer is now the empty set,
    # with all data files still physically on disk
    all_files = [
        f"{cell}/{n}" for cell, v in cur["files"].items() for n in v
    ]
    AI._commit_current(
        root,
        {},
        retired=[{"epoch": int(cur["epoch"]) + 1, "files": all_files}],
    )
    assert spark.read.parquet(idx).count() == 80  # retired bytes exist
    assert AI._read_index(spark, idx).count() == 0
    assert AI._read_index(spark, idx, cells=[0, 1, 2]).count() == 0
    epoch = int(AI._load_current(root)["epoch"])
    assert AI.read_index_at(spark, idx, epoch).count() == 0
    # the view route pins the same empty snapshot
    assert AI.register_index_view(spark, idx, "rv_empty") == epoch
    assert spark.table("rv_empty").count() == 0
    AI.drop_index_view(spark, "rv_empty")


def test_vacuum_lease_covers_reclaim_loop(spark, tmp_path, monkeypatch):
    """The reclaim loop (O(retired files) of unlinks — minutes at
    real retention scopes) carries the same background lease refresh
    as compaction's rewrite: during a slowed reclaim the lock's
    heartbeat stays fresh, so an age-based release can never yank a
    live vacuum; and the ledger commit opens with an ownership-
    verifying heartbeat."""
    import time as _time

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    expected = _manifest_reader_rows(spark, idx)
    real_load_epoch = AI._load_epoch
    seen = {}

    def slow_load_epoch(r, epoch):
        # called once per retired entry when keep_age_sec is set —
        # the injection point inside the reclaim loop
        before = AI.lock_info(root, AI.MAINT_LOCK)["heartbeat_utc"]
        _time.sleep(1.3)  # heartbeat timespec is seconds
        info = AI.lock_info(root, AI.MAINT_LOCK)
        seen["before"], seen["during"] = before, info["heartbeat_utc"]
        return real_load_epoch(r, epoch)

    monkeypatch.setattr(AI, "_load_epoch", slow_load_epoch)
    out = AI.vacuum_ann_index(
        idx, keep_epochs=0, keep_age_sec=0.0, heartbeat_interval_sec=0.05
    )
    monkeypatch.setattr(AI, "_load_epoch", real_load_epoch)
    assert out["files_removed"] > 0
    assert seen["during"] > seen["before"], seen
    assert _manifest_reader_rows(spark, idx) == expected
    assert not (root / AI.MAINT_LOCK).exists()


def test_auto_refresh_failure_drops_pin_not_commit(spark, tmp_path):
    """A broken refresh_on_commit pin (a stopped session's stale
    registration) must not poison the commit path: the epoch commit
    is already durable when the hook runs, so the pin is dropped with
    a warning and the commit succeeds."""
    import warnings as _warnings

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    AI.register_index_view(spark, idx, "rv_broken", refresh_on_commit=True)
    # break the pin the way a dead session would: its createOrReplace
    # raises on use
    class _DeadSession:
        def __getattr__(self, item):
            raise RuntimeError("session is stopped")

    # pins hold weakref-shaped callables (r16): substitute one that
    # derefs to the broken session
    dead = _DeadSession()
    AI._VIEW_PINS[(id(spark), "rv_broken")]["spark"] = lambda: dead
    before = _manifest_reader_rows(spark, idx)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        AI.append_ann_index(
            spark, _synth_embeddings(spark, range(9700, 9720), shift=3), idx
        )
    assert any("rv_broken" in str(w.message) for w in caught)
    assert (id(spark), "rv_broken") not in AI._VIEW_PINS  # pin dropped
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == len(before) + 20  # the commit itself landed
    # later commits are clean (no stale pin left behind)
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(9800, 9820), shift=3), idx
    )
    spark.catalog.dropTempView("rv_broken")


def _stage_committed_pending(spark, tmp_path, monkeypatch):
    """Seed an index and crash a compaction at its first add-move,
    leaving a committed pending manifest for replay tests."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    crash = _CrashAtSite(AI.os.replace, "move", 1)
    monkeypatch.setattr(AI.os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI.os, "replace", crash.real)
    assert (root / AI.PENDING_NAME).exists()
    return idx, root


def test_apply_lease_tick_keeps_heartbeat_fresh(spark, tmp_path, monkeypatch):
    """The apply/replay path (moves + O(manifest files) unlinks — the
    same minutes-at-scale class as the rewrite and reclaim loops)
    carries its own lease tick: during a slowed replay the lock's
    heartbeat stays fresh."""
    import time as _time

    idx, root = _stage_committed_pending(spark, tmp_path, monkeypatch)
    expected = _manifest_reader_rows(spark, idx)
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    real_load = AI._load_current
    seen = {}

    def slow_load(r):
        if "during" not in seen:
            before = AI.lock_info(root, AI.MAINT_LOCK)["heartbeat_utc"]
            _time.sleep(1.3)
            seen["before"] = before
            seen["during"] = AI.lock_info(root, AI.MAINT_LOCK)["heartbeat_utc"]
        return real_load(r)

    monkeypatch.setattr(AI, "_load_current", slow_load)
    try:
        AI._apply_compaction(
            lease,
            AI.json.loads((root / AI.PENDING_NAME).read_text()),
            heartbeat_interval_sec=0.05,
        )
    finally:
        monkeypatch.setattr(AI, "_load_current", real_load)
        lease.release()
    assert seen["during"] > seen["before"], seen
    assert _manifest_reader_rows(spark, idx) == expected
    assert not (root / AI.PENDING_NAME).exists()


def test_apply_rolls_forward_despite_lease_loss(spark, tmp_path, monkeypatch):
    """Best-effort semantics past the commit point: a lease lost
    MID-APPLY must not abort the roll-forward — the manifest is
    committed and idempotent, so the apply completes (a racing second
    replayer would recompute the identical state); contrast with the
    pre-commit phases, which abort with zero commits."""
    import json as _json
    import time as _time

    idx, root = _stage_committed_pending(spark, tmp_path, monkeypatch)
    expected = _manifest_reader_rows(spark, idx)
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    real_load = AI._load_current
    hijacked = {}

    def hijack_load(r):
        if not hijacked:
            (root / AI.MAINT_LOCK).write_text(
                _json.dumps({"pid": 1, "host": "other-host"})
            )
            hijacked["done"] = True
            _time.sleep(0.3)  # give the tick a chance to notice
        return real_load(r)

    monkeypatch.setattr(AI, "_load_current", hijack_load)
    try:
        AI._apply_compaction(  # must NOT raise
            lease,
            AI.json.loads((root / AI.PENDING_NAME).read_text()),
            heartbeat_interval_sec=0.05,
        )
    finally:
        monkeypatch.setattr(AI, "_load_current", real_load)
        (root / AI.MAINT_LOCK).unlink(missing_ok=True)
    assert _manifest_reader_rows(spark, idx) == expected
    assert not (root / AI.PENDING_NAME).exists()


# ---- r16: ADVICE closures + view-pin lifecycle ---------------------


def test_epochs_committed_counts_replay(spark, tmp_path, monkeypatch):
    """ADVICE r15 #4: a compact call that first replays a dead
    maintainer's pending manifest commits an epoch for the replay —
    epochs_committed must equal the measured epoch delta, replay
    included, not just the fresh compaction's count."""
    idx, root = _stage_committed_pending(spark, tmp_path, monkeypatch)
    e0 = int(AI._load_current(root)["epoch"])
    res = AI.compact_ann_index(spark, idx)
    e1 = int(AI._load_current(root)["epoch"])
    assert res["epochs_committed"] == e1 - e0
    assert res["epochs_committed"] >= 1  # the replay itself committed


def test_vacuum_tolerates_already_unlinked_retired(spark, tmp_path):
    """ADVICE r15 #5: a retired file already gone (a second
    maintainer's reclaim between any exists-check and the unlink)
    is the outcome vacuum wants — the loop must carry on, counting
    only the files it actually removed."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    AI.compact_ann_index(spark, idx, vacuum_grace=True)
    cur = AI._load_current(root)
    retired = [f for ent in cur.get("retired", []) for f in ent["files"]]
    assert len(retired) >= 2
    (root / retired[0]).unlink()  # simulate the racing reclaim
    res = AI.vacuum_ann_index(idx, keep_epochs=0)
    assert res["files_removed"] == len(retired) - 1
    assert res["entries_kept"] == 0
    assert not AI._load_current(root).get("retired")


def test_empty_manifest_resolves_after_physical_vacuum(spark, tmp_path):
    """ADVICE r15 #2: when the manifest names no live files AND the
    directory holds no parquet files at all (everything physically
    vacuumed), the read must still resolve an EMPTY frame with the
    index's schema (persisted in _ann_meta.json at build) — the
    directory-listing fallback raises schema-inference errors here."""
    corpus = str(tmp_path / "c")
    _synth_embeddings(spark, range(0, 80)).coalesce(1).write.parquet(
        f"{corpus}/embeddings.parquet"
    )
    idx = str(tmp_path / "idx")
    assert AI.build_ann_index(spark, corpus, idx) is not None
    root = AI.Path(idx)
    cur = AI._load_current(root)
    all_files = [
        f"{cell}/{n}" for cell, v in cur["files"].items() for n in v
    ]
    AI._commit_current(
        root,
        {},
        retired=[{"epoch": int(cur["epoch"]) + 1, "files": all_files}],
    )
    AI.vacuum_ann_index(idx, keep_epochs=0)  # physically reclaim all
    assert not list(root.glob("cell=*/*.parquet"))
    for df in (
        AI._read_index(spark, idx),
        AI._read_index(spark, idx, cells=[0, 1, 2]),
    ):
        assert df.count() == 0
        assert df.columns == ["vec_id", "norm", "embedding", "codes", "cell"]


def test_heartbeat_refuses_on_foreign_token(tmp_path):
    """ADVICE r15 #1 (fencing token): a lock naming THIS pid/host but
    carrying a different acquire-generation token — a recycled pid,
    or a force-release + re-acquire — must refuse the heartbeat and
    survive FileLease.release; pre-r16 token-less locks keep the
    pid/host-only contract."""
    import json as _json
    import os as _os
    import socket as _socket

    root = AI.Path(tmp_path)
    body = {
        "pid": _os.getpid(),
        "host": _socket.gethostname(),
        "acquired_utc": "2020-01-01T00:00:00+00:00",
        "heartbeat_utc": "2020-01-01T00:00:00+00:00",
        "token": "not-this-acquires-token",
    }
    lease = AI.FileLease(root, AI.MAINT_LOCK)
    (root / AI.MAINT_LOCK).write_text(_json.dumps(body))
    with pytest.raises(RuntimeError, match="token"):
        lease.heartbeat()
    lease.release()  # foreign token: left in place
    assert (root / AI.MAINT_LOCK).exists()
    # token-less (pre-r16) lock: pid/host contract still applies
    del body["token"]
    (root / AI.MAINT_LOCK).write_text(_json.dumps(body))
    lease.heartbeat()  # must not raise
    lease.release()
    assert not (root / AI.MAINT_LOCK).exists()


def test_acquire_release_roundtrips_token(tmp_path):
    """The normal lifecycle: acquire writes the fencing token, the
    heartbeat verifies it, the owned release removes the lock and
    forgets the token."""
    root = AI.Path(tmp_path)
    lease = AI.FileLease(root, AI.MAINT_LOCK).acquire()
    assert AI.lock_info(root, AI.MAINT_LOCK)["token"] == lease.token
    lease.heartbeat()  # token matches: refresh succeeds
    lease.release()
    assert not (root / AI.MAINT_LOCK).exists()


def test_view_pin_dropped_when_session_collected(spark, tmp_path):
    """VERDICT r15 #4: a session that dies without drop_index_view
    must not pin itself (or its refresh bookkeeping) into the
    process-global registries forever — the weakref.finalize pops the
    pin at collection, and the next commit's auto-refresh skips it
    without warning noise."""
    import gc
    import warnings as _warnings
    import weakref as _weakref

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    s2 = spark.newSession()
    AI.register_index_view(s2, idx, "rv_gc", refresh_on_commit=True)
    key = (id(s2), "rv_gc")
    assert key in AI._VIEW_PINS and key in AI._PIN_FINALIZERS
    # re-pinning must not stack finalizers (one per live pin key)
    fin = AI._PIN_FINALIZERS[key]
    AI.refresh_index_view(s2, "rv_gc")
    assert AI._PIN_FINALIZERS[key] is fin
    ref = _weakref.ref(s2)
    del s2
    # classic PySpark monkey-patches RDD.toDF with a closure over the
    # most recently CONSTRUCTED session, which pins it until the next
    # session construction displaces the patch — make one so the
    # dropped session is actually collectable
    displace = spark.newSession()  # noqa: F841
    gc.collect()
    assert ref() is None, "test session unexpectedly kept alive"
    assert key not in AI._VIEW_PINS
    assert key not in AI._PIN_FINALIZERS
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        AI.append_ann_index(
            spark, _synth_embeddings(spark, range(9900, 9910), shift=3), idx
        )
    assert not [w for w in caught if "rv_gc" in str(w.message)]


def test_drop_index_view_detaches_finalizer(spark, tmp_path):
    """drop_index_view removes pin AND finalizer — session collection
    after an explicit drop has nothing left to clean."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    AI.register_index_view(spark, idx, "rv_detach")
    key = (id(spark), "rv_detach")
    fin = AI._PIN_FINALIZERS[key]
    AI.drop_index_view(spark, "rv_detach")
    assert key not in AI._VIEW_PINS
    assert key not in AI._PIN_FINALIZERS
    assert not fin.alive


# ---- r16: single-appender lease (VERDICT r15 #2) --------------------


def test_append_refuses_while_appender_lease_held(spark, tmp_path):
    """A second appender must refuse while the lease is held — the
    single-writer contract enforced mechanically instead of by
    docstring."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    with AI.FileLease(root, AI.APPEND_LOCK):
        batch = _synth_embeddings(spark, range(5000, 5010), shift=3)
        with pytest.raises(RuntimeError, match="another appender"):
            AI.append_ann_index(spark, batch, idx)
        with pytest.raises(RuntimeError, match="another appender"):
            AI.ann_index_stream_writer(idx)(batch, 41)
    assert not (root / AI.APPEND_LOCK).exists()  # exit released it
    AI.append_ann_index(spark, batch, idx)  # and appends resume


def test_maintenance_refuses_while_appender_lease_held(spark, tmp_path):
    """Maintainer side of the handshake: compaction/vacuum under the
    maintenance lock must refuse while a LIVE appender holds the
    lease (a dead owner's lease is ignored — and reclaimed by the
    next appender)."""
    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    with AI.FileLease(root, AI.APPEND_LOCK):
        with pytest.raises(RuntimeError, match="appender holds"):
            AI.compact_ann_index(spark, idx)
        with pytest.raises(RuntimeError, match="appender holds"):
            AI.vacuum_ann_index(idx)
    assert not (root / AI.MAINT_LOCK).exists()  # aborts released it
    AI.compact_ann_index(spark, idx)  # lease gone: maintenance runs


def test_concurrent_appenders_exactly_one_wins_no_loss(spark, tmp_path):
    """Two appenders racing the same index: one commits, the other
    refuses on the lease; retrying the loser lands its batch too —
    no batch lost, no duplicate ids (the VERDICT r15 #2 done
    clause)."""
    import threading

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    before = len(_manifest_reader_rows(spark, idx))
    gate = threading.Barrier(2, timeout=30)
    real_meta = AI.load_meta

    def slow_meta(d):
        gate.wait()  # both threads inside their append attempt
        import time as _t

        _t.sleep(0.3)  # hold the lease long enough to overlap
        return real_meta(d)

    AI.load_meta = slow_meta
    errors: list[BaseException] = []

    def run(lo):
        try:
            AI.append_ann_index(
                spark, _synth_embeddings(spark, range(lo, lo + 10), shift=3), idx
            )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        # one thread reaches slow_meta (lease held), the other hits
        # the lease before the barrier would release it — so release
        # the barrier from the loser's refusal instead: run the
        # loser's attempt AFTER the winner is provably inside
        t1 = threading.Thread(target=run, args=(6000,))
        t1.start()
        gate.wait()  # winner is inside its lease now
        run_err_before = len(errors)
        run(6100)  # second appender: must refuse on the lease
        assert len(errors) == run_err_before + 1
        assert "another appender" in str(errors[-1])
        t1.join(timeout=120)
        assert not t1.is_alive()
    finally:
        AI.load_meta = real_meta
    assert len(errors) == 1  # the winner committed
    # retry the loser — both batches land exactly once
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(6100, 6110), shift=3), idx
    )
    after = _manifest_reader_rows(spark, idx)
    assert len(after) == before + 20
    assert len({v for v, _ in after}) == len(after)  # no dup vec_ids


def test_dead_appender_lease_auto_reclaimed(spark, tmp_path):
    """A crashed appender's lease (provably-dead pid on this host)
    must not brick ingest: the next acquire claims it atomically and
    proceeds."""
    import json as _json
    import socket as _socket
    import subprocess

    corpus, idx = _seeded_multi_file_index(spark, tmp_path)
    root = AI.Path(idx)
    p = subprocess.Popen(["true"])  # a pid that has provably exited
    p.wait()
    (root / AI.APPEND_LOCK).write_text(
        _json.dumps({
            "pid": p.pid,
            "host": _socket.gethostname(),
            "acquired_utc": "2020-01-01T00:00:00+00:00",
        })
    )
    AI.append_ann_index(
        spark, _synth_embeddings(spark, range(6200, 6210), shift=3), idx
    )  # reclaims and proceeds
    assert not (root / AI.APPEND_LOCK).exists()


def test_dead_maintainer_lock_reclaimed_then_pending_replayed(
    spark, tmp_path, monkeypatch
):
    """A compactor that died holding the maintenance lock (a provably
    dead pid on this host) needs no operator: the next
    compact_ann_index reclaims the lock and, first thing under it,
    replays the committed manifest the dead owner left pending."""
    import json as _json
    import socket as _socket
    import subprocess

    idx, root = _stage_committed_pending(spark, tmp_path, monkeypatch)
    expected = _manifest_reader_rows(spark, idx)
    e0 = int(AI._load_current(root)["epoch"])
    p = subprocess.Popen(["true"])  # a pid that has provably exited
    p.wait()
    (root / AI.MAINT_LOCK).write_text(
        _json.dumps({
            "pid": p.pid,
            "host": _socket.gethostname(),
            "acquired_utc": "2020-01-01T00:00:00+00:00",
            "heartbeat_utc": "2020-01-01T00:00:00+00:00",
            "token": "dead-maintainers-token",
        })
    )
    res = AI.compact_ann_index(spark, idx)
    assert res["epochs_committed"] >= 1  # the replay committed
    assert int(AI._load_current(root)["epoch"]) == e0 + res["epochs_committed"]
    assert not (root / AI.PENDING_NAME).exists()
    assert not (root / AI.MAINT_LOCK).exists()
    assert _manifest_reader_rows(spark, idx) == expected


def test_release_stale_append_lock_contract(tmp_path):
    """Alive same-host owner: refuse. Dead pid: release. Other-host
    within age lease: refuse; past it: release. force: release."""
    import json as _json
    import os as _os
    import socket as _socket
    import subprocess

    root = AI.Path(tmp_path)
    with pytest.raises(RuntimeError, match="no _append.lock"):
        AI.release_stale_lock(root, AI.APPEND_LOCK)
    # alive owner (this process) refuses
    (root / AI.APPEND_LOCK).write_text(
        _json.dumps({"pid": _os.getpid(), "host": _socket.gethostname()})
    )
    with pytest.raises(RuntimeError, match="VERIFIED ALIVE"):
        AI.release_stale_lock(root, AI.APPEND_LOCK, max_age_sec=0.0)
    AI.release_stale_lock(root, AI.APPEND_LOCK, force=True)
    # dead pid releases without force
    p = subprocess.Popen(["true"])
    p.wait()
    (root / AI.APPEND_LOCK).write_text(
        _json.dumps({"pid": p.pid, "host": _socket.gethostname()})
    )
    info = AI.release_stale_lock(root, AI.APPEND_LOCK)
    assert info["pid"] == p.pid
    # other host: age lease applies from acquired_utc
    (root / AI.APPEND_LOCK).write_text(
        _json.dumps({
            "pid": 1,
            "host": "some-other-host",
            "acquired_utc": AI.datetime.now(AI.timezone.utc).isoformat(
                timespec="seconds"
            ),
        })
    )
    with pytest.raises(RuntimeError, match="not provably dead"):
        AI.release_stale_lock(root, AI.APPEND_LOCK, max_age_sec=3600)
    (root / AI.APPEND_LOCK).write_text(
        _json.dumps({
            "pid": 1,
            "host": "some-other-host",
            "acquired_utc": "2020-01-01T00:00:00+00:00",
        })
    )
    AI.release_stale_lock(root, AI.APPEND_LOCK, max_age_sec=3600)
    assert not (root / AI.APPEND_LOCK).exists()
