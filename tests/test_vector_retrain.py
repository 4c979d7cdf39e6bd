"""Coarse-quantizer retrain — the remediation for the vector family's
``coarse_assignment_degenerate`` report (VERDICT r9 next #4).

Round 9 measured the one-hot-list adversary and decided (correctly)
that a list-size cap silently drops corpus vectors from serving, so
``check_vector_index`` REPORTS degeneracy and the fix is FAISS's
reindex guidance: retrain the coarse quantizer. Round 10 turns that
report into an operation: ``VectorIndex.retrain_coarse`` (balanced
hash re-seed + Lloyd rounds, rebuild semantics, marker-fenced
roll-forward swap) and ``vacuum(retrain_degenerate=corpus)``.

What these tests pin:
- the fixable failure (poisoned seed labels over genuinely clustered
  vectors) goes degenerate -> retrain -> healthy probe green;
- REBUILD semantics: the swapped stages equal a from-scratch build
  seeded by the same refined assignment (the hash gate);
- retraction composition: committed tombstones stay deleted through
  the retrain and the resolved log clears;
- the UNFIXABLE failure (a point-mass cloud no quantizer can split)
  is reported as retrain_ineffective, never billed as healthy;
- crash convergence: kill points over the full write sequence
  (staging, marker, swap renames, tombstone clear) either leave the
  live index untouched (pre-marker) or roll forward to the exact
  retrained state (post-marker), and load() refuses the torn window.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark import textops as T
from lp_etl_plugins_spark.vectorops import (
    VectorIndex,
    kmeans_refine,
    quantile_seed_assignment,
)

DIMS = 16
N = 1000


def _clustered_corpus(spark, poisoned: bool):
    """10 well-separated colinear geometric clusters (center j at
    10*j per dim, deterministic hash jitter). ``poisoned=True`` gives
    the fixable degenerate seeding: clusters 0-6 all carry label 0,
    so the trained per-label mean sits at the merged mass's center
    (~30 per dim) and reassignment sends clusters 0-5 (60% of the
    corpus) to that one list — degenerate, while the GEOMETRY stays
    ten separable clusters a retrained quantizer partitions
    cleanly."""
    base = spark.range(N).select(
        F.col("id").alias("vec_id"), (F.col("id") % 10).alias("true_c")
    )
    noise = F.pmod(F.xxhash64("vec_id"), F.lit(1000)) / 1000.0 - 0.5
    vec = F.array(
        *[((F.col("true_c") * 10.0) + noise).cast("float") for _ in range(DIMS)]
    )
    label = (
        F.when(F.col("true_c") >= 7, F.col("true_c")).otherwise(F.lit(0))
        if poisoned
        else F.col("true_c")
    )
    return base.select(
        "vec_id", label.cast("int").alias("label"), vec.alias("embedding")
    ).localCheckpoint()


def _pointmass_corpus(spark):
    """The round-9 adversary shape: 95% of vectors collapse onto one
    point under label 0, 5% flung far under labels 1-9 — geometry no
    quantizer can split."""
    base = spark.range(N).select(F.col("id").alias("vec_id"))
    cloud = base.filter(F.col("vec_id") % 20 != 0).select(
        "vec_id",
        F.lit(0).cast("int").alias("label"),
        F.array(*[F.lit(0.5).cast("float") for _ in range(DIMS)]).alias(
            "embedding"
        ),
    )
    far = base.filter(F.col("vec_id") % 20 == 0).select(
        "vec_id",
        (F.col("vec_id") % 9 + 1).cast("int").alias("label"),
        F.array(
            *[
                ((F.col("vec_id") % 9 + 1) * 10.0).cast("float")
                for _ in range(DIMS)
            ]
        ).alias("embedding"),
    )
    return cloud.unionByName(far).localCheckpoint()


def _save(corpus, path: str) -> None:
    VectorIndex(corpus, m=4, dims=DIMS).save(path)


def _rounded_rows(df, ndigits: int = 6):
    """Sorted row tuples with floats rounded — the comparison that is
    exact on the integer stages (lists, codes) and ulp-tolerant on
    the float stages (centroids, norms, codebooks)."""
    rows = [
        tuple(
            round(v, ndigits) if isinstance(v, float) else v for v in r
        )
        for r in df.collect()
    ]
    return sorted(rows, key=lambda t: tuple((v is not None, v) for v in t))


def _stage_snapshot(spark, path: str) -> dict:
    out = {}
    for s in VectorIndex._STAGES + VectorIndex._REFINE_STAGES:
        if storage.parquet_dir_exists(f"{path}/{s}"):
            out[s] = _rounded_rows(spark.read.parquet(f"{path}/{s}"))
    return out


def test_retrain_fixes_poisoned_label_degeneracy(spark, tmp_path):
    corpus = _clustered_corpus(spark, poisoned=True)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    res = M.check_vector_index(spark, p)
    assert not res["ok"]
    assert res["violations"].get("coarse_assignment_degenerate") == 1

    out = VectorIndex.retrain_coarse(spark, p, corpus, n_lists=10)
    assert out["n_lists"] == 10
    res = M.check_vector_index(spark, p)
    assert res["ok"], res

    # the retrained index still serves: every corpus row has a list
    # and m code rows, and a probe drawn at a cluster center finds
    # neighbors from that cluster
    idx = VectorIndex.load(spark, p)
    assert idx.corpus_lists.count() == N
    probe = spark.range(1).select(
        F.lit(0).alias("vec_id"),
        F.array(*[F.lit(30.0).cast("float")] * DIMS).alias("embedding"),
    )
    got = idx.search(probe, k=5, nprobe=2).collect()
    assert len(got) == 5
    hit_ids = {r["neighbor_id"] for r in got}
    # cluster 3 sits at 30.0 per dim; ids with true_c == 3
    assert all(i % 10 == 3 for i in hit_ids), hit_ids


def test_retrain_rebuild_semantics_hash_gate(spark, tmp_path):
    """retrain == from-scratch build seeded by the same refined
    assignment, on every stage (VERDICT r9 #4's 'rebuild semantics,
    hash-gate against a from-scratch rebuild at the same params')."""
    corpus = _clustered_corpus(spark, poisoned=True)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    VectorIndex.retrain_coarse(spark, p, corpus, n_iter=2, n_lists=10)

    init = quantile_seed_assignment(corpus, "vec_id", "embedding", 10)
    seeded = corpus.join(
        init.select(
            F.col("id").alias("vec_id"), F.col("seed").alias("__retrain_seed")
        ),
        on="vec_id",
    )
    assign = kmeans_refine(
        seeded, "__retrain_seed", "vec_id", "embedding", n_iter=2
    )
    scratch = VectorIndex(
        corpus.join(
            assign.select(
                F.col("id").alias("vec_id"),
                F.col("bucket").alias("__retrain_seed"),
            ),
            on="vec_id",
        ),
        seed_col="__retrain_seed",
        m=4,
        dims=DIMS,
    )
    p2 = str(tmp_path / "scratch")
    scratch.save(p2)
    got, want = _stage_snapshot(spark, p), _stage_snapshot(spark, p2)
    assert set(got) == set(want)
    for s in got:
        assert got[s] == want[s], f"stage {s} diverges from rebuild"
    # meta untouched by retrain: same high-water mark as the rebuild
    m_got = storage.read_control_row(f"{p}/meta")
    m_want = storage.read_control_row(f"{p2}/meta")
    assert m_got["max_id"] == m_want["max_id"]
    assert (m_got["m"], m_got["dims"]) == (m_want["m"], m_want["dims"])


def test_retrain_composes_with_retraction(spark, tmp_path):
    """Committed tombstones stay deleted through the retrain (the live
    corpus is what retrains) and the resolved log clears."""
    corpus = _clustered_corpus(spark, poisoned=True)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    dead = spark.range(100).select((F.col("id") * 10).alias("vec_id"))
    idx = VectorIndex.load(spark, p).retract(dead)
    idx.retract_saved(p)

    VectorIndex.retrain_coarse(spark, p, corpus)
    idx = VectorIndex.load(spark, p)
    assert idx._tombstones is None  # resolved and cleared
    lists = idx.corpus_lists
    assert lists.count() == N - 100
    assert (
        lists.join(
            dead.select(F.col("vec_id").alias("id")), "id", "left_semi"
        ).count()
        == 0
    )
    res = M.check_vector_index(spark, p)
    assert res["ok"], res


@pytest.mark.slow
def test_vacuum_retrain_degenerate_opt_in(spark, tmp_path):
    """Default stays report-only; with the corpus supplied the sweep
    retrains under the lease, re-probes, and bills retrained_coarse=1."""
    corpus = _clustered_corpus(spark, poisoned=True)
    p = str(tmp_path / "vidx")
    _save(corpus, p)

    row = M.vacuum(spark, [p]).collect()[0]
    assert not row["ok"]
    assert "coarse_assignment_degenerate=1" in row["violations"]
    assert "retrained_coarse" not in row["violations"]

    row = M.vacuum(spark, [p], retrain_degenerate=corpus).collect()[0]
    assert row["ok"], row
    assert "retrained_coarse=1" in row["violations"]
    assert "retrain_ineffective" not in row["violations"]
    assert M.check_vector_index(spark, p)["ok"]


@pytest.mark.slow
def test_vacuum_retrain_ineffective_on_point_mass(spark, tmp_path):
    """A genuinely collapsed corpus re-probes degenerate after the
    retrain — reported, never billed as healthy (the round-9 principle
    that a silent fix hiding a recall hole is worse than the report)."""
    corpus = _pointmass_corpus(spark)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    assert not M.check_vector_index(spark, p)["ok"]

    row = M.vacuum(spark, [p], retrain_degenerate=corpus).collect()[0]
    assert not row["ok"]
    assert "retrained_coarse=1" in row["violations"]
    assert "retrain_ineffective=1" in row["violations"]
    assert "coarse_assignment_degenerate=1" in row["violations"]

    # backoff (round 10): the ineffective retrain stamped a marker at
    # the current id high-water, so the NEXT sweep skips the
    # full-rebuild-cost retrain instead of paying it nightly forever
    row2 = M.vacuum(spark, [p], retrain_degenerate=corpus).collect()[0]
    assert "retrain_suppressed=1" in row2["violations"]
    assert "retrained_coarse=1" not in row2["violations"]
    # the dict form maps corpora per path; a missing path just skips
    row3 = M.vacuum(
        spark, [p], retrain_degenerate={"other/path": corpus}
    ).collect()[0]
    assert "retrained_coarse=1" not in row3["violations"]
    # a bare frame over MULTIPLE vector paths is ambiguous — refuse
    p2 = str(tmp_path / "vidx2")
    _save(corpus, p2)
    with pytest.raises(ValueError, match="ambiguous"):
        M.vacuum(spark, [p, p2], retrain_degenerate=corpus).collect()


@pytest.mark.slow
def test_retrain_kill_points_converge(spark, tmp_path):
    """Chaos over the retrain write sequence at driver-write
    granularity (the test_chaos_crash interceptor): a kill before the
    marker leaves the LIVE index byte-identical (staging abandoned,
    purged by repair); a kill at/after the marker rolls FORWARD to
    the exact retrained state via repair_torn_retrain, and load()
    refuses the torn window instead of serving mixed generations."""
    from test_chaos_crash import SimulatedCrash, crash_after

    corpus = _clustered_corpus(spark, poisoned=True)
    clean = str(tmp_path / "clean")
    _save(corpus, clean)
    pre_snap = _stage_snapshot(spark, clean)
    VectorIndex.retrain_coarse(spark, clean, corpus, n_iter=1, n_lists=10)
    want = _stage_snapshot(spark, clean)
    assert want != pre_snap

    # measure the write count of an uncrashed run
    probe = str(tmp_path / "probe")
    _save(corpus, probe)
    with crash_after(10_000) as state:
        VectorIndex.retrain_coarse(spark, probe, corpus, n_iter=1, n_lists=10)
    total_writes = 10_000 - state["left"]
    # 6 core stages + marker; refine is opt-in (round 10) so this
    # layout carries no sq8 stages (+2 when it does, +1 tombstone clear)
    assert total_writes >= 7

    for kill in range(total_writes):
        case = str(tmp_path / f"kill{kill}")
        _save(corpus, case)
        marker = f"{case}/{VectorIndex._RETRAIN_MARKER}"
        with pytest.raises(SimulatedCrash):
            with crash_after(kill):
                VectorIndex.retrain_coarse(
                    spark, case, corpus, n_iter=1, n_lists=10
                )
        if not storage.parquet_dir_exists(marker):
            # pre-commit: the live index is untouched and still loads
            assert _stage_snapshot(spark, case) == pre_snap
            VectorIndex.load(spark, case)
            assert VectorIndex.repair_torn_retrain(spark, case) or not any(
                os.path.isdir(f"{case}/{s}.__retrain__")
                for s in VectorIndex._STAGES
            )
            # a replayed retrain from the abandoned state converges
            VectorIndex.retrain_coarse(
                spark, case, corpus, n_iter=1, n_lists=10
            )
        else:
            # post-commit: load refuses; repair rolls forward
            with pytest.raises(T.TornStateError):
                VectorIndex.load(spark, case)
            assert VectorIndex.repair_torn_retrain(spark, case)
        assert not storage.parquet_dir_exists(marker)
        assert _stage_snapshot(spark, case) == want, f"kill={kill}"
        assert M.check_vector_index(spark, case)["ok"]


def test_mid_swap_rename_windows_roll_forward(spark, tmp_path):
    """The rename prefixes crash_after cannot reach (kills between
    os.rename calls): enumerate them by hand from a staged-and-marked
    state and assert repair converges from every prefix, including the
    no-live-dir window, and that vacuum(recover_swaps=True) performs
    the same repair."""
    corpus = _clustered_corpus(spark, poisoned=True)
    clean = str(tmp_path / "clean")
    _save(corpus, clean)
    VectorIndex.retrain_coarse(spark, clean, corpus, n_iter=1, n_lists=10)
    want = _stage_snapshot(spark, clean)

    # hand-build the canonical commit-point state: all staging
    # complete + marker written, no swap renames performed yet
    case = str(tmp_path / "manual")
    _save(corpus, case)
    stages = VectorIndex._retrain_stages(case)
    init = quantile_seed_assignment(corpus, "vec_id", "embedding", 10)
    seeded = corpus.join(
        init.select(
            F.col("id").alias("vec_id"), F.col("seed").alias("__retrain_seed")
        ),
        on="vec_id",
    )
    assign = kmeans_refine(seeded, "__retrain_seed", "vec_id", "embedding", 1)
    idx = VectorIndex(
        corpus.join(
            assign.select(
                F.col("id").alias("vec_id"),
                F.col("bucket").alias("__retrain_seed"),
            ),
            on="vec_id",
        ),
        seed_col="__retrain_seed",
        m=4,
        dims=DIMS,
    )
    for s in stages:
        # mirror the production staging write: below the size gate the
        # round-11 serving layout (bucket attach + sort) is skipped
        frame = getattr(idx, s)
        frame.write.mode("overwrite").parquet(f"{case}/{s}.__retrain__")
    storage.write_control_parquet(
        f"{case}/{VectorIndex._RETRAIN_MARKER}", [(10, 1)], "n_lists int, n_iter int"
    )

    # rename-prefix windows over the first stage: aside only (live
    # missing), aside+staged renamed in, aside removal pending
    for window in ("pre", "live_missing", "staged_in", "aside_left"):
        c = str(tmp_path / f"win_{window}")
        shutil.copytree(case, c)
        s0 = stages[0]
        live, staged, aside = (
            f"{c}/{s0}",
            f"{c}/{s0}.__retrain__",
            f"{c}/{s0}.__retrain_old__",
        )
        if window in ("live_missing", "staged_in", "aside_left"):
            os.rename(live, aside)
        if window in ("staged_in", "aside_left"):
            os.rename(staged, live)
        if window == "aside_left":
            pass  # aside not yet removed
        # the probe reports the torn state; recover_swaps repairs it
        res = M.check_vector_index(spark, c)
        assert not res["ok"]
        assert res["violations"].get("retrain_pending") == 1
        row = M.vacuum(spark, [c], recover_swaps=True).collect()[0]
        assert row["ok"], (window, row)
        assert int(row["recovered"]) >= 1
        assert _stage_snapshot(spark, c) == want, window
        VectorIndex.load(spark, c)  # marker gone, serves the new state


def test_suppression_skipped_when_meta_has_no_high_water(spark, tmp_path):
    """Round-11 advice fix: the backoff compared prior == cur_hi, which
    also matches when BOTH are None (a legacy meta without max_id) —
    identity of ignorance, not evidence the geometry is unchanged. With
    no high-water axis the retrain must RUN, not stay suppressed."""
    corpus = _pointmass_corpus(spark)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    row = M.vacuum(spark, [p], retrain_degenerate=corpus).collect()[0]
    assert "retrain_ineffective=1" in row["violations"]
    # rewrite meta and marker to the legacy (no high-water) shape
    m = storage.read_control_row(f"{p}/meta")
    storage.write_control_parquet(
        f"{p}/meta",
        [(m["id_col"], m["vec_col"], int(m["m"]), int(m["dims"]), None)],
        VectorIndex._META_SCHEMA,
    )
    storage.write_control_parquet(
        f"{p}/{VectorIndex._RETRAIN_SUPPRESS}", [(None,)], "max_id bigint"
    )
    row2 = M.vacuum(spark, [p], retrain_degenerate=corpus).collect()[0]
    assert "retrained_coarse=1" in row2["violations"]
    assert "retrain_suppressed" not in row2["violations"]


def test_compact_resolving_tombstones_clears_retrain_backoff(spark, tmp_path):
    """Round-11 advice fix: compact() physically resolving tombstones
    CHANGES the live geometry (meta's max_id records allocation and
    does not move), so a standing retrain_ineffective marker must
    clear — while a pure re-layout compact (no tombstones resolved)
    leaves it standing."""
    corpus = _pointmass_corpus(spark)
    p = str(tmp_path / "vidx")
    _save(corpus, p)
    M.vacuum(spark, [p], retrain_degenerate=corpus).collect()
    marker = f"{p}/{VectorIndex._RETRAIN_SUPPRESS}"
    assert storage.parquet_dir_exists(marker)

    # a pure re-layout compact keeps the marker (geometry unchanged)
    VectorIndex.compact(spark, p)
    assert storage.parquet_dir_exists(marker)

    # a tombstone-resolving compact clears it
    idx = VectorIndex.load(spark, p)
    dead = spark.range(5).select((F.col("id") * 3 + 1).alias("vec_id"))
    idx.retract(dead)
    idx.retract_saved(p)
    VectorIndex.compact(spark, p)
    assert not storage.parquet_dir_exists(marker)
