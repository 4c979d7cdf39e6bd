"""Randomized crash-point chaos test (VERDICT r8 #5).

The per-family crash-window tests enumerate hand-picked torn states;
this generalizes them: a write interceptor fails the absorb after N
driver-level writes (Hypothesis draws the family AND the kill point),
and the replay must converge to EXACTLY the clean-absorb state — full
directory snapshot, meta included. This is the test that keeps the
freed (concurrent, order-free) write sequences honest as they evolve:
any new write added to any absorber is automatically inside the kill
zone.

Interception is at driver-write granularity (each
``DataFrameWriter.parquet`` call and each control-plane
``storage.write_control_parquet``) — clean boundaries between writes,
which is exactly the granularity the concurrent write sets make
unpredictable (a ThreadPoolExecutor absorb crashes with an ARBITRARY
landed subset, not a prefix). Torn multi-file states INSIDE one
parquet write are covered by the dedicated per-family tests.

Family contracts asserted:
- CurationState / DedupIndex / TrigramLM / MediaIndex: replay
  converges at EVERY kill point;
- VectorIndex: replay converges, OR raises its DOCUMENTED torn-append
  refusal (a crash between the corpus_lists and codes appends), after
  which the documented manual repair (purge rows beyond the meta
  stamp) plus one more replay converges.
"""

from __future__ import annotations

import os
import shutil
import threading
from contextlib import contextmanager

import pytest
from conftest import SF_SMOKE
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lp_etl_plugins_spark import incremental as INC
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark import textops as T
from lp_etl_plugins_spark import vectorops as V
from lp_etl_plugins_spark.multimodal import MediaIndex, foreach_batch_add, synthetic_media
from lp_etl_plugins_spark.textops import DedupIndex, TrigramLM

# Heavy chaos/property battery: excluded from the default
# verification lane (pytest.ini) so oracle parity always completes
# inside the driver window; run with `pytest -m slow`.
pytestmark = pytest.mark.slow


class SimulatedCrash(Exception):
    pass


@contextmanager
def crash_after(n: int):
    """Fail the (n+1)-th driver-level write — DataFrameWriter.parquet
    or a control-plane storage.write_control_parquet — with SimulatedCrash.
    Thread-safe: concurrent absorber writes share the countdown, so a
    kill inside a thread-pooled write set leaves an arbitrary landed
    subset. Yields the state dict ({"left": remaining})."""
    from pyspark.sql.readwriter import DataFrameWriter

    lock = threading.Lock()
    state = {"left": int(n)}
    real_pq = DataFrameWriter.parquet
    real_ctrl = storage.write_control_parquet

    def _tick(what: str) -> None:
        with lock:
            if state["left"] <= 0:
                raise SimulatedCrash(what)
            state["left"] -= 1

    def fake_pq(self, path, *a, **k):
        _tick(f"parquet:{path}")
        return real_pq(self, path, *a, **k)

    def fake_ctrl(path, rows, schema):
        _tick(f"control:{path}")
        return real_ctrl(path, rows, schema)

    DataFrameWriter.parquet = fake_pq
    storage.write_control_parquet = fake_ctrl
    try:
        yield state
    finally:
        DataFrameWriter.parquet = real_pq
        storage.write_control_parquet = real_ctrl


def _key(t):
    # None-safe total order inside a column (None sorts first)
    return tuple((v is not None, v) for v in t)


def _snap(spark, root: str) -> dict:
    """Full state snapshot: sorted rows of every parquet leaf dir under
    root (meta/pending/corpus logs included — a leftover or missing
    directory shows up as a key difference)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(dirpath, root)
            rows = [tuple(r) for r in spark.read.parquet(dirpath).collect()]
            out[rel] = sorted(rows, key=_key)
    return out


FAMILIES = ("curation", "dedup", "trigram", "vector", "media")


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _emb(spark):
    from lp_etl_plugins_spark.inventory.vectorops import _emb as e

    return e(spark, SF_SMOKE)


class _Spec:
    def __init__(self, template: str, delta, make_absorb, max_writes: int,
                 clean_snap: dict):
        self.template = template
        self.delta = delta
        self.make_absorb = make_absorb
        self.max_writes = max_writes
        self.clean_snap = clean_snap


_ENV: dict[str, _Spec] = {}


def _chaos_env(spark, tmp_path_factory) -> dict[str, _Spec]:
    if _ENV:
        return _ENV
    root = tmp_path_factory.mktemp("chaos_templates")
    docs = _docs(spark)
    d_base, d_delta = docs.filter("doc_id < 300"), docs.filter(
        "doc_id >= 300"
    ).localCheckpoint()
    emb = _emb(spark)
    e_base, e_delta = emb.filter("vec_id < 400"), emb.filter(
        "vec_id >= 400"
    ).drop("label").localCheckpoint()
    media = synthetic_media(spark, 200)
    m_base, m_delta = media.filter(F.col("media_id") < 150), media.filter(
        F.col("media_id") >= 150
    ).localCheckpoint()

    def build(family: str):
        tpl = str(root / family)
        os.makedirs(tpl)
        if family == "curation":
            INC.CurationState.build(spark, d_base, f"{tpl}/state")
            delta = d_delta
            mk = lambda case: INC.foreach_batch_update(spark, f"{case}/state")
        elif family == "dedup":
            d_base.write.parquet(f"{tpl}/corpus")
            DedupIndex(
                spark.read.parquet(f"{tpl}/corpus"), "text", "doc_id"
            ).save(f"{tpl}/idx")
            delta = d_delta
            mk = lambda case: DedupIndex.foreach_batch_update(
                spark, f"{case}/idx", f"{case}/corpus"
            )
        elif family == "trigram":
            TrigramLM(d_base, "text", "doc_id").save(f"{tpl}/lm")
            delta = d_delta
            mk = lambda case: TrigramLM.foreach_batch_update(
                spark, f"{case}/lm"
            )
        elif family == "vector":
            V.VectorIndex(e_base).save(f"{tpl}/vidx")
            delta = e_delta
            mk = lambda case: V.foreach_batch_add(spark, f"{case}/vidx")
        else:  # media
            MediaIndex(m_base).save(f"{tpl}/midx")
            delta = m_delta
            mk = lambda case: foreach_batch_add(spark, f"{case}/midx")

        # clean reference absorb — counted, so the kill-point domain
        # covers the whole write sequence (n == max_writes completes)
        clean = str(root / f"{family}_clean")
        shutil.copytree(tpl, clean)
        with crash_after(10**9) as state:
            mk(clean)(delta, 0)
        writes = 10**9 - state["left"]
        assert writes >= 2, (family, writes)
        return _Spec(tpl, delta, mk, writes, _snap(spark, clean))

    for fam in FAMILIES:
        _ENV[fam] = build(fam)
    return _ENV


def _vector_manual_repair(spark, path: str) -> None:
    """The absorber's documented 'repair the index directory': purge
    rows beyond the meta stamp from the monotone stages (the SQ8
    refine stage included when the layout carries it)."""
    stamp = int(storage.read_control_row(f"{path}/meta")["max_id"])
    stages = [("corpus_lists", "id"), ("codes", "neighbor_id")]
    if storage.parquet_dir_exists(f"{path}/sq8_codes"):
        stages.append(("sq8_codes", "id"))
    for stage, idc in stages:
        storage.rewrite_parquet_dir(
            spark,
            f"{path}/{stage}",
            spark.read.parquet(f"{path}/{stage}").filter(F.col(idc) <= stamp),
            1 << 20,
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(st.data())
def test_chaos_crash_replay_converges(spark, tmp_path_factory, data):
    env = _chaos_env(spark, tmp_path_factory)
    family = data.draw(st.sampled_from(FAMILIES))
    spec = env[family]
    n = data.draw(st.integers(min_value=0, max_value=spec.max_writes))

    case = str(tmp_path_factory.mktemp(f"chaos_{family}"))
    shutil.rmtree(case)
    shutil.copytree(spec.template, case)

    with crash_after(n):
        try:
            spec.make_absorb(case)(spec.delta, 1)
        except SimulatedCrash:
            pass  # the kill point — any landed subset is on disk

    try:
        spec.make_absorb(case)(spec.delta, 2)  # the replay
    except ValueError as e:
        # the one family whose contract is refuse-then-manual-repair
        assert family == "vector" and "torn append" in str(e), (family, e)
        _vector_manual_repair(spark, f"{case}/vidx")
        spec.make_absorb(case)(spec.delta, 3)

    assert _snap(spark, case) == spec.clean_snap, (family, n)
    shutil.rmtree(case, ignore_errors=True)


def _views(spark, family: str, case: str) -> dict:
    """SERVED-view snapshot (compaction changes file layout, so the
    contract is view identity, not file identity)."""
    if family == "curation":
        st = INC.CurationState.load(spark, f"{case}/state")
        out = {
            "indexed": st.indexed(), "working": st.working(),
            "contam": st.contamination(), "curated": st.curated(),
        }
    elif family == "dedup":
        idx = DedupIndex.load(spark, f"{case}/idx")
        out = {s: getattr(idx, s) for s in DedupIndex._STAGES}
    elif family == "trigram":
        lm = TrigramLM.load(spark, f"{case}/lm")
        out = {"counts": lm._counts}
    elif family == "vector":
        idx = V.VectorIndex.load(spark, f"{case}/vidx")
        out = {"lists": idx.corpus_lists, "codes": idx.codes}
    else:
        idx = MediaIndex.load(spark, f"{case}/midx")
        out = {s: getattr(idx, s) for s in MediaIndex._STAGES}
    return {
        k: sorted((tuple(r) for r in df.collect()), key=_key)
        for k, df in out.items()
    }


def _compact(spark, family: str, case: str) -> None:
    if family == "curation":
        INC.CurationState.load(spark, f"{case}/state").compact()
    elif family == "dedup":
        DedupIndex.compact(spark, f"{case}/idx")
    elif family == "trigram":
        TrigramLM.compact(spark, f"{case}/lm")
    elif family == "vector":
        V.VectorIndex.compact(spark, f"{case}/vidx")
    else:
        MediaIndex.compact(spark, f"{case}/midx")


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(st.data())
def test_chaos_crash_compact_preserves_views(spark, tmp_path_factory, data):
    """The compact half of the kill-zone: a crash after any number of
    compaction writes leaves SOME substrates re-laid-out and others
    not — every served view must be identical regardless (compaction
    is view-preserving substrate by substrate), and re-running compact
    from the torn state converges. (The between-renames swap window —
    not reachable at write granularity — is covered by the dedicated
    swap-window tests and `storage.recover_swapped_dir`.)"""
    env = _chaos_env(spark, tmp_path_factory)
    family = data.draw(st.sampled_from(FAMILIES))
    spec = env[family]

    case = str(tmp_path_factory.mktemp(f"chaosc_{family}"))
    shutil.rmtree(case)
    # start from the post-absorb state (fragmented by the delta)
    shutil.copytree(spec.template, case)
    spec.make_absorb(case)(spec.delta, 1)
    want = _views(spark, family, case)

    n = data.draw(st.integers(min_value=0, max_value=12))
    with crash_after(n):
        try:
            _compact(spark, family, case)
        except SimulatedCrash:
            pass
    assert _views(spark, family, case) == want, (family, n, "post-crash")

    _compact(spark, family, case)  # re-run from the torn state
    assert _views(spark, family, case) == want, (family, n, "post-redo")
    shutil.rmtree(case, ignore_errors=True)


# ------------------------------------------------------- retraction chaos
# The deletion protocols (round 9) under the same kill-zone: a crash
# after ANY prefix of {ledger, negative-segment/span/label writes,
# meta} must leave a state whose SAME-IDS replay converges to exactly
# the clean-retract snapshot. This is what keeps the
# retraction-sequence commit honest as the write sets evolve.

RETRACT_FAMILIES = (
    "dedup", "trigram", "vector", "media", "repeat", "curation"
)

_RENV: dict[str, dict] = {}


def _retract_env(spark, tmp_path_factory) -> dict[str, dict]:
    if _RENV:
        return _RENV
    root = tmp_path_factory.mktemp("chaos_retract_templates")
    docs = _docs(spark)
    d_base = docs.filter("doc_id < 300")
    d_sub = d_base.filter("doc_id % 9 = 2").localCheckpoint()
    d_ids = d_sub.select(F.col("doc_id").alias("id")).localCheckpoint()
    d_keep = d_base.filter("doc_id % 9 != 2").localCheckpoint()
    emb = _emb(spark)
    e_base = emb.filter("vec_id < 400")
    e_ids = e_base.filter("vec_id % 9 = 2").select(
        F.col("vec_id").alias("id")
    ).localCheckpoint()
    media = synthetic_media(spark, 150)
    m_ids = media.filter("media_id % 9 = 2").select(
        F.col("media_id").alias("id")
    ).localCheckpoint()

    def _op(family: str):
        if family == "dedup":
            def run(case):
                idx = DedupIndex.load(spark, f"{case}/idx")
                idx.retract(d_ids)
                idx.retract_saved(f"{case}/idx")
        elif family == "trigram":
            def run(case):
                lm = TrigramLM.load(spark, f"{case}/lm")
                lm.retract(d_sub)
                lm.retract_saved(f"{case}/lm")
        elif family == "vector":
            def run(case):
                idx = V.VectorIndex.load(spark, f"{case}/vidx")
                idx.retract(e_ids)
                idx.retract_saved(f"{case}/vidx")
        elif family == "media":
            def run(case):
                idx = MediaIndex.load(spark, f"{case}/midx")
                idx.retract(m_ids)
                idx.retract_saved(f"{case}/midx")
        elif family == "repeat":
            def run(case):
                idx = T.RepeatIndex.load(spark, f"{case}/ridx")
                idx.retract(d_ids, old_docs=d_keep)
        else:  # curation — the round-10 pipeline-level retraction:
            # root ledger + index retract_saved + working/tombstone/
            # gram/contam writes + meta, all inside the kill zone
            def run(case):
                INC.CurationState.load(spark, f"{case}/state").retract(d_ids)
        return run

    def build(family: str):
        if family == "repeat":
            tpl = str(root / family)
            os.makedirs(tpl)
            T.RepeatIndex.build(spark, d_base, f"{tpl}/ridx", "text", "doc_id")
        else:
            # reuse the absorb templates (pristine post-save states)
            tpl = _chaos_env(spark, tmp_path_factory)[family].template
        clean = str(root / f"{family}_clean")
        shutil.copytree(tpl, clean)
        with crash_after(10**9) as state:
            _op(family)(clean)
        writes = 10**9 - state["left"]
        assert writes >= 1, (family, writes)
        return {
            "template": tpl,
            "op": _op(family),
            "max_writes": writes,
            "clean_snap": _snap(spark, clean),
        }

    for fam in RETRACT_FAMILIES:
        _RENV[fam] = build(fam)
    return _RENV


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(st.data())
def test_chaos_crash_retract_replay_converges(spark, tmp_path_factory, data):
    env = _retract_env(spark, tmp_path_factory)
    family = data.draw(st.sampled_from(RETRACT_FAMILIES))
    spec = env[family]
    # max_writes - 1: the uncrashed run is the committed-replay case,
    # exercised separately in the per-family tests (for the set-
    # semantics vector family a gratuitous replay adds benign
    # duplicate tombstone rows, which a file-level snapshot flags)
    n = data.draw(st.integers(min_value=0, max_value=spec["max_writes"] - 1))

    case = str(tmp_path_factory.mktemp(f"chaosr_{family}"))
    shutil.rmtree(case)
    shutil.copytree(spec["template"], case)

    crashed = False
    with crash_after(n):
        try:
            spec["op"](case)
        except SimulatedCrash:
            crashed = True
    assert crashed, (family, n)  # n < max_writes must kill

    spec["op"](case)  # the same-ids replay
    assert _snap(spark, case) == spec["clean_snap"], (family, n)
    shutil.rmtree(case, ignore_errors=True)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(st.data())
def test_chaos_crash_retract_replay_itself_crashes(
    spark, tmp_path_factory, data
):
    """Second-order kill zone (round-9 ADVICE): the REPLAY of a torn
    retraction runs its own purge/repair write sequence — re-derived
    label overwrites, span/segment purges, the ledger rewrite — and a
    crash after ANY prefix of THOSE writes must still leave a state
    whose next same-ids replay converges. This is the window the
    first-order test cannot reach (it only kills the first attempt):
    with the old purge-ledger-first ordering, a kill between the
    replay's ledger purge and its derived-state repair erased the
    only torn-state signal while the torn state persisted — the
    repair-first / ledger-purge-last ordering this test pins makes
    every such prefix re-enterable."""
    env = _retract_env(spark, tmp_path_factory)
    family = data.draw(st.sampled_from(RETRACT_FAMILIES))
    spec = env[family]
    n1 = data.draw(
        st.integers(min_value=0, max_value=spec["max_writes"] - 1)
    )
    # the replay's write sequence can be longer than the clean one
    # (purge rewrites precede the re-land) — draw over a padded range
    # and only keep runs where the second kill actually fired
    n2 = data.draw(
        st.integers(min_value=0, max_value=spec["max_writes"] + 4)
    )

    case = str(tmp_path_factory.mktemp(f"chaosrr_{family}"))
    shutil.rmtree(case)
    shutil.copytree(spec["template"], case)

    with crash_after(n1):
        try:
            spec["op"](case)
        except SimulatedCrash:
            pass

    crashed2 = False
    with crash_after(n2):
        try:
            spec["op"](case)  # the replay — also in the kill zone
        except SimulatedCrash:
            crashed2 = True

    if crashed2:
        # only re-replay when the second attempt actually died — a
        # gratuitous replay over a COMMITTED retraction is the
        # set-semantics caveat the first-order test documents
        spec["op"](case)
    assert _snap(spark, case) == spec["clean_snap"], (family, n1, n2)
    shutil.rmtree(case, ignore_errors=True)
