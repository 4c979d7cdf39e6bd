"""Single-writer fencing (VERDICT r8 #2, lp_etl_plugins_spark.lease).

Every crash contract assumes one writer replaying; nothing used to
fence maintenance compaction (rename-aside rewrite) against a
concurrent absorber append on the same index directory. The first test
DEMONSTRATES the silent row loss that interleaving causes when the
fence is bypassed; the rest pin the lease protocol: contention is a
loud refusal on every mutation path, vacuum skips-and-reports instead
of racing, stale leases from crashed writers expire, release is
exit-guaranteed.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.lease import LeaseContention, dir_lease
from lp_etl_plugins_spark.textops import TrigramLM


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _lm(spark, tmp_path, cut=300):
    docs = _docs(spark)
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter(f"doc_id < {cut}"), "text", "doc_id").save(path)
    return docs, path


def test_unfenced_compact_interleaved_with_append_loses_rows(spark, tmp_path):
    """The race the lease exists for, made deterministic: a compaction
    writes its new layout from the OLD file listing, an append lands
    between that write and the swap, and the swap deletes the appended
    segment with the .__old__ directory — silently. This drives the
    UNfenced internals to pin that the hazard is real (and that the
    fenced entry points are what prevent it)."""
    docs, path = _lm(spark, tmp_path)

    # phase 1 of the rename-aside rewrite: new layout into the temp
    # sibling, computed from the CURRENT (pre-append) listing
    merged = TrigramLM._raw_counts(spark, path).groupBy("g").agg(
        F.sum("c").alias("c"), F.max("src").alias("src")
    )
    tmp = f"{path}/counts.__compact__"
    merged.repartition(1).write.mode("overwrite").parquet(tmp)

    # a concurrent absorber lands a delta segment (unfenced internals —
    # the lease on the public path would have refused)
    lm = TrigramLM.load(spark, path)
    lm.update(docs.filter("doc_id >= 300"))
    lm._append_saved_unfenced(path)
    with_delta = sorted(
        tuple(r)
        for r in TrigramLM.load(spark, path)._counts.collect()
    )

    # phase 2: the swap — deletes the appended segment with .__old__
    os.rename(f"{path}/counts", f"{path}/counts.__old__")
    os.rename(tmp, f"{path}/counts")
    shutil.rmtree(f"{path}/counts.__old__")

    # the delta's contribution is GONE but meta still claims it: the
    # silent-loss state the lease makes unreachable
    after = sorted(
        tuple(r)
        for r in TrigramLM.load(spark, path)._counts.collect()
    )
    assert after != with_delta  # rows lost
    want_base = sorted(
        tuple(r)
        for r in TrigramLM(docs.filter("doc_id < 300"), "text", "doc_id")
        .counts.collect()
    )
    assert after == want_base  # exactly the delta vanished


def test_lease_refuses_concurrent_mutations(spark, tmp_path):
    """While a writer holds the directory lease, every other mutation
    path refuses loudly: compact vs absorber, absorber vs compact,
    and a second absorber."""
    docs, path = _lm(spark, tmp_path)

    with dir_lease(path, role="absorber"):
        with pytest.raises(LeaseContention, match="another writer"):
            TrigramLM.compact(spark, path)
        lm = TrigramLM.load(spark, path)
        lm.update(docs.filter("doc_id >= 300"))
        with pytest.raises(LeaseContention, match="another writer"):
            lm.append_saved(path)
    # released on exit: the same operations now succeed
    lm.append_saved(path)
    assert TrigramLM.compact(spark, path)["counts"]["files_after"] == 1


@pytest.mark.slow
def test_two_threads_absorber_vs_compact_serialize_or_refuse(spark, tmp_path):
    """The deployment pair from the verdict: an absorber thread and a
    maintenance thread on the same directory. With the fence, one of
    them refuses (LeaseContention) or they serialize — and the final
    state holds EVERY absorbed row (nothing silently lost)."""
    docs, path = _lm(spark, tmp_path)
    delta = docs.filter("doc_id >= 300").localCheckpoint()
    started = threading.Event()
    results: dict[str, object] = {}

    def absorber():
        lm = TrigramLM.load(spark, path)
        lm.update(delta)
        started.set()
        try:
            lm.append_saved(path)
            results["absorb"] = "ok"
        except LeaseContention:
            results["absorb"] = "refused"

    def maintainer():
        started.wait(30)
        try:
            TrigramLM.compact(spark, path)
            results["compact"] = "ok"
        except LeaseContention:
            results["compact"] = "refused"

    t1, t2 = threading.Thread(target=absorber), threading.Thread(target=maintainer)
    t1.start(); t2.start(); t1.join(60); t2.join(60)

    # whichever interleaving happened, nothing was lost: replay the
    # absorb if it was the refused side, then the view must equal the
    # full retrain
    if results["absorb"] == "refused":
        lm = TrigramLM.load(spark, path)
        lm.update(delta)
        lm.append_saved(path)
    got = sorted(
        tuple(r) for r in TrigramLM.load(spark, path)._counts.collect()
    )
    want = sorted(
        tuple(r) for r in TrigramLM(docs, "text", "doc_id").counts.collect()
    )
    assert got == want, results


@pytest.mark.slow
def test_vacuum_skips_and_reports_contended_path(spark, tmp_path):
    """The nightly sweep must not race a live absorber: under
    contention it reports lease_contention_skipped_compact and leaves
    the files alone."""
    docs, path = _lm(spark, tmp_path)
    # fragment past any threshold
    for lo, hi in ((300, 400), (400, 10_000)):
        lm = TrigramLM.load(spark, path)
        lm.update(docs.filter(f"doc_id >= {lo} and doc_id < {hi}"))
        lm.append_saved(path)

    frag = storage.count_data_files(f"{path}/counts")
    assert frag >= 3
    with dir_lease(path, role="absorber"):
        row = M.vacuum(spark, [path], max_files_per_substrate=1).collect()[0]
    assert row["ok"] and not row["compacted"]
    assert "lease_contention_skipped_compact=1" in row["violations"]
    assert storage.count_data_files(f"{path}/counts") == frag
    # writer gone: the next sweep compacts
    row = M.vacuum(spark, [path], max_files_per_substrate=1).collect()[0]
    assert row["compacted"] and storage.count_data_files(f"{path}/counts") == 1


def test_stale_lease_expires_and_breaks_once(spark, tmp_path):
    """A lease from a crashed writer (old mtime) is broken and
    re-acquired; a FRESH foreign lease is not. Exit always releases."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    lease = f"{path}.__lease__"

    # fresh foreign lease: refused, file untouched
    with open(lease, "w") as f:
        f.write("other pid=1\n")
    with pytest.raises(LeaseContention):
        with dir_lease(path, role="compact"):
            pass
    assert os.path.exists(lease)

    # stale (beyond ttl): broken, acquired, released on exit
    old = time.time() - 7200
    os.utime(lease, (old, old))
    with dir_lease(path, role="compact", ttl_seconds=3600):
        with open(lease) as f:
            assert "compact" in f.read()
        # and a second writer now contends against OUR fresh lease
        with pytest.raises(LeaseContention):
            with dir_lease(path, role="absorber"):
                pass
    assert not os.path.exists(lease)


def test_curation_state_update_vs_compact_fenced(spark, tmp_path):
    """The state ROOT lease covers the whole multi-substrate update:
    compact() under a held lease refuses; the nested index lease is a
    distinct scope (no self-contention inside update)."""
    from lp_etl_plugins_spark.incremental import CurationState

    docs = _docs(spark)
    p = str(tmp_path / "state")
    st = CurationState.build(spark, docs.filter("doc_id < 300"), p)
    with dir_lease(p, role="absorber"):
        with pytest.raises(LeaseContention):
            st.compact()
        with pytest.raises(LeaseContention):
            st.update(docs.filter("doc_id >= 300"))
    # released: the update (which takes root AND <root>/index leases
    # internally) runs clean
    st.update(docs.filter("doc_id >= 300").localCheckpoint())
    assert st.check(index_stages=False)["ok"]


@pytest.mark.slow
def test_lease_mutual_exclusion_under_thread_storm(tmp_path):
    """Pure-protocol stress: 16 threads × 25 acquire attempts (with a
    planted STALE lease at the start, so the break-by-rename path is
    in the storm too). At no instant may two threads hold the lease —
    the holder counter never exceeds 1 — and contention always
    surfaces as LeaseContention, never a silent double-acquire."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    lease = f"{path}.__lease__"
    with open(lease, "w") as f:
        f.write("crashed pid=1\n")
    old = time.time() - 7200
    os.utime(lease, (old, old))

    lock = threading.Lock()
    state = {"holders": 0, "max_holders": 0, "acquired": 0}
    start = threading.Event()

    def worker():
        start.wait(10)
        for _ in range(25):
            try:
                with dir_lease(path, role="stress", ttl_seconds=3600):
                    with lock:
                        state["holders"] += 1
                        state["acquired"] += 1
                        state["max_holders"] = max(
                            state["max_holders"], state["holders"]
                        )
                    time.sleep(0.002)
                    with lock:
                        state["holders"] -= 1
            except LeaseContention:
                time.sleep(0.001)

    threads = [threading.Thread(target=worker) for _ in range(16)]
    for t in threads:
        t.start()
    start.set()
    for t in threads:
        t.join(60)

    assert state["acquired"] >= 1
    assert state["max_holders"] == 1, state
    assert not os.path.exists(lease)  # fully released at the end


def test_bounded_wait_acquires_after_release(tmp_path):
    """wait_seconds turns refusal into a bounded wait: a waiter polls
    out a short-lived holder and acquires, where the zero-wait default
    still refuses immediately."""
    path = str(tmp_path / "idx")
    os.makedirs(path)

    release = threading.Event()
    held = threading.Event()

    def holder():
        with dir_lease(path, role="absorber"):
            held.set()
            release.wait(10)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)
    # fail-fast default: refused while held
    with pytest.raises(LeaseContention):
        with dir_lease(path, role="vacuum"):
            pass
    # bounded wait: serializes behind the holder
    timer = threading.Timer(0.3, release.set)
    timer.start()
    t0 = time.monotonic()
    with dir_lease(path, role="vacuum", wait_seconds=10):
        elapsed = time.monotonic() - t0
    t.join(10)
    timer.cancel()
    assert elapsed >= 0.25, elapsed  # really waited the holder out
    assert not os.path.exists(f"{path}.__lease__")


def test_waiting_budget_elapses_into_contention(tmp_path):
    """A holder that never releases exhausts the wait budget and the
    contention surfaces exactly as in the fail-fast path."""
    from lp_etl_plugins_spark.lease import waiting

    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(f"{path}.__lease__", "w") as f:
        f.write("other pid=1\n")
    t0 = time.monotonic()
    with waiting(0.2):
        with pytest.raises(LeaseContention):
            with dir_lease(path, role="vacuum"):
                pass
    elapsed = time.monotonic() - t0
    assert 0.15 <= elapsed <= 5.0, elapsed
    assert os.path.exists(f"{path}.__lease__")  # foreign lease untouched


def test_waiting_scope_is_thread_local(tmp_path):
    """waiting() must not leak patience into absorber threads: with a
    waiting scope active on one thread, another thread's acquisition
    stays fail-fast."""
    from lp_etl_plugins_spark.lease import waiting

    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(f"{path}.__lease__", "w") as f:
        f.write("other pid=1\n")

    outcome: dict[str, float] = {}

    def absorber():
        t0 = time.monotonic()
        try:
            with dir_lease(path, role="absorber"):
                pass
        except LeaseContention:
            outcome["elapsed"] = time.monotonic() - t0

    with waiting(30.0):
        t = threading.Thread(target=absorber)
        t.start()
        t.join(10)
    assert outcome["elapsed"] < 1.0, outcome  # no inherited wait


@pytest.mark.slow
def test_vacuum_waits_out_live_writer(spark, tmp_path):
    """vacuum(lease_wait_seconds=N) serializes behind a short-lived
    absorber instead of deferring the compaction to the next sweep."""
    docs, path = _lm(spark, tmp_path)
    for lo, hi in ((300, 400), (400, 10_000)):
        lm = TrigramLM.load(spark, path)
        lm.update(docs.filter(f"doc_id >= {lo} and doc_id < {hi}"))
        lm.append_saved(path)

    assert storage.count_data_files(f"{path}/counts") >= 3

    release = threading.Event()
    held = threading.Event()

    def holder():
        with dir_lease(path, role="absorber"):
            held.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10)
    timer = threading.Timer(0.5, release.set)
    timer.start()
    row = M.vacuum(
        spark, [path], max_files_per_substrate=1, lease_wait_seconds=30
    ).collect()[0]
    t.join(10)
    timer.cancel()
    assert row["compacted"], row
    assert "lease_contention" not in row["violations"]
    assert storage.count_data_files(f"{path}/counts") == 1
