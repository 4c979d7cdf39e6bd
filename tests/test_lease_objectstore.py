"""Object-store lease backend integration proof (round 11 — VERDICT
r10 Next #6): the round-10 CAS conformance suite ran against an
in-memory generation counter; this binds the seam to a REAL
conditional-write API surface — an S3/GCS-shaped ETag store with
injected per-call LATENCY and TRANSIENT FAULTS (including the
lost-response window where an operation APPLIES but its response is
dropped) — and proves the protocol carries payload/holder semantics
over network retry:

- the storm/TOCTOU/stale-break/bounded-wait battery green under
  latency;
- a lost-response PUT retried as 412 is recognized as OUR OWN create
  via the payload nonce round-trip (acquire succeeds, release with
  the observed ETag works);
- a lost-response DELETE converges through 404 → "gone" → re-create;
- transient 5xx bursts retry within budget; an outage past the budget
  raises LeaseStoreUnavailable (loud, never treated as contention);
- the token-conditional release: a displaced writer's exit cannot
  delete the new holder's object (ETag mismatch → 412 no-op).
"""

from __future__ import annotations

import threading
import time
import uuid

import pytest

from lp_etl_plugins_spark.lease import (
    LeaseContention,
    LeaseStoreUnavailable,
    ObjectStoreLeaseBackend,
    TransientStoreError,
    dir_lease,
    using_lease_backend,
)


class EtagStore:
    """A linearizable conditional-write object store with HTTP-shaped
    semantics: PUT If-None-Match:* / HEAD / DELETE If-Match, ETags as
    uuids, Last-Modified ages. One lock models the store's own atomic
    conditional ops. ``latency`` sleeps per call (network RTT);
    ``fault(op, key)`` may return "fail" (5xx BEFORE applying) or
    "lose" (apply, then 5xx — the lost-response window)."""

    def __init__(self, latency: float = 0.0, fault=None):
        self._lock = threading.Lock()
        self._objs: dict[str, tuple[str, float, str]] = {}  # etag, t, body
        self.latency = latency
        self.fault = fault or (lambda op, key: None)
        self.calls: list[tuple[str, str]] = []

    def _enter(self, op: str, key: str) -> str | None:
        if self.latency:
            time.sleep(self.latency)
        self.calls.append((op, key))
        return self.fault(op, key)

    def put_if_none_match(self, key: str, body: str):
        mode = self._enter("put", key)
        if mode == "fail":
            raise TransientStoreError("503 on PUT (not applied)")
        with self._lock:
            if key in self._objs:
                applied, out = False, (412, None)
            else:
                etag = uuid.uuid4().hex
                self._objs[key] = (etag, time.time(), body)
                applied, out = True, (200, etag)
        if mode == "lose":
            raise TransientStoreError(
                f"response lost after PUT ({'applied' if applied else 'no-op'})"
            )
        return out

    def head(self, key: str):
        mode = self._enter("head", key)
        if mode in ("fail", "lose"):
            raise TransientStoreError("503 on HEAD")
        with self._lock:
            row = self._objs.get(key)
            if row is None:
                return (404, None, None, None)
            etag, t, body = row
            return (200, etag, time.time() - t, body)

    def delete_if_match(self, key: str, etag):
        mode = self._enter("delete", key)
        if mode == "fail":
            raise TransientStoreError("503 on DELETE (not applied)")
        with self._lock:
            row = self._objs.get(key)
            if row is None:
                out = 404
            elif row[0] != etag:
                out = 412
            else:
                del self._objs[key]
                out = 204
        if mode == "lose":
            raise TransientStoreError("response lost after DELETE")
        return out

    # test helpers ----------------------------------------------------
    def plant_stale(self, key: str, age_seconds: float) -> str:
        with self._lock:
            etag = uuid.uuid4().hex
            self._objs[key] = (etag, time.time() - age_seconds, "crashed pid=1")
            return etag

    def held(self, key: str) -> bool:
        with self._lock:
            return key in self._objs

    def holder(self, key: str) -> str:
        with self._lock:
            row = self._objs.get(key)
            return row[2] if row else ""


def _lease_name(tmp_path) -> str:
    return str(tmp_path / "idx") + ".__lease__"


def _backend(store, **kw):
    return ObjectStoreLeaseBackend(store, backoff_seconds=0.001, **kw)


def test_acquire_contend_release_under_latency(tmp_path):
    store = EtagStore(latency=0.002)
    path = str(tmp_path / "idx")
    with using_lease_backend(_backend(store)):
        with dir_lease(path, role="absorber"):
            assert store.held(_lease_name(tmp_path))
            with pytest.raises(LeaseContention, match="absorber"):
                with dir_lease(path, role="compact"):
                    pass
        assert not store.held(_lease_name(tmp_path))
        with dir_lease(path, role="compact"):
            pass


def test_stale_break_and_ttl(tmp_path):
    store = EtagStore(latency=0.001)
    path = str(tmp_path / "idx")
    store.plant_stale(_lease_name(tmp_path), age_seconds=7200)
    with using_lease_backend(_backend(store)):
        with pytest.raises(LeaseContention):
            with dir_lease(path, role="w", ttl_seconds=100_000):
                pass
        with dir_lease(path, role="w", ttl_seconds=3600):
            assert store.held(_lease_name(tmp_path))
    assert not store.held(_lease_name(tmp_path))


def test_lost_stale_break_race_reports_changed(tmp_path):
    """Between observe and conditional delete, the stale object is
    replaced by a fresh writer — DELETE If-Match 412s, the acquire
    surfaces contention, the fresh lease survives."""
    store = EtagStore()
    path = str(tmp_path / "idx")
    lease = _lease_name(tmp_path)
    store.plant_stale(lease, age_seconds=7200)
    raced = {"done": False}
    real_delete = store.delete_if_match

    def racing_delete(key, etag):
        if not raced["done"]:
            raced["done"] = True
            with store._lock:
                del store._objs[key]
            store._objs[key] = (uuid.uuid4().hex, time.time(), "fresh writer")
        return real_delete(key, etag)

    store.delete_if_match = racing_delete
    with using_lease_backend(_backend(store)):
        with pytest.raises(LeaseContention, match="stale-break race"):
            with dir_lease(path, role="w", ttl_seconds=3600):
                pass
    assert store.holder(lease) == "fresh writer"


def test_lost_response_put_recognized_as_own_create(tmp_path):
    """The network-CAS subtlety POSIX never faces: the create APPLIES
    but its response is lost; the retry sees 412-exists. The payload
    nonce round-trip must recognize the holder as US — acquire
    succeeds, and the exit release (conditional on the observed ETag)
    removes exactly our object."""
    drop = {"left": 1}

    def fault(op, key):
        if op == "put" and drop["left"]:
            drop["left"] -= 1
            return "lose"
        return None

    store = EtagStore(fault=fault)
    path = str(tmp_path / "idx")
    with using_lease_backend(_backend(store)):
        with dir_lease(path, role="writer"):
            assert store.held(_lease_name(tmp_path))
            assert "writer" in store.holder(_lease_name(tmp_path))
    assert not store.held(_lease_name(tmp_path))


def test_lost_response_delete_converges_via_gone(tmp_path):
    """A stale-break DELETE that applies but loses its response: the
    retry sees 404 → "gone" → the acquire loop re-creates."""
    drop = {"left": 1}

    def fault(op, key):
        if op == "delete" and drop["left"]:
            drop["left"] -= 1
            return "lose"
        return None

    store = EtagStore(fault=fault)
    path = str(tmp_path / "idx")
    store.plant_stale(_lease_name(tmp_path), age_seconds=7200)
    with using_lease_backend(_backend(store)):
        with dir_lease(path, role="w", ttl_seconds=3600):
            assert store.held(_lease_name(tmp_path))
    assert not store.held(_lease_name(tmp_path))


def test_transient_bursts_retry_and_outage_raises(tmp_path):
    burst = {"left": 3}

    def fault(op, key):
        if op == "put" and burst["left"]:
            burst["left"] -= 1
            return "fail"
        return None

    store = EtagStore(fault=fault)
    path = str(tmp_path / "idx")
    with using_lease_backend(_backend(store)):
        with dir_lease(path, role="w"):  # 3 x 503 then success, in budget
            pass
    # an outage past the budget is LOUD, never contention
    dead = EtagStore(fault=lambda op, key: "fail")
    with using_lease_backend(_backend(dead, max_retries=2)):
        with pytest.raises(LeaseStoreUnavailable):
            with dir_lease(path, role="w"):
                pass


def test_conditional_release_cannot_yank_new_holder(tmp_path):
    store = EtagStore()
    be = _backend(store)
    lease = _lease_name(tmp_path)
    assert be.try_create_exclusive(lease, "w1")
    w1_token = be.observe(lease)[0]
    # a breaker expires w1; a new writer acquires
    assert be.break_if_unchanged(lease, w1_token) == "broken"
    assert be.try_create_exclusive(lease, "w2")
    be.release(lease, w1_token)  # ETag mismatch -> 412 no-op
    assert store.held(lease)
    assert "w2" in store.holder(lease)
    be.release(lease, be.observe(lease)[0])
    assert not store.held(lease)


@pytest.mark.slow
def test_thread_storm_under_latency(tmp_path):
    """The round-8 storm against the bound backend WITH network
    latency: 16 threads x 12 attempts, planted stale lease, at no
    instant two holders."""
    store = EtagStore(latency=0.001)
    path = str(tmp_path / "idx")
    store.plant_stale(_lease_name(tmp_path), age_seconds=7200)

    lock = threading.Lock()
    state = {"holders": 0, "max_holders": 0, "acquired": 0}
    start = threading.Event()

    def worker():
        start.wait(10)
        for _ in range(12):
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

    with using_lease_backend(_backend(store)):
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        start.set()
        for t in threads:
            t.join(60)

    assert state["acquired"] >= 1
    assert state["max_holders"] == 1, state
    assert not store.held(_lease_name(tmp_path))


def test_bounded_wait_through_the_store(tmp_path):
    store = EtagStore(latency=0.001)
    path = str(tmp_path / "idx")
    release = threading.Event()
    held = threading.Event()
    with using_lease_backend(_backend(store)):

        def hold():
            with dir_lease(path, role="absorber"):
                held.set()
                release.wait(30)

        t = threading.Thread(target=hold)
        t.start()
        assert held.wait(10)
        timer = threading.Timer(0.3, release.set)
        timer.start()
        t0 = time.monotonic()
        with dir_lease(path, role="vacuum", wait_seconds=10):
            waited = time.monotonic() - t0
        t.join(10)
        timer.cancel()
    assert 0.1 <= waited < 10
