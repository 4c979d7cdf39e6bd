"""The lease backend seam (VERDICT r9 next #5).

``lease._acquire_once`` is written against four primitives
(try-create-exclusive / observe / break-if-unchanged / release);
``PosixLeaseBackend`` binds them to the local filesystem, and an
object-store deployment plugs a conditional-write (If-None-Match /
If-Match CAS) implementation. These tests prove the seam carries the
whole protocol: an injected in-memory CAS backend — the shape of an
object store's conditional ops, with NO rename and NO inode identity
— passes the same mutual-exclusion, staleness, TOCTOU, and
bounded-wait contracts the POSIX tests pin in ``tests/test_lease.py``.
"""

from __future__ import annotations

import threading
import time

import pytest

from lp_etl_plugins_spark.lease import (
    LeaseContention,
    PosixLeaseBackend,
    dir_lease,
    get_lease_backend,
    set_lease_backend,
    using_lease_backend,
)


class CasLeaseBackend:
    """In-memory conditional-write backend — the object-store shape:
    every operation is an atomic compare-and-swap on a versioned
    object (token = generation counter, the ETag analogue). One lock
    models the store's own linearizable conditional ops; there is no
    rename, no inode, no mtime — staleness rides the stored create
    time, identity rides the generation."""

    def __init__(self):
        self._lock = threading.Lock()
        self._store: dict[str, tuple[int, float, str]] = {}  # gen, t, payload
        self._gen = 0

    def try_create_exclusive(self, lease: str, payload: str) -> bool:
        with self._lock:
            if lease in self._store:
                return False
            self._gen += 1
            self._store[lease] = (self._gen, time.time(), payload)
            return True

    def observe(self, lease: str):
        with self._lock:
            row = self._store.get(lease)
            if row is None:
                return None
            gen, t, _ = row
            return (gen, time.time() - t)

    def read_holder(self, lease: str) -> str:
        with self._lock:
            row = self._store.get(lease)
            return row[2].strip() if row else ""

    def break_if_unchanged(self, lease: str, token) -> str:
        with self._lock:
            row = self._store.get(lease)
            if row is None:
                return "gone"
            if row[0] != token:
                return "changed"
            del self._store[lease]
            return "broken"

    def release(self, lease: str, token=None) -> None:
        # DELETE If-Match: <token> — the CAS form of the conditional
        # release; None keeps the unconditional legacy behavior
        with self._lock:
            row = self._store.get(lease)
            if row is None:
                return
            if token is not None and row[0] != token:
                return  # not ours anymore — a new holder owns it
            del self._store[lease]

    # test helpers ----------------------------------------------------
    def plant_stale(self, lease: str, age_seconds: float) -> None:
        with self._lock:
            self._gen += 1
            self._store[lease] = (
                self._gen, time.time() - age_seconds, "crashed pid=1"
            )

    def held(self, lease: str) -> bool:
        with self._lock:
            return lease in self._store


def _lease_name(tmp_path) -> str:
    return str(tmp_path / "idx") + ".__lease__"


def test_default_backend_is_posix_and_scope_restores():
    assert isinstance(get_lease_backend(), PosixLeaseBackend)
    fake = CasLeaseBackend()
    with using_lease_backend(fake) as b:
        assert get_lease_backend() is b is fake
    assert isinstance(get_lease_backend(), PosixLeaseBackend)


def test_injected_backend_acquire_contend_release(tmp_path):
    fake = CasLeaseBackend()
    path = str(tmp_path / "idx")
    with using_lease_backend(fake):
        with dir_lease(path, role="absorber"):
            assert fake.held(_lease_name(tmp_path))
            with pytest.raises(LeaseContention, match="absorber"):
                with dir_lease(path, role="compact"):
                    pass
        assert not fake.held(_lease_name(tmp_path))
        # released — a new writer acquires
        with dir_lease(path, role="compact"):
            pass


def test_injected_backend_stale_break(tmp_path):
    """A ttl-expired lease from a crashed writer is broken via the
    backend's conditional delete, then re-acquired — no POSIX rename
    involved."""
    fake = CasLeaseBackend()
    path = str(tmp_path / "idx")
    fake.plant_stale(_lease_name(tmp_path), age_seconds=7200)
    with using_lease_backend(fake):
        with pytest.raises(LeaseContention):
            with dir_lease(path, role="w", ttl_seconds=100_000):
                pass  # not stale at this ttl — refused
        with dir_lease(path, role="w", ttl_seconds=3600):
            assert fake.held(_lease_name(tmp_path))
    assert not fake.held(_lease_name(tmp_path))


def test_injected_backend_lost_stale_break_race(tmp_path):
    """The TOCTOU shape the POSIX backend closes with inode identity:
    between observe and break, the stale lease is replaced by a FRESH
    one (generation changed) — the backend reports "changed" and the
    acquire surfaces contention instead of stealing the new writer's
    lease."""
    fake = CasLeaseBackend()
    path = str(tmp_path / "idx")
    lease = _lease_name(tmp_path)
    fake.plant_stale(lease, age_seconds=7200)

    real_break = fake.break_if_unchanged
    raced = {"done": False}

    def racing_break(l, token):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent writer re-acquires between observe and break
            fake.release(l)
            assert fake.try_create_exclusive(l, "fresh writer")
        return real_break(l, token)

    fake.break_if_unchanged = racing_break
    with using_lease_backend(fake):
        with pytest.raises(LeaseContention, match="stale-break race"):
            with dir_lease(path, role="w", ttl_seconds=3600):
                pass
    # the fresh writer's lease survived the failed break
    assert fake.held(lease)
    assert fake.read_holder(lease) == "fresh writer"


@pytest.mark.slow
def test_injected_backend_thread_storm(tmp_path):
    """The round-8 storm test against the seam: 16 threads x 25
    attempts with a planted stale lease; at no instant two holders."""
    fake = CasLeaseBackend()
    path = str(tmp_path / "idx")
    fake.plant_stale(_lease_name(tmp_path), age_seconds=7200)

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

    with using_lease_backend(fake):
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        start.set()
        for t in threads:
            t.join(60)

    assert state["acquired"] >= 1
    assert state["max_holders"] == 1, state
    assert not fake.held(_lease_name(tmp_path))


def test_injected_backend_bounded_wait(tmp_path):
    """wait_seconds composes with an injected backend: a waiter polls
    through the seam until the holder releases."""
    fake = CasLeaseBackend()
    path = str(tmp_path / "idx")
    release = threading.Event()
    held = threading.Event()

    with using_lease_backend(fake):

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


def test_set_lease_backend_process_global(tmp_path):
    """set_lease_backend installs for every later acquisition (the
    deployment entry point); restore the default afterwards."""
    fake = CasLeaseBackend()
    prev = get_lease_backend()
    set_lease_backend(fake)
    try:
        with dir_lease(str(tmp_path / "idx"), role="w"):
            assert fake.held(_lease_name(tmp_path))
    finally:
        set_lease_backend(prev)
    assert get_lease_backend() is prev


def test_posix_release_is_conditional_on_holder_token(tmp_path):
    """The round-10 restore-window find, release half: a writer whose
    lease was expired-and-broken must NOT yank the NEW holder's lease
    on its way out. POSIX has no conditional unlink, so release(token)
    runs the same rename-and-verify dance as the breaker."""
    import os

    from lp_etl_plugins_spark.lease import PosixLeaseBackend

    be = PosixLeaseBackend()
    lease = _lease_name(tmp_path)
    assert be.try_create_exclusive(lease, "w1\n")
    w1_token = be.observe(lease)[0]
    # a breaker expires w1 and a new writer w2 acquires
    os.unlink(lease)
    assert be.try_create_exclusive(lease, "w2\n")
    # w1's conditional release must leave w2's lease in place
    be.release(lease, w1_token)
    assert os.path.exists(lease)
    assert be.read_holder(lease) == "w2"
    # w2's own conditional release removes it
    w2_token = be.observe(lease)[0]
    be.release(lease, w2_token)
    assert not os.path.exists(lease)


def test_posix_breaker_restore_detects_fresh_and_restores(tmp_path):
    """break_if_unchanged on a lease REPLACED between observe and
    break: identity mismatch detected, the fresh lease restored via
    the no-clobber link, no evidence files left behind."""
    import glob
    import os

    from lp_etl_plugins_spark.lease import PosixLeaseBackend

    be = PosixLeaseBackend()
    lease = _lease_name(tmp_path)
    assert be.try_create_exclusive(lease, "stale\n")
    stale_token = be.observe(lease)[0]
    os.unlink(lease)
    assert be.try_create_exclusive(lease, "fresh\n")
    out = be.break_if_unchanged(lease, stale_token)
    assert out == "changed"
    assert be.read_holder(lease) == "fresh"
    assert not glob.glob(f"{lease}.broken.*")


def test_posix_breaker_restore_collision_preserves_evidence(
    tmp_path, monkeypatch
):
    """The round-10 restore-window find, breaker half: when the
    no-clobber restore link collides with a third writer's fresh
    lease (simulated by a link that raises FileExistsError), the
    displaced writer's file must SURVIVE as *.broken.* evidence
    instead of being silently destroyed — its conditional release can
    then still detect the displacement."""
    import glob
    import os

    from lp_etl_plugins_spark.lease import PosixLeaseBackend

    be = PosixLeaseBackend()
    lease = _lease_name(tmp_path)
    assert be.try_create_exclusive(lease, "stale\n")
    stale_token = be.observe(lease)[0]
    os.unlink(lease)
    assert be.try_create_exclusive(lease, "fresh\n")

    real_link = os.link

    def colliding_link(src, dst, **kw):
        # the third writer wins the path between rename and restore
        raise FileExistsError(dst)

    monkeypatch.setattr(os, "link", colliding_link)
    out = be.break_if_unchanged(lease, stale_token)
    monkeypatch.setattr(os, "link", real_link)
    assert out == "changed"
    # the displaced fresh lease survives as evidence, not destroyed
    evidence = glob.glob(f"{lease}.broken.*")
    assert len(evidence) == 1
    with open(evidence[0]) as f:
        assert f.read().strip() == "fresh"


def test_posix_release_foreign_token_never_renames(tmp_path, monkeypatch):
    """Round-11 advice fix: release(token) must OBSERVE FIRST and
    return when the lease is already not ours — the old order renamed
    the live holder's lease away before the identity check, opening a
    window where a third writer could acquire (and the restore link
    could collide, leaking the HOLDER's lease as *.release.*
    evidence). White-box: a foreign-token release performs zero
    renames."""
    import glob
    import os

    from lp_etl_plugins_spark import lease as L

    be = L.PosixLeaseBackend()
    lease = _lease_name(tmp_path)
    assert be.try_create_exclusive(lease, "w1\n")
    w1_token = be.observe(lease)[0]
    os.unlink(lease)  # a breaker expires w1
    assert be.try_create_exclusive(lease, "w2\n")  # new holder

    renames = []
    real_rename = os.rename

    def recording_rename(src, dst):
        renames.append((src, dst))
        return real_rename(src, dst)

    monkeypatch.setattr(L.os, "rename", recording_rename)
    be.release(lease, w1_token)
    assert renames == []  # w2's lease was never touched, even briefly
    assert be.read_holder(lease) == "w2"
    assert not glob.glob(f"{lease}.release.*")
    # and the holder's OWN release still removes it (rename path runs)
    w2_token = be.observe(lease)[0]
    be.release(lease, w2_token)
    assert renames and not os.path.exists(lease)


def test_acquire_vanished_observe_release_cannot_yank_new_holder(tmp_path):
    """Round-11 advice fix: _acquire_once's post-create observe can
    find NO lease (a pathological vanish between create and observe);
    returning None there routed dir_lease's exit through release's
    UNCONDITIONAL unlink — exactly the stolen-unlink of a new holder's
    lease the conditional release exists to prevent. The None observe
    now yields a never-matching sentinel, so the exit release no-ops."""
    import os

    from lp_etl_plugins_spark.lease import (
        PosixLeaseBackend,
        dir_lease,
        using_lease_backend,
    )

    class VanishingObserve(PosixLeaseBackend):
        def __init__(self):
            self.vanished = False

        def observe(self, lease):
            if not self.vanished:
                self.vanished = True
                return None  # the post-create observe finds nothing
            return super().observe(lease)

    be = VanishingObserve()
    path = str(tmp_path / "idx")
    lease = path + ".__lease__"
    with using_lease_backend(be):
        with dir_lease(path, role="w1"):
            # mid-operation: a breaker expires w1, a new writer acquires
            os.unlink(lease)
            assert be.try_create_exclusive(lease, "w2\n")
    # w1's exit must leave w2's lease in place
    assert os.path.exists(lease)
    assert PosixLeaseBackend().read_holder(lease) == "w2"
    os.unlink(lease)
