"""Single-writer fencing for index directories (VERDICT r8 #2).

Every index family's crash contract assumes ONE writer replaying: the
absorbers' redo machinery reconstructs from an arbitrary landed subset
of its OWN writes, but nothing stopped ``maintenance.vacuum``'s
rename-aside compaction from racing a concurrent
``append_saved``/``foreach_batch_*`` on the same directory — an append
landing between :func:`storage.rewrite_parquet_dir`'s temp-write and
its swap is deleted with the ``.__old__`` directory, silently losing
rows (the two-thread test in ``tests/test_lease.py`` demonstrates
exactly that loss without the lease). A real nightly deployment runs
exactly this pair.

The fence is a LEASE FILE beside the index directory
(``<path>.__lease__`` — a sibling, so it survives every substrate's
rename-aside swap and works before the directory exists):

- **acquire** = atomic exclusive create — ``O_CREAT | O_EXCL`` under
  the default :class:`PosixLeaseBackend` (the POSIX mutual-exclusion
  primitive on a local filesystem — the same driver-local assumption
  as the rename swap itself). Round 10: the protocol is written
  against a four-primitive BACKEND SEAM (try-create-exclusive /
  observe / break-if-unchanged / release), so an object-store
  deployment plugs a conditional-write implementation
  (``PUT If-None-Match`` / ``DELETE If-Match`` CAS) via
  :func:`set_lease_backend` and gets the identical fencing protocol
  — no table format required;
- **contention** = loud :class:`LeaseContention` refusal, never
  blocking — the caller decides whether to retry, reschedule, or
  surface it (a nightly vacuum skips the path and reports; a
  streaming absorber lets the micro-batch fail and replay);
- **stale expiry** = a lease older than ``ttl_seconds`` (mtime) is
  from a crashed writer — it is broken by RENAME (exactly one breaker
  wins the rename; losers re-enter the acquire loop), so two
  concurrent breakers cannot both think they removed it and both
  acquire;
- **release** = unlink on exit, crash-tolerated (a leaked lease
  expires by ttl).

Scope: every mutation path acquires it — the per-family
``append_saved`` / ``update`` absorb operations and every
``compact()`` (including ``maintenance.vacuum``'s threshold
compaction). Reads never do: every reader serves committed rows only
(meta-stamp filtering), so a read concurrent with an append or a
rename-aside swap was already safe. Nested acquisition composes
because the scopes are distinct paths (``CurationState.update`` holds
the state ROOT lease while its index half takes ``<root>/index`` —
two files), and a same-path re-entry is a genuine bug the contention
error surfaces.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from . import storage


class LeaseContention(RuntimeError):
    """Another writer holds the directory lease — refused loudly
    rather than silently racing the crash contracts."""


class PosixLeaseBackend:
    """The default lease backend: POSIX primitives on a driver-local
    filesystem (round 10 — the seam VERDICT r9 #5 asked for).

    The acquire protocol (:func:`_acquire_once`) is written against
    FOUR primitives; this class binds them to the local-filesystem
    operations the engine has always used, and an object-store
    deployment plugs a conditional-write implementation of the same
    interface instead (the mapping each docstring names) via
    :func:`set_lease_backend` / :func:`using_lease_backend` — writer
    fencing then rides the store's compare-and-swap instead of POSIX
    semantics, with the identical protocol, staleness policy, and
    contention surface (the injected-backend suite in
    ``tests/test_lease_backend.py`` runs the storm/TOCTOU tests
    against exactly this seam).

    Tokens are OPAQUE to the protocol: this backend uses
    ``(inode, mtime)`` — the identity pair the round-8 TOCTOU fix
    introduced — where an object store uses its ETag/generation."""

    def try_create_exclusive(self, lease: str, payload: str) -> bool:
        """Atomically create the lease iff absent; False when a lease
        already exists. POSIX: ``O_CREAT | O_EXCL``. Object store:
        ``PUT If-None-Match: *`` (returns False on 412)."""
        parent = os.path.dirname(lease)
        if parent:
            os.makedirs(parent, exist_ok=True)
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, payload.encode())
        finally:
            os.close(fd)
        return True

    def observe(self, lease: str):
        """→ ``(token, age_seconds)`` of the current lease, or None if
        absent. POSIX: ``stat`` → ((inode, mtime), now - mtime).
        Object store: ``HEAD``/``GET`` → (ETag, now - Last-Modified)."""
        try:
            st = os.stat(lease)
        except FileNotFoundError:
            return None
        return ((st.st_ino, st.st_mtime), time.time() - st.st_mtime)

    def read_holder(self, lease: str) -> str:
        """Best-effort holder payload for the contention message."""
        try:
            with open(lease) as f:
                return f.read().strip()
        except OSError:
            return ""

    def break_if_unchanged(self, lease: str, token) -> str:
        """Remove the lease IFF it is still the observed (stale) one:
        → ``"broken"`` (removed), ``"gone"`` (already absent — another
        breaker won; retry the create), ``"changed"`` (a fresh lease
        replaced it between observe and break — lost the race).
        Object store: conditional ``DELETE If-Match: <token>`` (404 →
        gone, 412 → changed). POSIX has no conditional unlink, so the
        break is a rename to a unique name followed by an identity
        VERIFY — a mismatch means the rename moved a FRESH lease
        (the cross-process TOCTOU window), which is restored with a
        no-clobber link before reporting the loss."""
        uniq = f"{lease}.broken.{os.getpid()}.{threading.get_ident()}"
        try:
            os.rename(lease, uniq)
        except FileNotFoundError:
            return "gone"
        moved = os.stat(uniq)
        if (moved.st_ino, moved.st_mtime) != token:
            try:
                os.link(uniq, lease)  # fails rather than clobbers
                os.unlink(uniq)
            except FileExistsError:
                # a THIRD writer created a new lease between the
                # rename and the restore link. Do NOT unlink uniq:
                # that would destroy the displaced fresh writer's
                # lease file entirely, and its conditional release
                # (below) could then never detect the displacement.
                # The file leaks as *.broken.* evidence instead —
                # mutual exclusion for the displaced writer was
                # already lost at the rename (the POSIX residual a
                # CAS backend's conditional DELETE closes); what this
                # branch guarantees is that the loss stays DETECTABLE
                # (round-10 review find).
                pass
            return "changed"
        os.unlink(uniq)
        return "broken"

    def release(self, lease: str, token=None) -> None:
        """Remove the held lease. With ``token`` (the holder's observe
        token from acquisition), the removal is CONDITIONAL: a lease
        file that is no longer ours — a breaker expired us and a new
        writer acquired — is left in place instead of being yanked
        from under the new holder (the unconditional unlink was the
        second half of the round-10 restore-window find). POSIX has no
        conditional unlink, so this is the same rename-and-verify
        dance as :meth:`break_if_unchanged`; a missing file is fine
        (a breaker expired us — the ttl already vouched the risk).
        Object store: ``DELETE If-Match: <token>``.

        Round-11 advice fix: the identity check runs on an OBSERVE
        FIRST — when the lease at the path is already not ours (a
        breaker expired us and a new writer acquired), return without
        touching it at all. The previous order renamed first, so every
        displaced writer's exit momentarily removed the live holder's
        lease (a third writer could acquire in that window, and the
        restore link could collide, leaking the HOLDER's file as
        ``*.release.*`` evidence). The rename-and-verify dance now
        runs only when the observed token equals ours, confining the
        unavoidable POSIX observe→rename window to genuine races."""
        if token is None:
            try:
                os.unlink(lease)
            except FileNotFoundError:
                pass
            return
        obs = self.observe(lease)
        if obs is None or obs[0] != token:
            return  # not ours (or gone) — nothing to release
        uniq = f"{lease}.release.{os.getpid()}.{threading.get_ident()}"
        try:
            os.rename(lease, uniq)
        except FileNotFoundError:
            return
        moved = os.stat(uniq)
        if (moved.st_ino, moved.st_mtime) != token:
            try:
                os.link(uniq, lease)
                os.unlink(uniq)
            except FileExistsError:
                pass  # same leak-as-evidence contract as the breaker
            return
        os.unlink(uniq)


class LeaseStoreUnavailable(RuntimeError):
    """The object store kept failing transiently past the retry
    budget — surfaced loudly (an outage is NOT contention: the caller
    must not treat it as "another writer holds the lease")."""


class TransientStoreError(Exception):
    """A 5xx / timeout from the object store — retryable."""


class ObjectStoreLeaseBackend:
    """The lease protocol's four primitives bound to an HTTP-shaped
    conditional-write object API (round 11 — VERDICT r10 Next #6,
    the integration proof for the round-10 seam): S3/GCS-style
    ``PUT If-None-Match: *`` / ``HEAD`` / ``DELETE If-Match: <etag>``
    semantics, over a network that can be SLOW and LOSSY. The client
    must expose:

    - ``put_if_none_match(key, body) -> (status, etag)`` — 200 created,
      412 exists;
    - ``head(key) -> (status, etag, age_seconds, body)`` — 200 / 404;
    - ``delete_if_match(key, etag) -> status`` — 204 deleted,
      404 absent, 412 etag mismatch;

    any of which may raise ``TransientStoreError`` (a 5xx / timeout).
    Tokens are the store's ETags — opaque here, exactly as the seam
    prescribes.

    Two network realities the POSIX backend never faces are handled
    explicitly:

    - **bounded retry**: every call retries transient failures up to
      ``max_retries`` with a fixed backoff, then raises
      :class:`LeaseStoreUnavailable` (loud, not contention);
    - **lost-response PUT**: a create whose request APPLIED but whose
      response was lost looks like 412-exists on retry — while WE are
      the holder. The backend stamps every acquisition payload with a
      per-call nonce and, on a 412 that follows a transient failure,
      reads the holder back: our own nonce means the create DID land
      and the acquire reports success (the payload/holder round-trip
      the conformance suite pins). A lost-response DELETE is already
      safe: the retry sees 404 → "gone", and the acquire loop
      re-enters the create.
    """

    def __init__(self, client, *, max_retries: int = 4, backoff_seconds: float = 0.01):
        self._client = client
        self._max_retries = int(max_retries)
        self._backoff = float(backoff_seconds)

    def _call(self, fn, *args):
        last = None
        for attempt in range(self._max_retries + 1):
            try:
                return attempt > 0, fn(*args)
            except TransientStoreError as e:  # noqa: PERF203
                last = e
                time.sleep(self._backoff)
        raise LeaseStoreUnavailable(
            f"object store kept failing past {self._max_retries} retries: {last}"
        )

    def try_create_exclusive(self, lease: str, payload: str) -> bool:
        import uuid

        body = f"{payload.rstrip()} nonce={uuid.uuid4().hex}\n"
        retried, (status, _etag) = self._call(
            self._client.put_if_none_match, lease, body
        )
        if status == 200:
            return True
        if status == 412 and retried:
            # the lost-response window: did OUR create land?
            _, head = self._call(self._client.head, lease)
            if head[0] == 200 and head[3] == body:
                return True
        return False

    def observe(self, lease: str):
        _, (status, etag, age, _body) = self._call(self._client.head, lease)
        if status != 200:
            return None
        return (etag, age)

    def read_holder(self, lease: str) -> str:
        try:
            _, (status, _etag, _age, body) = self._call(self._client.head, lease)
        except LeaseStoreUnavailable:
            return ""
        return body.strip() if status == 200 else ""

    def break_if_unchanged(self, lease: str, token) -> str:
        _, status = self._call(self._client.delete_if_match, lease, token)
        if status == 204:
            return "broken"
        if status == 404:
            # already absent — either another breaker won, or OUR
            # delete applied and its response was lost; both converge
            # through the acquire loop's create retry
            return "gone"
        return "changed"

    def release(self, lease: str, token=None) -> None:
        if token is None:
            # unconditional legacy release: best-effort delete at the
            # current generation
            obs = self.observe(lease)
            if obs is None:
                return
            self._call(self._client.delete_if_match, lease, obs[0])
            return
        if not isinstance(token, (str, bytes, int)):
            return  # never-matching sentinel (vanished-observe acquire)
        self._call(self._client.delete_if_match, lease, token)


_BACKEND = PosixLeaseBackend()


def get_lease_backend():
    return _BACKEND


def set_lease_backend(backend) -> None:
    """Install a process-wide lease backend (an object-store
    deployment does this once at startup). Every subsequent
    :func:`dir_lease` acquisition uses it."""
    global _BACKEND
    _BACKEND = backend


@contextmanager
def using_lease_backend(backend):
    """Scope a lease backend for a ``with`` block (the test seam —
    the injected-backend suite runs the protocol tests under this)."""
    global _BACKEND
    prev = _BACKEND
    _BACKEND = backend
    try:
        yield backend
    finally:
        _BACKEND = prev


# Thread-local default wait budget (see :func:`waiting`): lets a
# caller that WANTS to serialize behind a live writer (the nightly
# vacuum waiting out a streaming absorber's micro-batch) declare that
# once, without threading a wait parameter through every family's
# compact()/append_saved() signature. Thread-local on purpose — an
# absorber driver thread keeps fail-fast semantics while a vacuum
# thread in the same process waits.
_WAIT = threading.local()


@contextmanager
def waiting(seconds: float):
    """Scope a default ``wait_seconds`` for every :func:`dir_lease`
    acquisition on THIS thread: inside the block, lease contention
    polls (50 ms cadence) until the holder releases or ``seconds``
    elapses, then raises :class:`LeaseContention` as before. An
    explicit ``dir_lease(..., wait_seconds=...)`` still wins. Nests by
    shadowing (inner scope's budget applies; outer restored on exit)."""
    prev = getattr(_WAIT, "seconds", None)
    _WAIT.seconds = float(seconds)
    try:
        yield
    finally:
        if prev is None:
            del _WAIT.seconds
        else:
            _WAIT.seconds = prev


# Serializes the acquire/stale-break section WITHIN a process: the
# realistic contention (absorber driver threads vs a vacuum thread in
# the one Spark driver) is same-process, and without this lock the
# stale-break path has a TOCTOU hole — a breaker's rename acts on
# whatever file is at the path AT RENAME TIME, which can be a FRESH
# lease created between the staleness stat and the rename (the
# 16-thread storm test caught exactly that: two holders at once).
# Held only across the acquire attempt, never across the caller's
# operation. Cross-process, the same window is closed by the
# identity check below.
_ACQUIRE_LOCK = threading.Lock()


def _lease_file(path: str) -> str:
    return storage.local_path(path).rstrip("/") + ".__lease__"


@contextmanager
def dir_lease(
    path: str,
    *,
    role: str,
    ttl_seconds: float = 3600.0,
    wait_seconds: float | None = None,
):
    """Hold the single-writer lease for ``path`` for the duration of
    the ``with`` block. Raises :class:`LeaseContention` when a live
    (non-expired) lease exists. ``role`` is recorded in the lease file
    for the contention message ("append_saved", "compact", ...);
    ``ttl_seconds`` bounds how long a crashed writer's leaked lease
    fences the directory — size it above the operation's worst-case
    runtime (the default 1 h covers any single compaction/absorb this
    engine runs; a multi-hour job passes its own).

    ``wait_seconds`` (or an enclosing :func:`waiting` scope) turns the
    refusal into a BOUNDED wait: contention is retried on a 50 ms poll
    until the holder releases or the budget elapses, then raised. The
    default stays fail-fast — an absorber's micro-batch should fail
    and replay, not queue; it is the scheduled maintenance caller that
    knows it can afford to wait."""
    lease = _lease_file(path)
    budget = (
        float(wait_seconds)
        if wait_seconds is not None
        else float(getattr(_WAIT, "seconds", 0.0))
    )
    deadline = time.monotonic() + budget
    while True:
        try:
            my_token = _acquire_once(lease, path, role, ttl_seconds)
            break
        except LeaseContention:
            now = time.monotonic()
            if now >= deadline:
                raise
            time.sleep(min(0.05, deadline - now))
    backend = _BACKEND
    try:
        yield
    finally:
        # conditional: if a breaker expired us and a NEW writer
        # acquired, leave ITS lease in place instead of yanking it
        backend.release(lease, my_token)


def _acquire_once(
    lease: str, path: str, role: str, ttl_seconds: float
):
    """One acquire attempt (create, or break a stale lease and
    create): returns the holder's observe token on success (the
    conditional-release anchor), raises :class:`LeaseContention`
    otherwise. Serialized process-wide by ``_ACQUIRE_LOCK`` (never
    held across the caller's operation). Written entirely against the
    four :class:`PosixLeaseBackend` primitives, so an injected
    conditional-write backend gets the identical protocol."""
    backend = _BACKEND
    acquired = False
    with _ACQUIRE_LOCK:
        for _ in range(3):
            if backend.try_create_exclusive(
                lease, f"{role} pid={os.getpid()} t={time.time()}\n"
            ):
                acquired = True
                break
            obs = backend.observe(lease)
            if obs is None:
                continue  # holder released between create and observe
            token, age = obs
            if age <= ttl_seconds:
                holder = backend.read_holder(lease)
                raise LeaseContention(
                    f"{role}: another writer holds the lease on {path}"
                    f"{' (' + holder + ')' if holder else ''} — "
                    "concurrent mutation would race the crash "
                    "contracts; retry after it releases, or remove "
                    "the stale lease file if the holder is known "
                    f"dead ({lease})"
                )
            # stale (crashed writer): break CONDITIONALLY on the
            # observed token — whatever sits at the path at break time
            # could be a FRESH lease created between observe and break
            # (the round-8 TOCTOU), which the backend must detect and
            # leave in place
            outcome = backend.break_if_unchanged(lease, token)
            if outcome == "gone":
                continue  # another breaker won — retry the create
            if outcome == "changed":
                raise LeaseContention(
                    f"{role}: lost the stale-break race on {path} to a "
                    "writer that re-acquired first — retry later"
                )
            # "broken" — loop back to the create
        if acquired:
            # capture OUR token while still inside the acquire lock —
            # the conditional-release anchor. (A cross-process breaker
            # racing this observe would make us capture an impostor's
            # token; the failure direction is a release no-op, never a
            # stolen unlink.) A None observe — the lease vanished
            # between create and observe — returns a NEVER-MATCHING
            # sentinel, not None: None would select release()'s
            # UNCONDITIONAL unlink path, i.e. exactly the stolen-unlink
            # of a new holder's lease this machinery exists to prevent
            # (round-11 advice fix); the sentinel makes the conditional
            # release a no-op instead.
            obs = backend.observe(lease)
            return obs[0] if obs is not None else object()
    raise LeaseContention(
        f"{role}: could not acquire the lease on {path} after "
        "stale-break retries — a writer keeps re-acquiring it"
    )
