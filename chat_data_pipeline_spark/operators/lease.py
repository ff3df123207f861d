"""Root-level writer lease (r16): the single-writer-per-store-root
contract as CODE instead of a docstring.

Every persisted store here (BM25 / IVF / IVF-PQ / MinHash signature /
SRP near-dup) is crash-safe under ONE writer at a time: deliveries and
takedowns are ledger-committed and replay-idempotent, and compaction
spends the ids it folds.  What none of that machinery can survive is a
compaction RACING another writer — a takedown (or delivery) committing
between the compactor's ledger snapshot and its base rewrite would be
folded-over without being spent, a corruption-shaped failure the r15
verdict flagged as the one remaining structural gap ("promote the
docstring caveat to a runtime guard or lease").

This module is that guard: a lease file under the store root that every
ORCHESTRATION-layer writer takes around its mutation — each delivery /
takedown stream trigger (`streaming/pipeline.py`), and the CLI's
`maintain:` / `takedown:` / `action: auto_compact` blocks.  Two streams
sharing a root then SERIALIZE per micro-batch (the second blocks until
the first's trigger — including any writer-side auto-compaction — ends),
and a contender that cannot get the lease inside its wait budget fails
LOUDLY instead of racing.

Mechanics (plain Hadoop-FS metadata ops — HDFS/S3A/local alike, never a
Spark job):

- acquisition is one atomic exclusive create of
  ``{root}/_writer_lease/LOCK`` — exactly one contender wins (see
  ``_atomic_create`` for the per-scheme arbiter: JDK O_CREAT|O_EXCL on
  local paths, namenode-arbitrated create(overwrite=false) on HDFS);
- the holder then writes ``{root}/_writer_lease/owner`` (overwrite) —
  line 1 the human-readable owner, line 2 a per-acquisition unique
  TOKEN; release verifies BOTH before deleting (a failed owner write
  best-effort deletes the just-won LOCK before re-raising, so the root
  is not blocked until ttl);
- a held lease HEARTBEATS: :func:`writer_lease` runs a daemon thread
  that re-verifies the owner token and refreshes the LOCK mtime every
  ``ttl_seconds / 3`` (transient RPC failures retried on a tightened
  cadence), so a live holder is never judged stale no matter how long
  its trigger runs — the ttl reaps only holders whose process died (the
  thread dies with it); a holder whose token vanished (usurped) fails
  loudly with :class:`LeaseLostError` at exit;
- stale-lease takeover: a LOCK whose modification time is older than
  ``ttl_seconds`` belongs to a dead writer — takeover is CREATE-ARBITERED
  (r17): before any reaper may delete the stale LOCK it must atomically
  create the generation marker ``REAP-<stale_mtime_ms>``, so exactly ONE
  reaper per stale generation ever runs the delete — the two-reaper
  residual window (A reaps and recreates, B's queued delete then evicts
  A's fresh LOCK) has no second deleter left to race.  The winner still
  re-stats the LOCK immediately before deleting it (a changed mtime
  means the generation was already spent; abort) and then re-races the
  normal atomic create.  The check uses filesystem mtime, so it needs no
  clock agreement between writers beyond what HDFS/S3 already assume.

Direct OPERATOR calls (``extend_*`` / ``delete_from_*`` / ``compact_*``
from batch code) stay lease-free by design: a batch job owns its root by
construction, and the registered lifecycle queries must not pay lease
round-trips.  The lease is the concurrency boundary for long-lived
writers that share a root — which is exactly the streams and the
scheduled maintenance blocks.

NOTE: exclusive-create atomicity holds on HDFS (namenode-arbitrated) and
local filesystems (JDK O_CREAT|O_EXCL); on object stores without atomic
exclusive create (plain S3A without conditional writes) the lease
degrades to advisory — the same caveat every file-based coordination
scheme on such stores carries.
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager

logger = logging.getLogger("chat_data_pipeline_spark")

DEFAULT_TTL_SECONDS = 900
DEFAULT_WAIT_SECONDS = 120
_POLL_SECONDS = 0.2
# consecutive heartbeat failures tolerated before the holder stops claiming
# liveness; at the tightened ttl/10 retry cadence the whole failure run
# spans ~3*ttl/10 — well inside one ttl, so a holder that gives up here was
# about to be reapable anyway
_BEAT_MAX_FAILURES = 3


class LeaseUnavailableError(RuntimeError):
    """Another writer holds the root's lease and the wait budget ran out."""


class LeaseLostError(RuntimeError):
    """The lease was lost WHILE held (usurped by a stale-takeover racer, or
    the holder could not prove liveness for several consecutive heartbeats).
    Raised by :func:`writer_lease` on exit so the holder's otherwise-clean
    run fails loudly instead of reporting success for a mutation that may
    have raced another writer."""


def _lease_paths(spark, root: str):
    from chat_data_pipeline_spark.operators.store import fs_for

    fs, lock, jvm = fs_for(spark, f"{root}/_writer_lease/LOCK")
    owner_path = jvm.org.apache.hadoop.fs.Path(f"{root}/_writer_lease/owner")
    return fs, lock, owner_path, jvm


def _atomic_create(fs, lock, jvm) -> bool:
    """True iff THIS caller created the file at ``lock`` — the
    mutual-exclusion arbiter (used for both the LOCK itself and the
    per-generation REAP markers), so it must be genuinely atomic per
    filesystem:

    - ``file:`` scheme: Hadoop's RawLocalFileSystem.create(f, overwrite=
      false) is CHECK-THEN-ACT (two racers can both pass the exists check
      and both 'win' — measured by the contention-storm test, 4 holders
      at once), so local roots go through ``java.io.File.createNewFile``,
      which the JDK documents as a single atomic O_CREAT|O_EXCL operation;
    - everything else (HDFS & co.): ``FileSystem.createNewFile``, whose
      create(overwrite=false) the namenode arbitrates server-side; the
      LOSER of a simultaneous race may see FileAlreadyExistsException
      instead of False — both mean 'someone else holds it'."""
    uri = lock.toUri()
    if uri.getScheme() in (None, "file"):
        f = jvm.java.io.File(uri.getPath())
        parent = f.getParentFile()
        if parent is not None:
            parent.mkdirs()
        try:
            return bool(f.createNewFile())
        except Exception:
            return False
    try:
        return bool(fs.createNewFile(lock))
    except Exception:
        return False


def _reap_stale_lock(
    spark, fs, lock, jvm, root: str, mtime_ms: int, ttl_seconds: int
) -> None:
    """Create-arbitered takeover of one stale LOCK generation (r17: closes
    the two-reaper residual window the r16 design could only DETECT).

    A reaper may delete the stale LOCK only after atomically creating the
    generation marker ``_writer_lease/REAP-<stale_mtime_ms>`` — the same
    exclusive-create primitive that arbitrates the LOCK itself.  Exactly
    one contender per stale generation wins that create, so there is never
    a SECOND queued delete left to evict the winner's freshly recreated
    LOCK.  Losers simply re-poll: they either see the winner's new LOCK or
    re-race the create once the winner's delete lands.

    The marker is NOT removed by the winner — a loser suspended between
    its expiry judgement and its marker create must keep losing after the
    winner has moved on, so markers persist and are swept here only once
    OLDER THAN ``2 * ttl_seconds`` (any reaper of that generation has
    either long since won or is itself past reaping age; a reaper that
    died after winning the marker but before the delete stops wedging the
    root at the same horizon).  Residual exposure is therefore a reaper
    suspended for more than two ttls between two adjacent RPCs — down
    from one-delete-RPC-wide and unbounded — and the owner-token
    heartbeat + exit verification still detect that case.

    Every step is best-effort: any raced/failed RPC aborts THIS takeover
    attempt and the caller re-polls (the deadline in the acquire loop
    bounds the total wait either way)."""
    lease_dir = lock.getParent()
    marker = jvm.org.apache.hadoop.fs.Path(lease_dir, f"REAP-{int(mtime_ms)}")
    horizon_ms = int(time.time() * 1000) - 2 * int(ttl_seconds) * 1000
    try:
        for st in fs.listStatus(lease_dir):
            name = st.getPath().getName()
            if name.startswith("REAP-") and st.getModificationTime() < horizon_ms:
                fs.delete(st.getPath(), False)
    except Exception:
        pass  # listing raced a concurrent sweep — the marker create decides
    if not _atomic_create(fs, marker, jvm):
        return  # another reaper owns this generation; re-poll
    try:
        # confirming stat: only delete the exact lock judged stale — a
        # changed mtime means this generation was already spent (the LOCK
        # is a NEW holder's) and the delete must not run
        if fs.getFileStatus(lock).getModificationTime() == int(mtime_ms):
            logger.warning(
                "writer lease on %s held by %s is past its %ss ttl with "
                "no heartbeat; taking it over as a stale lease",
                root, lease_holder(spark, root), ttl_seconds,
            )
            # the dead holder's OWNER record goes first: were it left
            # behind, a suspended-past-ttl holder resuming in the gap
            # between this delete and the winner's own owner write would
            # re-read its stale token, "verify" ownership, and release
            # the winner's fresh LOCK.  With the record gone the gap
            # reads "<unknown>"/no-token, which every verifier treats as
            # not-mine.  (A reaper crash between these two deletes
            # leaves an owner-less LOCK — the documented "<unknown>"
            # state the next ttl reaps.)
            try:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(lease_dir, "owner"), False
                )
            except Exception:
                pass
            fs.delete(lock, False)
    except Exception:
        pass  # vanished mid-takeover — fine, re-race


def _clean_owner(owner: str) -> str:
    """The owner-file protocol is line-oriented (line 1 owner, line 2
    token), so an owner string containing a newline would corrupt the
    token parse and make every heartbeat read as a usurpation — sanitize
    at the write AND compare boundaries so both sides see the same
    form."""
    return " ".join(str(owner).splitlines()) or "<empty>"


def _read_small(fs, path, jvm) -> str:
    stream = fs.open(path)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _holder_record(spark, root: str) -> tuple[str, str] | None:
    """(owner, token) of the current holder, ``("<unknown>", "")`` for a
    LOCK whose owner file is missing, or None when the root is free."""
    fs, lock, owner_path, jvm = _lease_paths(spark, root)
    if not fs.exists(lock):
        return None
    if not fs.exists(owner_path):
        return ("<unknown>", "")
    try:
        raw = _read_small(fs, owner_path, jvm)
    except Exception:  # raced a release between the two exists checks
        return None
    owner, _, token = raw.partition("\n")
    return (owner, token.strip())


def lease_holder(spark, root: str) -> str | None:
    """The current holder's owner string, or None when the root is free.
    Best-effort observability (a holder that crashed between LOCK and
    owner reads as ``"<unknown>"``)."""
    rec = _holder_record(spark, root)
    return None if rec is None else rec[0]


def acquire_writer_lease(
    spark,
    root: str,
    owner: str,
    ttl_seconds: int = DEFAULT_TTL_SECONDS,
    wait_seconds: float = DEFAULT_WAIT_SECONDS,
) -> str:
    """Take the root's writer lease or raise :class:`LeaseUnavailableError`
    after ``wait_seconds`` of contention.  ``owner`` is a human-readable
    identity (stream kind + checkpoint, CLI block name) — it names the
    blocker in the error a losing contender raises.  Returns this
    acquisition's unique TOKEN (also persisted in the owner file as its
    second line): two acquisitions by the same owner string are still
    distinguishable, so the heartbeat and release can verify ownership by
    CONTENT — a stale-takeover racer that evicts this holder (see the
    residual-window note below) is detected instead of silently refreshed.

    Stale takeover is CREATE-ARBITERED and double-stat-guarded (see
    :func:`_reap_stale_lock`): a reaper must first atomically create the
    generation marker ``REAP-<stale_mtime_ms>``, so only ONE contender
    per stale generation ever deletes — the r16 two-reaper residual
    window (A reaps+recreates, B's queued delete evicts A's fresh LOCK)
    has no second deleter left.  What remains reachable is a reaper
    suspended for over TWO ttls between adjacent RPCs (the marker
    retention horizon); the owner-token heartbeat and the exit-time
    verification in :func:`writer_lease` still detect that, so the
    defense stays layered: closed in the reachable regime, detected
    beyond it.
    Every loop path honors the deadline: persistent stat/delete failures
    surface as :class:`LeaseUnavailableError`, never a busy-spin."""
    import uuid

    owner = _clean_owner(owner)
    fs, lock, owner_path, jvm = _lease_paths(spark, root)
    deadline = time.monotonic() + float(wait_seconds)
    token = uuid.uuid4().hex
    reaps = 0
    while True:
        if _atomic_create(fs, lock, jvm):
            # the owner write is NOT part of the mutual-exclusion arbiter,
            # but a failure here must not leave the just-won LOCK behind
            # with no heartbeat — that would block every writer on the
            # root until the ttl reaps it.  Best-effort undo, then
            # re-raise the real error.
            try:
                out = fs.create(owner_path, True)
                try:
                    out.write(bytearray(f"{owner}\n{token}".encode("utf-8")))
                finally:
                    out.close()
            except Exception:
                try:
                    fs.delete(lock, False)
                except Exception:
                    pass
                raise
            return token
        # taken: reap it if the holder looks dead (LOCK older than ttl)
        try:
            mtime_ms = fs.getFileStatus(lock).getModificationTime()
        except Exception:
            mtime_ms = None  # released/reaped between create and stat
        if (
            mtime_ms is not None
            and time.time() * 1000 > mtime_ms + float(ttl_seconds) * 1000
            and reaps < 3  # a persistently failing reap falls through to
            # the deadline instead of retrying forever
        ):
            reaps += 1
            _reap_stale_lock(spark, fs, lock, jvm, root, mtime_ms, ttl_seconds)
            continue  # immediate re-race (a wait_seconds=0 caller must
            # still win a genuinely stale lock)
        if time.monotonic() >= deadline:
            raise LeaseUnavailableError(
                f"writer lease on {root} is held by "
                f"{lease_holder(spark, root)!r} (waited {wait_seconds}s); "
                "a store root admits ONE writer at a time — serialize the "
                "writers or point them at different roots"
            )
        time.sleep(_POLL_SECONDS)


def release_writer_lease(
    spark, root: str, owner: str, token: str | None = None
) -> None:
    """Release the lease this ``owner`` holds.  Strictly owner-matched —
    and, when the acquisition ``token`` is supplied, CONTENT-matched: a
    lease another writer re-took (ttl takeover, even under the same owner
    string) is refused so the usurper's lease survives, and a LOCK whose
    owner record is missing ("<unknown>" — a contender mid-acquire between
    its LOCK create and its owner write) is LEFT ALONE rather than
    evicted; a truly crashed mid-acquire writer leaks its lock only until
    the ttl reaps it."""
    owner = _clean_owner(owner)
    fs, lock, owner_path, jvm = _lease_paths(spark, root)
    rec = _holder_record(spark, root)
    holder = None if rec is None else rec[0]
    if holder != owner or (token is not None and rec[1] != token):
        if holder is not None:
            logger.warning(
                "not releasing writer lease on %s: held by %r, not this "
                "writer %r (mid-acquire contender or ttl-takeover usurper)",
                root, holder, owner,
            )
        return
    fs.delete(owner_path, False)
    fs.delete(lock, False)


@contextmanager
def writer_lease(
    spark,
    root: str,
    owner: str,
    ttl_seconds: int = DEFAULT_TTL_SECONDS,
    wait_seconds: float = DEFAULT_WAIT_SECONDS,
):
    """``with writer_lease(...):`` — the one-liner every orchestration-layer
    mutation wraps.

    While held, a daemon HEARTBEAT thread refreshes the LOCK's mtime
    every ``ttl_seconds / 3``, so a live holder can never be judged
    stale no matter how long its trigger runs — a compaction that takes
    an hour on a 100 TB store keeps its lease without tuning anything.
    Ttl takeover therefore reaps only holders whose PROCESS died (the
    daemon thread dies with it); the ttl default stops being a silent
    corruption trap for long triggers.

    The heartbeat distinguishes three conditions (r17, per ADVICE):

    - TRANSIENT errors (one failed exists/setTimes RPC — routine on
      HDFS/S3A) are retried on a tightened ``ttl/10`` cadence; a single
      blip no longer silently stops the heartbeat and hands the root to
      a reaper mid-compaction.  Only ``_BEAT_MAX_FAILURES`` CONSECUTIVE
      failures (well inside one ttl) give up — and a give-up is recorded
      as SUSPICION, adjudicated by the exit-time token re-verification:
      an intact token proves no takeover happened and the run exits
      clean; a changed/absent token (or a still-failing read) escalates
      to :class:`LeaseLostError`.
    - LOCK GONE or owner-token CHANGED means this holder was usurped by
      a stale-takeover racer: stop beating immediately (never refresh a
      lock that is now someone else's) and flag the loss.
    - a flagged loss makes the context manager raise
      :class:`LeaseLostError` on an otherwise-clean exit, so the holder
      cannot report success for a mutation that may have raced another
      writer; release stays token-matched and refuses to evict the
      usurper either way.

    The exit path additionally RE-VERIFIES the owner token once before
    releasing (r17): a trigger shorter than one heartbeat interval would
    otherwise complete without ever observing a usurpation — fast
    mutations now get the same loud loss signal as long ones."""
    token = acquire_writer_lease(spark, root, owner, ttl_seconds, wait_seconds)
    import threading

    fs, lock, owner_path, jvm = _lease_paths(spark, root)
    stop = threading.Event()
    lost_reason: list[str] = []
    # give-up is SUSPICION, not proof: the exit path re-verifies the token
    # and only escalates to a loss if it actually changed/vanished — a
    # completed hour-long compaction must not be failed over a transient
    # FS brown-out that never cost it the lease
    suspect_reason: list[str] = []

    def _beat() -> None:
        interval = max(1.0, float(ttl_seconds) / 3.0)
        retry = max(0.5, float(ttl_seconds) / 10.0)
        failures = 0
        while not stop.wait(interval if failures == 0 else retry):
            try:
                if not fs.exists(lock):
                    lost_reason.append(
                        "LOCK gone while held (reaped by a stale-takeover "
                        "racer)"
                    )
                    return
                raw = _read_small(fs, owner_path, jvm)
                if raw.partition("\n")[2].strip() != token:
                    lost_reason.append(
                        "owner token changed while held (lease usurped by "
                        f"{raw.partition(chr(10))[0]!r})"
                    )
                    return
                now_ms = int(time.time() * 1000)
                fs.setTimes(lock, now_ms, -1)
                failures = 0
            except Exception as exc:  # transient RPC failure — retry
                failures += 1
                if failures >= _BEAT_MAX_FAILURES:
                    suspect_reason.append(
                        f"heartbeat failed {failures} consecutive attempts "
                        f"({exc}); liveness could not be proven past that "
                        "point"
                    )
                    logger.warning(
                        "writer lease heartbeat on %s giving up after %d "
                        "consecutive failures: %s", root, failures, exc,
                    )
                    return
    beat = threading.Thread(
        target=_beat, daemon=True, name=f"writer-lease-heartbeat:{root}"
    )
    beat.start()
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=10)
        # exit-time verification (r17): a trigger SHORTER than one
        # heartbeat interval would otherwise never observe a usurpation —
        # re-verify the owner token once before releasing, so fast
        # mutations get the same LeaseLostError signal as long ones.
        # The same check ADJUDICATES a heartbeat give-up: an intact token
        # here proves no takeover ever happened (any usurpation rewrites
        # or removes it and can never restore it), so the suspicion is
        # cleared; a token mismatch/absence escalates it to a real loss;
        # a read failure leaves it standing (still can't prove liveness).
        if not lost_reason:
            try:
                rec = _holder_record(spark, root)
                if rec is None:
                    lost_reason.append(
                        "LOCK gone at release (reaped by a stale-takeover "
                        "racer)"
                    )
                elif rec[1] != token:
                    lost_reason.append(
                        "owner token changed at release (lease usurped by "
                        f"{rec[0]!r})"
                    )
                elif suspect_reason:
                    logger.info(
                        "writer lease on %s: heartbeat had given up (%s) "
                        "but the owner token is intact at release — no "
                        "takeover occurred, exiting clean",
                        root, suspect_reason[0],
                    )
                    suspect_reason.clear()
            except Exception:
                if suspect_reason:
                    lost_reason.append(suspect_reason[0])
        release_writer_lease(spark, root, owner, token)
    # only reached on a CLEAN body exit (a body exception propagates past
    # the finally and takes precedence over the lost flag)
    if lost_reason:
        raise LeaseLostError(
            f"writer lease on {root} was lost while held by {owner!r}: "
            f"{lost_reason[0]}; the mutation may have raced another writer "
            "— verify the store (ledger + folded manifest) before trusting "
            "this run"
        )
