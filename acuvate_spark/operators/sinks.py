"""Sink adapters — SURVEY §2.1 (S7-S13).

* Warehouse append (S7/S8): ``df.write.mode("append")`` — writer
  batching is Spark's native behavior; the reference's 100-row VALUES
  batches (app.py:983-1014) exist because it drove a cursor by hand.
* REST sink (S10): the reference bulk-POSTs sync rows to an external
  API (app.py:6707-6733). Spark-side this is ``foreachPartition`` with
  a pluggable poster and a bounded batch size — each executor posts
  its partition; no driver collect.
* Excel sink (S11): presentation-layer export via pandas on the
  driver (only ever for human-sized result pages, never for data
  movement).
* Ledger (S13): subsumed by the streaming checkpoint
  (streaming/blob_ingest.py); kept here only as an explicit append
  helper for non-streaming callers.
* Writer lease: the single-writer guard that ``storage.compact_path``
  and the daily-sync schedule tick take on the path they rewrite.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# Writer lease — the mutation layer's concurrency CONTRACT made explicit
# (VERDICT r11 item 5). The maintenance paths that rewrite a directory
# in place (storage.compact_path's staged directory swap, the
# daily-sync schedule state) are SINGLE-WRITER by design: their crash
# recovery covers every single-writer crash point, but two concurrent
# writers on one path can interleave their renames arbitrarily — no
# marker ordering protects against that. The lease below makes an
# accidental second writer fail LOUDLY instead of corrupting silently.
# It is best-effort local mutual exclusion (O_CREAT|O_EXCL on the
# shared filesystem), not a fenced distributed lock: a cluster
# deployment of concurrent writers belongs on a transactional table
# format (Delta/Iceberg) or an external coordinator, as README.md
# documents.
# ---------------------------------------------------------------------------

# A holder that died without releasing must not brick the register:
# leases older than this are presumed crashed and are stolen. Sized
# far above any single compaction (seconds) and far below
# operator-intervention timescales.
LEASE_TTL_S = 900

_HELD_LEASES: set[str] = set()  # in-process re-entrancy (nested acquisition)


class ConcurrentWriterError(RuntimeError):
    """A second writer touched a single-writer register."""


_HOSTNAME = os.uname().nodename


def _holder_dead(holder: str) -> bool:
    """Same-host pid-liveness probe (ADVICE r12): a lease whose
    recorded pid no longer exists on THIS host belongs to a crashed
    holder — crash-replay of its write should recover immediately
    instead of waiting out the TTL. Only a ``host=`` match makes the
    probe meaningful; unverifiable holders (other host, old format,
    unparsable) keep the TTL as the sole steal trigger. A recycled
    pid can make a dead holder look alive — that false negative is
    exactly what the TTL fallback still covers."""
    fields = dict(f.split("=", 1) for f in holder.split() if "=" in f)
    if fields.get("host") != _HOSTNAME or not fields.get("pid", "").isdigit():
        return False
    try:
        os.kill(int(fields["pid"]), 0)
    except ProcessLookupError:
        return True
    except OSError:
        pass  # EPERM etc.: the pid exists
    return False


def _holder_alive(holder: str) -> bool:
    """Positive counterpart of :func:`_holder_dead`: the holder is a
    same-host, parseable pid that EXISTS right now. Used by the TTL
    branch (ADVICE r13): a holder past the TTL that is verifiably
    still running (a daily sync longer than 900 s) must NOT be stolen
    — stealing would re-open the concurrent double-run the lease
    exists to prevent. Unverifiable holders (other host, old format)
    return False here AND in ``_holder_dead``, keeping the plain TTL
    steal as their only recovery. Residual: a recycled pid can make a
    crashed holder look alive past the TTL — the error message names
    the lease file for operator removal, the documented escape."""
    fields = dict(f.split("=", 1) for f in holder.split() if "=" in f)
    if fields.get("host") != _HOSTNAME or not fields.get("pid", "").isdigit():
        return False
    try:
        os.kill(int(fields["pid"]), 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass  # EPERM etc.: the pid exists
    return True


def _steal_lease(lease: str, observed: os.stat_result) -> bool:
    """Steal a lease OBSERVED stale, racing other stealers safely
    (ADVICE r12 TOCTOU): a blind ``os.remove`` can delete a FRESH
    lease created between the staleness check and the remove, letting
    two writers acquire. Instead, claim whatever sits at the path by
    renaming it to a name only we use, then verify (st_ino, st_mtime)
    that it IS the file we observed stale. On a mismatch we displaced
    a live lease a competing stealer just created — put it back with
    ``os.link`` (no-clobber, unlike rename) so the competitor keeps
    its acquisition, and report failure so the caller re-examines.
    Returns True iff the stale lease is gone and the path is free."""
    steal = f"{lease}.steal.{os.getpid()}"
    try:
        os.rename(lease, steal)
        current = os.stat(steal)
    except OSError:
        return False  # released, or another stealer's rename won
    if (current.st_ino, current.st_mtime) == (observed.st_ino, observed.st_mtime):
        os.remove(steal)
        return True
    try:
        os.link(steal, lease)  # restore the live lease we displaced
    except OSError:
        # EEXIST: a third writer created a FRESH lease while the
        # displaced one was out of place — the restore cannot win.
        # Leave the displaced LIVE lease at the steal path (ADVICE
        # r13: deleting it here silently destroyed a competitor's
        # acquisition record, and its token-verified release would
        # then be a no-op while an operator saw no trace). Two
        # writers now believe they hold the register — unavoidable
        # once the displacement happened — so say so loudly.
        import warnings

        warnings.warn(
            f"{lease}: displaced a live lease and could not restore it "
            f"(a third writer re-acquired); the displaced holder's "
            f"record is preserved at {steal} — two writers may be "
            "active on this register, serialize them manually",
            UserWarning,
            stacklevel=2,
        )
        return False
    with contextlib.suppress(OSError):
        os.remove(steal)
    return False


@contextlib.contextmanager
def register_lease(main_path: str, purpose: str):
    """Best-effort single-writer lease on a register: an atomic
    ``<root>.__lease__`` create (O_EXCL). A live lease raises
    :class:`ConcurrentWriterError` naming the holder; only a
    dead-holder lease (same-host pid provably gone) or a stale lease
    whose holder is NOT verifiably alive is stolen, via
    rename-and-verify (never a blind remove — see
    :func:`_steal_lease`). A holder past :data:`LEASE_TTL_S` whose
    same-host pid still exists keeps BLOCKING (ADVICE r13: a daily
    sync longer than the TTL must not have its lease stolen by the
    next tick — that re-opens the double-run). Exhausting the bounded
    acquisition attempts RAISES rather than proceeding unprotected
    (ADVICE r13: the fall-through acquired nothing yet wrote to
    ``_HELD_LEASES`` and later removed a competitor's live lease).
    Release is token-verified: the lease file is removed only if it
    is still OURS, so an overrun holder whose lease was stolen never
    deletes the thief's. Re-entrant within the process, so a holder
    can call another lease-taking pass (e.g. ``compact_path``) on the
    same path under its own lease."""
    root = main_path.rstrip("/")
    lease = root + ".__lease__"
    if lease in _HELD_LEASES:
        yield
        return
    parent = os.path.dirname(root)
    if parent:
        os.makedirs(parent, exist_ok=True)
    token = (
        f"pid={os.getpid()} host={_HOSTNAME} purpose={purpose} "
        f"nonce={os.urandom(8).hex()}"
    )
    for _ in range(3):  # steal/retry is bounded: never spin forever
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(token)
            break
        except FileExistsError:
            try:
                observed = os.stat(lease)
                holder = open(lease).read()
            except OSError:
                continue  # holder released between the create and the stat
            age = time.time() - observed.st_mtime
            if _holder_dead(holder):
                _steal_lease(lease, observed)  # on failure, retry re-examines
                continue
            if age < LEASE_TTL_S or _holder_alive(holder):
                raise ConcurrentWriterError(
                    f"{root}: another writer holds the register lease "
                    f"({holder}, {age:.0f}s old); registers are "
                    "single-writer — serialize the writers, or "
                    f"remove {lease} if the holder is known dead"
                ) from None
            _steal_lease(lease, observed)  # stale + unverifiable: TTL rules
    else:
        raise ConcurrentWriterError(
            f"{root}: could not acquire register lease for {purpose!r} "
            "after bounded retries (lease churn — competing writers are "
            "acquiring/releasing faster than this one can claim); "
            "registers are single-writer, serialize the callers"
        )
    _HELD_LEASES.add(lease)
    try:
        yield
    finally:
        _HELD_LEASES.discard(lease)
        with contextlib.suppress(OSError):
            if open(lease).read() == token:  # still ours — see docstring
                os.remove(lease)


def append_parquet(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    """S7/S8 — append-mode warehouse write."""
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def rest_sink(df: DataFrame, poster: Callable[[list[dict]], None], batch_size: int = 100) -> None:
    """S10 — POST rows to an external endpoint in bounded batches, one
    worker per partition (the reference's single-threaded bulk POST
    app.py:6707-6733 becomes partition-parallel). ``poster`` receives a
    list of row dicts; inject the real HTTP call (or a collector in
    tests)."""

    def send_partition(rows: Iterable) -> None:
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= batch_size:
                poster(batch)
                batch = []
        if batch:
            poster(batch)

    df.foreachPartition(send_partition)


def export_excel(df: DataFrame, path: str, header_map: dict[str, str] | None = None,
                 exclude: list[str] | None = None, max_rows: int = 100_000) -> str:
    """S11 — styled-export shape (reference export_to_excel_endpoint
    app.py:7379-7483): column exclusion (P4) + human header rename
    (P3) + driver-side export. Falls back to CSV when no Excel engine
    is installed; returns the path written. Guarded by ``max_rows`` —
    this is a presentation sink, not a data path."""
    out = df
    if exclude:
        out = out.drop(*exclude)
    if header_map:
        out = out.withColumnsRenamed(header_map)
    pdf = out.limit(max_rows).toPandas()
    try:
        pdf.to_excel(path, index=False)  # needs openpyxl
        return path
    except (ImportError, ModuleNotFoundError):
        root, _ = os.path.splitext(path)  # rsplit('.') would truncate at a dotted dir name
        csv_path = root + ".csv"
        pdf.to_csv(csv_path, index=False)
        return csv_path


def _committed_files(root: str) -> list[str]:
    """Part files of the FULLY COMMITTED child dirs of ``root``. Two
    crash shapes must stay invisible to readers: a dir holding only
    ``_temporary/`` (killed mid-write — no part files at all) and a
    dir holding SOME part files but no ``_SUCCESS`` (killed mid
    job-commit, after the committer started promoting task files but
    before the marker) — hence the marker check, not just a file glob."""
    import glob as _glob

    out: list[str] = []
    for d in sorted(_glob.glob(os.path.join(root, "*"))):
        if os.path.isfile(os.path.join(d, "_SUCCESS")):
            out.extend(sorted(_glob.glob(os.path.join(d, "*.parquet"))))
    return out


def append_ledger(entries: list[str], path: str) -> None:
    """S13 — processed-file ledger append (reference app.py:6921-6931);
    the streaming checkpoint replaces this for stream sources."""
    with open(path, "a") as f:
        for e in entries:
            f.write(json.dumps({"path": e}) + "\n")
