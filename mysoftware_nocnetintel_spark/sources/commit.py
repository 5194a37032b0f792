"""One commit-retry protocol for the Delta and Iceberg writers.

Both formats commit by compare-and-swap (CAS): Delta creates
``<version>.json`` put-if-absent, Iceberg swaps in
``v<N>.metadata.json``. A writer that loses the swap raises its
format's conflict type (:class:`~.delta.DeltaCommitConflict`,
:class:`~.iceberg.IcebergCommitConflict`), both subclasses of
:class:`CommitConflict`. Every retry in the two writers goes through
:func:`commit_with_retry`; what stays format-specific is passed in as
callbacks: how to stage and CAS one attempt, how to validate against
the winner's head and re-base on it, and which files to clean up.

Attempt budgets: :data:`APPEND_ATTEMPTS` for commuting appends, which
re-validate writer, layout and transaction on every attempt (so more
tries never change what lands, and a maintainer plus injected catalog
faults on a loaded box cannot starve them); :data:`ATTEMPTS` for
everything else. Between attempts :func:`commit_with_retry` sleeps a
jittered, growing :func:`backoff` so writers that lost the same race do
not collide again in lock-step.
"""

from __future__ import annotations

import functools
import os
import random
import time

ATTEMPTS = 3
APPEND_ATTEMPTS = 5


class CommitConflict(RuntimeError):
    """Another writer won the CAS this commit was staged against. The
    commit provably did not land."""


def backoff(attempt: int) -> float:
    """Seconds to sleep before retry number ``attempt`` (1-based):
    uniform in ``[0, 0.05 * 2**attempt)``."""
    return random.uniform(0, 0.05 * 2**attempt)


def remove_quietly(paths) -> None:
    """Delete every path in ``paths``; a path that is already gone is
    not an error."""
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


def commit_with_retry(attempt, *, attempts=ATTEMPTS, rebase=None, staged=()):
    """Run ``attempt`` until one attempt wins its CAS; return its result.

    ``attempt(written)`` stages one attempt and CASes it. It appends every
    file it stages to the list ``written``. ``staged`` names the files
    written once, before the first attempt, and shared by all of them
    (data files, delete files, deletion-vector bins).

    After a lost CAS (a :class:`CommitConflict`):

    - the lost attempt's ``written`` files are removed;
    - unless it was the last attempt, ``rebase(conflict)`` (when given)
      validates the winner's head. It returns None to retry on that head
      (re-basing the caller's state the next attempt reads), raises to
      surface the conflict, or returns a result to finish without
      committing because the winner already carries this commit (a
      redelivered transaction);
    - it sleeps :func:`backoff` before the next attempt.

    Whenever the commit does not land after a lost CAS (surfaced,
    exhausted, or already carried by the winner) the ``staged`` files are
    removed too, so no outcome strands a file. Any other exception from
    ``attempt`` propagates at once with nothing removed: the commit may
    have landed."""
    written: list[str] = []
    for i in range(attempts):
        if i:
            time.sleep(backoff(i))
        try:
            return attempt(written)
        except CommitConflict as conflict:
            remove_quietly(written)
            written.clear()
            try:
                if i + 1 == attempts:
                    raise
                carried = rebase(conflict) if rebase is not None else None
            except BaseException:
                remove_quietly(staged)
                raise
            if carried is not None:
                remove_quietly(staged)
                return carried


def recompute_on_conflict(fn):
    """Decorator for RECOMPUTABLE commits: verbs that reload the table
    head on entry and re-derive their whole commit, so re-running one
    against the winner's head is a fresh invocation, never a lost update
    (maintenance, ref and schema moves). Each run is one attempt of
    :func:`commit_with_retry`. A verb that stages files CASes them through
    a one-attempt ``commit_with_retry(..., attempts=1, staged=...)``, so a
    lost run has removed them before its conflict reaches the decorator."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return commit_with_retry(lambda _written: fn(*args, **kwargs))

    return wrapper
