"""Unit tests for the shared commit-retry loop (``sources/commit.py``).
No Spark: each attempt is a plain callable that stages real files in a
temporary directory and either wins or raises a conflict."""

from __future__ import annotations

import os
import time

import pytest

from mysoftware_nocnetintel_spark.sources.commit import (
    CommitConflict,
    commit_with_retry,
    recompute_on_conflict,
    remove_quietly,
)
from mysoftware_nocnetintel_spark.sources.delta import DeltaCommitConflict
from mysoftware_nocnetintel_spark.sources.iceberg import IcebergCommitConflict


@pytest.fixture
def sleeps(monkeypatch):
    out: list[float] = []
    monkeypatch.setattr(time, "sleep", lambda s: out.append(s))
    return out


def _stager(tmp_path, outcomes):
    """An attempt callable: attempt i stages one file, then raises
    ``outcomes[i]`` if it is an exception, else returns it."""
    calls: list[str] = []

    def attempt(written):
        f = tmp_path / f"attempt-{len(calls)}.avro"
        f.write_bytes(b"x")
        written.append(str(f))
        calls.append(str(f))
        out = outcomes[len(calls) - 1]
        if isinstance(out, BaseException):
            raise out
        return out

    return attempt, calls


def test_both_format_conflicts_are_commit_conflicts():
    assert issubclass(DeltaCommitConflict, CommitConflict)
    assert issubclass(IcebergCommitConflict, CommitConflict)


def test_first_attempt_win_returns_and_never_sleeps(tmp_path, sleeps):
    staged = tmp_path / "data.parquet"
    staged.write_bytes(b"d")
    attempt, calls = _stager(tmp_path, ["won"])
    assert commit_with_retry(attempt, staged=[str(staged)]) == "won"
    assert len(calls) == 1 and sleeps == []
    # the winner's files stay
    assert os.path.exists(calls[0]) and staged.exists()


def test_exhaustion_reraises_last_conflict_after_cleaning_every_attempt(
    tmp_path, sleeps
):
    staged = tmp_path / "data.parquet"
    staged.write_bytes(b"d")
    conflicts = [DeltaCommitConflict(f"lost {i}") for i in range(3)]
    attempt, calls = _stager(tmp_path, conflicts)
    with pytest.raises(DeltaCommitConflict) as ei:
        commit_with_retry(attempt, staged=[str(staged)])
    assert ei.value is conflicts[-1]
    assert len(calls) == 3 and len(sleeps) == 2
    # every attempt's own files AND the shared staged file are gone,
    # the last attempt's included
    assert os.listdir(tmp_path) == []


def test_backoff_sleeps_grow_within_their_windows(tmp_path, sleeps):
    for _ in range(20):
        attempt, _calls = _stager(
            tmp_path, [IcebergCommitConflict("lost")] * 4 + ["won"]
        )
        assert commit_with_retry(attempt, attempts=5) == "won"
    assert len(sleeps) == 20 * 4
    for n, s in enumerate(sleeps):
        i = n % 4 + 1  # retry number of this sleep
        assert 0 <= s < 0.05 * 2**i


def test_non_conflict_error_propagates_without_retry_sleep_or_cleanup(
    tmp_path, sleeps
):
    staged = tmp_path / "data.parquet"
    staged.write_bytes(b"d")
    attempt, calls = _stager(tmp_path, [OSError("disk gone")])
    with pytest.raises(OSError, match="disk gone"):
        commit_with_retry(attempt, staged=[str(staged)])
    assert len(calls) == 1 and sleeps == []
    # the commit may have landed: nothing is removed
    assert os.path.exists(calls[0]) and staged.exists()


def test_failed_validate_surfaces_at_once(tmp_path, sleeps):
    staged = tmp_path / "data.parquet"
    staged.write_bytes(b"d")
    attempt, calls = _stager(
        tmp_path, [IcebergCommitConflict("lost"), "never reached"]
    )
    seen = []

    def rebase(conflict):
        seen.append(conflict)
        raise conflict

    with pytest.raises(IcebergCommitConflict, match="lost"):
        commit_with_retry(attempt, rebase=rebase, staged=[str(staged)])
    assert len(calls) == 1 and len(seen) == 1 and sleeps == []
    assert os.listdir(tmp_path) == []


def test_passing_validate_rebases_the_next_attempt(tmp_path, sleeps):
    head = {"version": 7}
    committed = []

    def attempt(_written):
        if not committed:
            committed.append(None)
            raise DeltaCommitConflict("lost")
        committed.append(head["version"])
        return head["version"]

    def rebase(_conflict):
        head["version"] += 1  # winner took 7; re-base on 8

    assert commit_with_retry(attempt, rebase=rebase) == 8
    assert committed == [None, 8] and len(sleeps) == 1


def test_winner_carrying_this_commit_finishes_and_drops_staged(
    tmp_path, sleeps
):
    staged = tmp_path / "data.parquet"
    staged.write_bytes(b"d")
    attempt, calls = _stager(tmp_path, [IcebergCommitConflict("lost")])
    assert (
        commit_with_retry(attempt, rebase=lambda _c: 42, staged=[str(staged)])
        == 42
    )
    assert len(calls) == 1 and sleeps == []
    assert os.listdir(tmp_path) == []


def test_recompute_on_conflict_reruns_the_whole_verb(sleeps):
    calls = {"n": 0}

    @recompute_on_conflict
    def verb(x):
        calls["n"] += 1
        if calls["n"] < 3:
            raise DeltaCommitConflict("lost")
        return x * 2

    assert verb(21) == 42
    assert calls["n"] == 3 and len(sleeps) == 2


def test_remove_quietly_ignores_missing_files(tmp_path):
    f = tmp_path / "a"
    f.write_bytes(b"x")
    remove_quietly([str(f), str(tmp_path / "missing")])
    assert os.listdir(tmp_path) == []
