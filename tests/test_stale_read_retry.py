"""merge_into_retrying must retry stale-read Spark failures — what a
loser sees when a winner's _prune_superseded deletes version dirs the
loser's staged merge is still reading — exactly like CommitConflict
(VERDICT r11 item 1: the driver's 4-thread HTTP race surfaced a raw
FAILED_READ_FILE.FILE_NOT_EXIST instead of converging)."""

import pytest

from cdc_apache_cassandra_spark.streaming import materialize as M


def test_stale_read_error_classifier():
    stale = [
        RuntimeError(
            "[FAILED_READ_FILE.FILE_NOT_EXIST] Error while reading file "
            "file:///t/store/__ver=2-ab/__bucket=0/part-0.parquet. "
            "It is possible the underlying files have been updated."
        ),
        RuntimeError("[PATH_NOT_FOUND] Path does not exist: file:/t/__ver=3-cd"),
        RuntimeError(
            "java.io.FileNotFoundException: File file:/t/part-1.parquet "
            "does not exist"
        ),
    ]
    for e in stale:
        assert M._is_stale_read_error(e), e
    assert not M._is_stale_read_error(RuntimeError("java.io.IOException: disk full"))
    assert not M._is_stale_read_error(ValueError("store at /t is bucketed on ..."))
    # a custom reducer's own error that merely says "does not exist"
    assert not M._is_stale_read_error(ValueError("partition key does not exist"))


def _run_retrying(monkeypatch, spark, failures, max_attempts=5):
    """Drive merge_into_retrying against a merge_into stub that raises
    each error in ``failures`` once (in order), then succeeds."""
    calls = {"n": 0}

    def fake_merge_into(*a, **k):
        calls["n"] += 1
        if calls["n"] <= len(failures):
            raise failures[calls["n"] - 1]

    monkeypatch.setattr(M, "merge_into", fake_merge_into)
    attempts = M.merge_into_retrying(
        spark, "/nonexistent", None, ["pk"], max_attempts=max_attempts
    )
    return attempts, calls["n"]


def test_retries_stale_read_then_succeeds(monkeypatch, spark):
    err = RuntimeError(
        "[FAILED_READ_FILE.FILE_NOT_EXIST] Error while reading file "
        "file:///t/store/__ver=2-ab/__bucket=1/part-0.parquet"
    )
    attempts, n = _run_retrying(monkeypatch, spark, [err, err])
    assert (attempts, n) == (3, 3)


def test_mixed_conflict_and_stale_read_converges(monkeypatch, spark):
    errs = [
        M.CommitConflict("manifest moved from 1 to 2"),
        RuntimeError("[PATH_NOT_FOUND] Path does not exist: file:/t/__ver=2-cd"),
    ]
    attempts, n = _run_retrying(monkeypatch, spark, errs)
    assert (attempts, n) == (3, 3)


@pytest.mark.parametrize(
    "boom",
    [
        RuntimeError("java.io.IOException: disk full"),
        ValueError("partition key does not exist"),
    ],
    ids=["disk_full", "reducer_error"],
)
def test_non_stale_error_propagates_immediately(monkeypatch, spark, boom):
    calls = {"n": 0}

    def fake_merge_into(*a, **k):
        calls["n"] += 1
        raise boom

    monkeypatch.setattr(M, "merge_into", fake_merge_into)
    with pytest.raises(type(boom), match=str(boom)):
        M.merge_into_retrying(spark, "/nonexistent", None, ["pk"], max_attempts=5)
    assert calls["n"] == 1  # one attempt, no retry


def test_stale_read_on_last_attempt_propagates_original(monkeypatch, spark):
    err = RuntimeError("[FAILED_READ_FILE.FILE_NOT_EXIST] gone")
    with pytest.raises(RuntimeError, match="FAILED_READ_FILE"):
        _run_retrying(monkeypatch, spark, [err, err], max_attempts=2)
