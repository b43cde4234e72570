from types import SimpleNamespace

import streamrec


def _progress(qid, ts, batch, rows, trigger, add, ops=()):
    return SimpleNamespace(
        id=qid,
        timestamp=ts,
        batchId=batch,
        numInputRows=rows,
        durationMs={"triggerExecution": trigger, "addBatch": add},
        stateOperators=[SimpleNamespace(numRowsTotal=r, memoryUsedBytes=b, commitTimeMs=c) for r, b, c in ops],
    )


def test_batch_record_flattens_phases_and_state():
    rec = streamrec.batch_record(
        _progress("q", "2026-01-01T00:00:01.500Z", 3, 40, 120, 90, ops=[(10, 1024, 5), (2, 0, 1)])
    )
    assert rec["ts_ms"] == 1767225601500.0
    assert (rec["batch_id"], rec["input_rows"], rec["triggerExecution"], rec["addBatch"]) == (3, 40, 120, 90)
    assert rec["walCommit"] == 0  # absent phases read as zero
    assert (rec["state_rows"], rec["state_bytes"], rec["state_commit_ms"]) == (12, 1024, 6)


def test_recorder_keys_by_stream_and_timestamp_not_arrival():
    r = streamrec.BatchRecorder()
    late = _progress("a", "2026-01-01T00:00:02Z", 1, 5, 10, 5)
    early = _progress("b", "2026-01-01T00:00:01Z", 0, 5, 10, 5)
    for p in (late, early, late):  # delivered out of order, one twice
        r.onQueryProgress(SimpleNamespace(progress=p))
    assert [(b["id"], b["batch_id"]) for b in r.batches()] == [("b", 0), ("a", 1)]
    r.settle(quiet_s=0.01, limit_s=1.0)
