"""Streaming measurement pitfalls the benchmark guards against. These
tests need no Spark session: they feed the helpers the same records a
running query produces. Run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import json
import threading
import time
from types import SimpleNamespace

import pytest

import streamlog
from tracing import Tracer, make_progress_listener


def _progress(batch_id: int, log_offset: int | None, rows: int, start: str = "2026-01-01T00:00:00.000Z", dur: int = 500) -> dict:
    sources = [] if log_offset is None else [{"endOffset": {"logOffset": log_offset}}]
    return {
        "id": "q1",
        "batchId": batch_id,
        "timestamp": start,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": dur},
        "sources": sources,
    }


def test_listener_keeps_every_progress_event():
    # query.recentProgress keeps only the last 100 updates by default
    listener = make_progress_listener()
    for i in range(250):
        listener.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(json=json.dumps(_progress(i, i, 1)))))
    listener.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(json=json.dumps({**_progress(0, 0, 1), "id": "q2"}))))
    assert len(listener.for_query("q1")) == 250
    assert [p["batchId"] for p in listener.for_query("q1")][:3] == [0, 1, 2]
    assert len(listener.for_query("q2")) == 1


def test_files_map_to_source_log_offset_not_batch_id(tmp_path):
    # batch 1 read no data: it advanced batchId but not the log offset,
    # so the file at log offset 1 was read by batch 2
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    (src / "0").write_text('v1\n{"path":"file:///in/ev-0.parquet","timestamp":1,"batchId":0}\n')
    (src / "1").write_text('v1\n{"path":"file:///in/ev-1.parquet","timestamp":2,"batchId":1}\n')
    progress = [
        _progress(0, 0, 10, "2026-01-01T00:00:00.000Z", 400),
        _progress(1, 0, 0, "2026-01-01T00:00:01.000Z", 10),
        _progress(2, 1, 10, "2026-01-01T00:00:02.000Z", 400),
    ]
    files = streamlog.read_source_log(str(src))
    ends = streamlog.offset_end_ms(progress)
    assert files == {"ev-0.parquet": 0, "ev-1.parquet": 1}
    assert ends[files["ev-1.parquet"]] == streamlog.progress_end_ms(progress[2])
    assert ends[files["ev-1.parquet"]] - ends[files["ev-0.parquet"]] == 2000.0


def test_end_log_offset_accepts_json_text_and_missing_sources():
    assert streamlog.end_log_offset({"sources": [{"endOffset": '{"logOffset": 7}'}]}) == 7
    assert streamlog.end_log_offset({"sources": [{"endOffset": None}]}) is None
    assert streamlog.end_log_offset({"sources": []}) is None


def test_compacted_source_log_is_read(tmp_path):
    src = tmp_path / "0"
    src.mkdir()
    compact = ["v1"] + [json.dumps({"path": f"file:///in/ev-{i}.parquet", "timestamp": i, "batchId": i}) for i in range(10)]
    (src / "9.compact").write_text("\n".join(compact) + "\n")
    (src / "10").write_text('v1\n{"path":"file:///in/ev-10.parquet","timestamp":10,"batchId":10}\n')
    (src / ".11.tmp").write_text('v1\n{"path":"file:///in/ev-11.parquet","timestamp":11,"batchId":11}\n')
    (src / "11").write_text("")  # created, not yet written
    files = streamlog.read_source_log(str(src))
    assert files == {f"ev-{i}.parquet": i for i in range(11)}


def test_drain_waits_until_last_file_batch_committed(tmp_path):
    src = tmp_path / "0"
    src.mkdir()
    (src / "0").write_text('v1\n{"path":"file:///in/ev-0.parquet","timestamp":1,"batchId":0}\n')
    progress: list[dict] = [_progress(0, 0, 5)]

    def late_batch():
        time.sleep(0.2)
        (src / "1").write_text('v1\n{"path":"file:///in/ev-1.parquet","timestamp":2,"batchId":1}\n')
        time.sleep(0.2)
        progress.append(_progress(1, 1, 5))

    t = threading.Thread(target=late_batch)
    t0 = time.time()
    t.start()
    try:
        assert streamlog.wait_drained(str(src), "ev-1.parquet", lambda: list(progress), timeout_s=10) == 1
        assert time.time() - t0 >= 0.4
    finally:
        t.join(timeout=10)
    assert not t.is_alive()
    with pytest.raises(TimeoutError):
        streamlog.wait_drained(str(src), "ev-2.parquet", lambda: list(progress), timeout_s=0.2)


def test_self_time_subtracts_child_spans(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 4.5, 10.0])
    monkeypatch.setattr("tracing.time.time", lambda: next(clock))
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    assert tr.self_times() == {"outer": 7.5, "child": 2.5}
    assert {s["parent"] for s in tr.spans[1:]} == {0}

