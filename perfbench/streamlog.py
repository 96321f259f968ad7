"""Reading a file-source streaming query's own logs.

Latency is measured per input file: an event's result is out when the
micro-batch that read its file has committed. Two details matter:

- A file belongs to the batch whose *source log offset* lists it
  (``sources/0/<logOffset>``), which is what a progress event reports
  as ``sources[0].endOffset.logOffset``. ``batchId`` is not the same
  number: batches that read no data advance ``batchId`` only, so keying
  files by ``batchId`` attributes them to the wrong trigger.
- The source log is compacted every few batches into
  ``<n>.compact`` files holding every entry up to ``n``, and the plain
  files they replace are later deleted, so both kinds are read.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time


def read_source_log(source_dir: str) -> dict[str, int]:
    """Map each input file (as its basename) to the log offset of the
    batch that read it, from a file source's metadata log directory
    (``<checkpoint>/sources/0``)."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        stem = name.removesuffix(".compact")
        if not stem.isdigit():
            continue  # temp files of an in-flight write
        with open(os.path.join(source_dir, name)) as fh:
            lines = fh.read().splitlines()
        if not lines or not lines[0].startswith("v"):
            continue  # written but not yet complete
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def end_log_offset(progress: dict) -> int | None:
    """The file source's log offset a progress event ended at, or None
    for a trigger that has no source offset yet."""
    sources = progress.get("sources") or []
    if not sources:
        return None
    end = sources[0].get("endOffset")
    if isinstance(end, str):
        end = json.loads(end)
    if not end:
        return None
    return int(end["logOffset"])


def progress_end_ms(p: dict) -> float:
    """Wall-clock end of a trigger: its start stamp plus its total
    duration, in epoch milliseconds."""
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return start.timestamp() * 1000.0 + float(p["durationMs"].get("triggerExecution", 0))


def offset_end_ms(progress: list[dict]) -> dict[int, float]:
    """Log offset -> wall-clock end (epoch ms) of the trigger that
    committed it, for triggers that read data."""
    out: dict[int, float] = {}
    for p in progress:
        off = end_log_offset(p)
        if off is not None and p.get("numInputRows", 0) > 0:
            out.setdefault(off, progress_end_ms(p))
    return out


def wait_drained(source_dir: str, last_file: str, progress_fn, timeout_s: float) -> int:
    """Block until the batch that read ``last_file`` has committed and
    its progress event has arrived; returns that batch's log offset.

    Stopping a query while a batch is committing its state can fail the
    commit (``CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT``), so a run stops
    its query only after this returns."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        off = read_source_log(source_dir).get(last_file)
        if off is not None:
            done = [end_log_offset(p) for p in progress_fn()]
            if any(d is not None and d >= off for d in done):
                return off
        time.sleep(0.05)
    raise TimeoutError(f"{last_file} not committed within {timeout_s}s")
