"""The benchmark's inputs: the copied sf0.1 tables and the sf1 documents
derived from them. Run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

import workloads


def test_sf01_tables_match_their_checksums():
    with open(os.path.join(workloads.SF01_DIR, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    assert sorted(sums) == sorted(f"{t}.parquet" for t in workloads.TABLES)
    for name, want in sums.items():
        with open(os.path.join(workloads.SF01_DIR, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == want, name


def test_sf1_documents_replicate_with_offsets_and_suffix(tmp_path):
    src = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 7], pa.int64()),
                "text": ["a b", "é c"],
                "lang": ["en", "fr"],
                "source": ["s0", "s1"],
                "n_chars": pa.array([3, 3], pa.int64()),
            }
        ),
        src,
    )
    t = workloads.sf1_documents(str(src))
    assert t.num_rows == 2 * workloads.REPLICAS
    assert t.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert t["n_chars"].type == pa.int64()
    rows = t.to_pylist()
    assert [r["doc_id"] for r in rows[:4]] == [0, 7, 100_000, 100_007]
    assert rows[3]["text"] == "é c rep1" and rows[3]["n_chars"] == 8
    assert rows[-1]["text"] == "é c rep9" and rows[-1]["lang"] == "fr"
    assert rows[0] == {"doc_id": 0, "text": "a b", "lang": "en", "source": "s0", "n_chars": 3}
