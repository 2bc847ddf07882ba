"""The file-source harness publishes each micro-batch file atomically."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from kafka_streams_join_spark.streaming import harness
from kafka_streams_join_spark.streaming.harness import FileStream


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_harness_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_add_batch_publishes_hidden_file_with_synthetic_mtime(tmpdir, monkeypatch):
    """Until the rename, the file sits under a name the file source's
    listing skips (leading "."), and it already carries the synthetic
    mtime, so no listing sees a partial file or the real, newer mtime."""
    renames = []
    real_rename = os.rename

    def rename(src, dst):
        renames.append((os.path.basename(src), os.stat(src).st_mtime))
        real_rename(src, dst)

    monkeypatch.setattr(harness.os, "rename", rename)
    stream = FileStream(None, tmpdir, "input")
    stream.add_batch([{"key": "k", "value": "v", "ts": "2024-01-01T00:00:00"}])
    stream.add_batch([])

    assert [name for name, _ in renames] == [
        ".batch-00000.json.tmp",
        ".batch-00001.json.tmp",
    ]
    mtimes = [mtime for _, mtime in renames]
    assert mtimes == [1_700_000_000, 1_700_000_001]
    published = sorted(os.listdir(stream.dir))
    assert published == ["batch-00000.json", "batch-00001.json"]
    assert [os.stat(os.path.join(stream.dir, n)).st_mtime for n in published] == mtimes
