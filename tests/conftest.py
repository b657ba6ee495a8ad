import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gdal_drivers_spark import get_spark

    sp = get_spark("tests")
    sp.sparkContext.setLogLevel("ERROR")
    yield sp


@pytest.fixture
def crash_after_commit(monkeypatch):
    """``crash_after_commit(writer, epoch)`` is a context in which
    ``writer.write_batches`` commits as usual, then raises
    ``RuntimeError("injected failure")`` right after it committed batch
    ``epoch`` alone: the state a crash between the manifest commit and
    the stream's own offset commit leaves. ``foreachBatch`` runs in the
    driver process, so a stream sink calls the patched method."""

    @contextlib.contextmanager
    def crash(writer, epoch):
        real = writer.write_batches

        def write_then_crash(*args, **kw):
            stats = real(*args, **kw)
            if kw.get("batch_ids") == [epoch]:
                raise RuntimeError("injected failure")
            return stats

        with monkeypatch.context() as mp:
            mp.setattr(writer, "write_batches", write_then_crash)
            yield

    return crash
