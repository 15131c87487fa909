import contextlib
from unittest import mock

import pytest


@pytest.fixture(scope="session")
def spark():
    from glm_ocr_spark.pipeline import get_spark

    s = get_spark(app="glm-ocr-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def call_counter(spark):
    """`with call_counter(module, "name") as acc:` — plans built inside the
    block call `module.name` through a wrapper that adds the rows of each
    call to `acc`: its first argument's length (an Arrow batch) or 1 (one
    str or None). UDF closures pickle the wrapper by value, so the counts
    come back from the Python workers."""
    @contextlib.contextmanager
    def counting(module, name):
        acc = spark.sparkContext.accumulator(0)
        original = getattr(module, name)

        def counted(first, *args, **kwargs):
            acc.add(1 if first is None or isinstance(first, str)
                    else len(first))
            return original(first, *args, **kwargs)

        setattr(module, name, counted)
        try:
            yield acc
        finally:
            setattr(module, name, original)

    return counting


@pytest.fixture
def crash_on_commit():
    """`with crash_on_commit(n):` — the nth `SnapshotStore.commit` call
    inside the block, and every later one, raises before writing its
    manifest: a crash after a batch's data files are staged, before they
    are published."""
    from glm_ocr_spark.snapshot import SnapshotStore

    @contextlib.contextmanager
    def crashing(n):
        real = SnapshotStore.commit
        calls = 0

        def commit(self, *args, **kwargs):
            nonlocal calls
            calls += 1
            if calls >= n:
                raise RuntimeError("injected crash before snapshot commit")
            return real(self, *args, **kwargs)

        with mock.patch.object(SnapshotStore, "commit", commit):
            yield

    return crashing
