import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dat_archive_map_reduce_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # test modules define map UDFs; workers must be able to import them
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    existing = os.environ.get("PYTHONPATH", "")
    if tests_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{tests_dir}{os.pathsep}{existing}" if existing else tests_dir
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture
def watch_regime():
    """Context manager factory running watch batches in ONE regime:
    ``"driver"`` (the default bound — drip-sized batches commit on the
    driver) or ``"spark"`` (bound 0 — every batch takes the Spark
    path). On a clean exit it asserts the regime was really taken.
    Stream=batch tests run their body once per regime, so both paths
    are held to the same state."""
    from contextlib import contextmanager

    from dat_archive_map_reduce_spark.engine import MapReduce

    @contextmanager
    def regime(name: str):
        assert name in ("driver", "spark")
        bound = MapReduce._LOCAL_BATCH_ROWS
        prepare = MapReduce._prepare_store_batch_local
        taken: list = []

        def spy(self, *a, **k):
            out = prepare(self, *a, **k)
            taken.append(out is not None)
            return out

        MapReduce._prepare_store_batch_local = spy
        if name == "spark":
            MapReduce._LOCAL_BATCH_ROWS = 0
        try:
            yield
        finally:
            MapReduce._prepare_store_batch_local = prepare
            MapReduce._LOCAL_BATCH_ROWS = bound
        if name == "driver":
            assert any(taken), "no store committed on the driver"
        else:
            assert not taken, "a store committed on the driver"

    return regime
