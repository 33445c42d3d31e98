from __future__ import annotations

import pytest

from sparkgrep.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "smoke: one fast test per engine module — `pytest -m smoke` is the "
        "quick review loop; the full suite stays the gate",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparkgrep-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    from sparkgrep.sources.corpus import load_corpus

    return load_corpus(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def code_corpus(spark):
    from sparkgrep.sources.corpus import synth_corpus

    return synth_corpus(spark, 300, seed=7).cache()
