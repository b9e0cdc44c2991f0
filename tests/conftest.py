import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from twittercrawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Small deterministic corpus shared across crawl tests."""
    from twittercrawler_spark.sources.corpus import generate_corpus

    d = tmp_path_factory.mktemp("corpus")
    generate_corpus(str(d), n_pages=400, n_hosts=12, n_seeds=6, seed=42)
    return str(d)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
