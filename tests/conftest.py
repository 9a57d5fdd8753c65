import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksoup_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="ksoup-spark-tests", master="local[8]",
                  shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def corpus_pages(spark):
    """The sf0.01 corpus as HTML pages: build_docs_table rows through
    assemble_html, the extraction kernel's own input."""
    from ksoup_spark.operators.extract import assemble_html
    from ksoup_spark.sources.corpus import build_docs_table

    rows = build_docs_table(spark, SF_ORACLE_DIR).select("spans").collect()
    return [assemble_html(r.spans) for r in rows]


@pytest.fixture(scope="session")
def soup_pages():
    """A fixed-seed slice of the differential fuzz campaign's adversarial
    tag soup (jobs/fuzz_campaign.py)."""
    import random

    from jobs.fuzz_campaign import _soup

    rng = random.Random(20260819)
    return [_soup(rng) for _ in range(300)]
