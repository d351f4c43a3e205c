import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from ufuzzy_spark.session import get_spark

    spark = get_spark(
        "ufuzzy-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield spark
    from ufuzzy_spark.entry_queries import release_shared

    release_shared(spark)
    spark.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    """Seeded 3k-page corpus with labeled golden pairs (FIXTURES.md)."""
    from fixtures.gen import write_fixtures

    out = tmp_path_factory.mktemp("ufz_fixtures")
    write_fixtures(out, n_rows=3000, seed=42)
    return out
