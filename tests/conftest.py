import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from bloom_filter_spark.session import get_spark
    s = get_spark("bfs-tests", master="local[4]", shuffle_partitions=8,
                  driver_memory="8g")
    yield s


@pytest.fixture
def several_splits(spark):
    """Spark's open cost lowered to 1 KiB for one test, so the native scan
    cuts every small fixture into more than one split (at the default
    4 MiB each is one task and the route pins would be single-split)."""
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    yield
    spark.conf.set(key, prev)


@pytest.fixture
def salt_regimes(spark):
    """→ a generator over both regimes of the salted grouped build, to
    loop a test body over.  The salt count is the one parallelism rule
    over the plan's estimated input bytes, so at the default open cost
    every fixture here (sf0.001 tokens: 1.1 MB) runs one salt and skips
    phase 2 ("one_salt"); with the open cost lowered to 1 byte any
    nonempty input runs min(n_salts, 4 × slots) salts and phase 2
    ("several_salts")."""
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)

    def regimes():
        yield "one_salt"
        spark.conf.set(key, "1")
        yield "several_salts"
        spark.conf.set(key, prev)
    yield regimes
    spark.conf.set(key, prev)  # also when a loop body failed


@pytest.fixture(scope="session")
def sf_small():
    """Materialized sf0.001 fixture dir (tokens + probe tables)."""
    from bloom_filter_spark.sources import ensure_fixtures
    return ensure_fixtures("sf0.001")


def _reference_changelog_fold(df, sketch, col, sign_col):
    """Single-process reference of the changelog build: collect the
    (key, sign) rows, drop rows with a null key or a null sign, fold them
    with ``update_delta_str`` into ``sketch.empty()`` → (serialized state,
    rows folded).  Every distributed changelog route must equal it
    bit-for-bit (integer counter addition commutes)."""
    import numpy as np
    rows = df.select(col, sign_col).dropna().collect()
    state = sketch.empty()
    if rows:
        sketch.update_delta_str(state, [r[0] for r in rows],
                                np.array([r[1] for r in rows], np.int32))
    return sketch.serialize(state), len(rows)


@pytest.fixture(scope="session")
def reference_fold():
    """The single-process changelog reference fold (see above)."""
    return _reference_changelog_fold
