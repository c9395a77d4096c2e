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
