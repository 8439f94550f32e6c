import pytest

from lazy_frame_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lazy_frame_spark-tests", cpus=8)
    yield s


#: versioned and pipeline modules: each of their tests must leave the
#: cache manager as it found it
_LEAK_CHECKED = {"test_sources_sinks", "test_skipping", "test_evolution_cdf",
                 "test_pipeline_ops", "test_streaming", "test_stateful"}


@pytest.fixture(autouse=True)
def _no_pin_residue(request):
    """Scoped leak check: once the keyed pin registries (dedup sketches,
    mixing rate tables) are released, the test must have left no cached
    plan behind. Counts cache-manager entries, not persistent RDDs: a
    pin that was never materialized has no RDD, and localCheckpoint
    RDDs are freed by GC, not by the code under test."""
    if request.module.__name__.rpartition(".")[2] not in _LEAK_CHECKED:
        yield
        return
    from lazy_frame_spark.operators import (release_rate_tables,
                                            release_sketches)

    cache = (request.getfixturevalue("spark")._jsparkSession
             .sharedState().cacheManager())
    release_sketches()
    release_rate_tables()
    before = cache.numCachedEntries()
    yield
    release_sketches()
    release_rate_tables()
    assert cache.numCachedEntries() == before, "test left a pinned frame"


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def iris_csv(tmp_path_factory):
    """Iris-shaped golden fixture (FIXTURES.md F1).

    Reproduces the reference's golden assertions without shipping the iris
    data: 150 rows, 5 columns, header; Sepal.Length < 4.5 at exactly rows
    9, 14, 39, 43 (man/lazy.frame.Rd:91-93 / vignette Listing 3); Species
    has 50 of each level; dim == (150, 5).
    """
    import random

    rng = random.Random(42)
    low_rows = {9: 4.4, 14: 4.3, 39: 4.4, 43: 4.4}
    lines = ["Sepal.Length,Sepal.Width,Petal.Length,Petal.Width,Species"]
    species = ["setosa"] * 50 + ["versicolor"] * 50 + ["virginica"] * 50
    for i in range(1, 151):
        sl = low_rows.get(i, round(rng.uniform(5.0, 7.9), 1))
        sw = round(rng.uniform(2.0, 4.4), 1)
        pl = round(rng.uniform(1.0, 6.9), 1)
        pw = round(rng.uniform(0.1, 2.5), 1)
        lines.append(f"{sl},{sw},{pl},{pw},{species[i - 1]}")
    p = tmp_path_factory.mktemp("iris") / "iris.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)
