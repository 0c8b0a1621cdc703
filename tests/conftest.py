import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unravelsports_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    # ADVICE r11 #5: the Unicode-pin tripwires are deliberate environment
    # couplings — a failure after a DuckDB/Python upgrade is a pin-update
    # task, not a code regression. The marker makes that recognizable
    # (deselect with `-m "not environment_parity"` while updating pins).
    config.addinivalue_line(
        "markers",
        "environment_parity: pins installed-engine Unicode/regex tables; "
        "a failure after an engine version bump means 'update the pin', "
        "not 'the operator regressed'",
    )


#: how the reference-parity test modules name the reference checkout's
#: fixture directory, in a module-level path constant
_REFERENCE_FIXTURES = os.path.join(os.sep + "reference", "tests", "files")


def pytest_collection_finish(session):
    """Say once, before the run, when the reference fixtures are absent:
    every test in the modules that read them will error on the missing
    files. Outcomes are unchanged."""
    missing, counts = set(), {}
    for item in session.items:
        module = getattr(item, "module", None)
        for value in vars(module).values() if module else ():
            if isinstance(value, str) and _REFERENCE_FIXTURES in value:
                path = value[: value.index(_REFERENCE_FIXTURES) + len(_REFERENCE_FIXTURES)]
                if not os.path.isdir(path):
                    missing.add(path)
                    counts[module.__name__] = counts.get(module.__name__, 0) + 1
                break
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    if counts and reporter is not None:
        reporter.write_line(
            f"reference fixtures missing at {', '.join(sorted(missing))}; "
            f"{sum(counts.values())} tests in {', '.join(sorted(counts))} will error"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("unravelsports-spark-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Unpersist operator-tracked intermediate tables after every test so the
    session-scoped SparkSession doesn't accumulate cached tables across the
    suite (ADVICE r3: tracked persists need a release point)."""
    yield
    from unravelsports_spark.cache import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()
