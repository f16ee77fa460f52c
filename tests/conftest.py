from __future__ import annotations

import os

import pytest

from etl_lens_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


def _named_nodeids(config) -> set[str]:
    """Nodeids given as ``path::name`` arguments, rooted like
    ``item.nodeid``."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), config.rootpath)
            named.add(rel.replace(os.sep, "/") + "::" + rest)
    return named


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round-12 verdict item 7): the default run —
    what the driver's bounded-window ``pytest tests/ -x -q`` gate
    executes — skips the slow tier so it completes inside the gate
    window (~6-9 min vs the 52-min full suite).
    ``SPARK_GRAFT_FULL_TESTS=1`` runs everything; the full tier is
    exercised before each round ships (OPTIMIZATION_r12.md records
    the full-run result). Slow tier =

    - tests marked ``slow``;
    - nodeids in tests/slow_nodeids.txt (measured >5 s call time in
      the committed full run — mostly lake-log compaction/stream
      fixtures and retrain-swap queries);
    - ``test_query_runs`` over NON-headline queries: the can-it-run
      smoke over all 561 queries is redundant with the oracle
      harness the driver runs as its own correctness gate
      (tools/oracle_check.py executes every query anyway); headline
      queries stay in the fast tier because the bench depends on
      them.

    A test named on the command line (``path::name``, or a class or
    parametrization under it) always runs: selecting it is the
    request to run it.
    """
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "slow_nodeids.txt")) as f:
            slow_ids = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        slow_ids = set()
    headline = None
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    named = _named_nodeids(config)
    for item in items:
        nodeid = item.nodeid
        if any(
            nodeid == n or nodeid.startswith((n + "::", n + "["))
            for n in named
        ):
            continue
        if "slow" in item.keywords or nodeid in slow_ids:
            item.add_marker(skip)
            continue
        if nodeid.startswith("tests/test_queries.py::test_query_runs["):
            if headline is None:
                from etl_lens_spark.queries import REGISTRY, _load

                _load()
                headline = {
                    n for n, s in REGISTRY.items() if s.headline
                }
            qname = nodeid.split("[", 1)[1].rstrip("]")
            if qname not in headline:
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl-lens-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
