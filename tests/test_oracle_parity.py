"""Run the driver-gate simulation over every oracle-backed query at
sf0.001 (the full set runs in driver_sim CLI / the real driver at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent))
from driver_sim import compare, duck_con  # noqa: E402

from ocr_suite_spark.queries import FROZEN, GOLDEN_QUERIES, REGISTRY  # noqa: E402
from ocr_suite_spark.queries.common import GOLDEN_SF_DIR  # noqa: E402

SF = "/root/testdata/sf0.001"

ORACLE_QUERIES = sorted(
    name for name, (_, sql) in REGISTRY.items() if sql and name not in GOLDEN_QUERIES
)


@pytest.fixture(scope="module")
def duck():
    return duck_con(SF)


@pytest.fixture(scope="module")
def duck_medium():
    return duck_con(GOLDEN_SF_DIR)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    fn, sql = REGISTRY[name]
    problems = compare(fn(spark, SF).toPandas(), duck.execute(sql).df())
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(GOLDEN_QUERIES))
def test_golden_parity(spark, duck_medium, name):
    """Golden freshness: the Spark query at sf0.01 must still equal its
    committed fixture — catches kernel/datagen drift that would silently
    invalidate goldens (regenerate with tests/gen_goldens.py)."""
    fn, sql = REGISTRY[name]
    problems = compare(
        fn(spark, GOLDEN_SF_DIR).toPandas(), duck_medium.execute(sql).df()
    )
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(GOLDEN_QUERIES))
def test_golden_parity_second_sf(spark, name):
    """Two-SF golden sanity (VERDICT r2 ask #9): the same golden pipeline
    verified against committed sf0.001 fixtures, so a driver SF change
    can't silently invalidate the sf0.01-pinned oracles without this
    tripping first."""
    import duckdb
    import os

    from ocr_suite_spark.queries.common import GOLDEN_DIR_SMALL, GOLDEN_SMALL_SF_DIR

    fixture = os.path.join(GOLDEN_DIR_SMALL, f"{name}.parquet")
    assert os.path.exists(fixture), f"missing {fixture}; run tests/gen_goldens.py"
    want = duckdb.connect().execute(f"SELECT * FROM read_parquet('{fixture}')").df()
    got = REGISTRY[name][0](spark, GOLDEN_SMALL_SF_DIR).toPandas()
    problems = compare(got, want)
    assert not problems, problems


def test_every_query_has_an_oracle():
    """r2 invariant: zero rows-only queries — everything registered is
    value-level gradeable (recomputing SQL or golden fixture)."""
    missing = [name for name, (_, sql) in REGISTRY.items() if sql is None]
    assert missing == [], missing


def test_grading_prefix_covers_unproven_queries():
    """The driver grades exactly the first 50 registry entries. Every query
    not in ``FROZEN`` must sit inside that prefix, or it ships without any
    driver row; the frozen ones fill the rest."""
    names = list(REGISTRY)
    assert FROZEN <= set(names), sorted(FROZEN - set(names))
    assert [n for n in names[:50] if n in FROZEN] == []
    assert set(names[50:]) == FROZEN, (
        "queries past the grading prefix without prior proof: "
        f"{sorted(set(names[50:]) - FROZEN)}"
    )


def _frozen_body_hash(name: str) -> str:
    """md5 of the query fn's source + its rendered oracle SQL — the freeze
    fingerprint. The checkout's own path is replaced by a fixed placeholder
    in the SQL (an oracle reading a repo fixture embeds it), so the hash is
    the same from any checkout path. Limitation (disclosed): source hashing
    sees the query body, not its callee graph; kernel-path value identity
    is separately guarded by the golden fixtures at two SFs."""
    import hashlib
    import inspect

    from ocr_suite_spark.queries.common import _REPO_ROOT

    fn, sql = REGISTRY[name]
    src = inspect.getsource(fn)
    sql = (sql or "").replace(_REPO_ROOT, "<repo>")
    return hashlib.md5((src + "\0" + sql).encode()).hexdigest()


def test_frozen_bodies_unchanged():
    """ADVICE r4 #2: a query shipping on a prior round's proof must be
    BYTE-frozen (fn source + rendered oracle SQL), not just asserted
    frozen. On legitimate change: remove it from ``queries.FROZEN`` and
    regenerate with `python tests/gen_frozen_hashes.py`."""
    import json
    import os

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "frozen_hashes.json")
    want = json.load(open(fixture))
    frozen = sorted(FROZEN)
    assert sorted(want) == frozen, "queries.FROZEN changed; regenerate frozen_hashes.json"
    drift = [n for n in frozen if _frozen_body_hash(n) != want[n]]
    assert drift == [], (
        f"frozen query bodies changed without re-grading: {drift} — remove "
        "them from queries.FROZEN so they move into the 50-entry grading prefix"
    )
