"""Every registered query with an oracle must hash-match DuckDB —
the local twin of the driver's t2 correctness gate.  The DEMOTED tier
(kept out of the driver's 50-entry correctness window, registry.py)
is parity-checked here with exactly the same harness."""

from __future__ import annotations

import pytest

from recsys_spark_spark.plans.registry import DEMOTED, QUERIES, _load_all

from conftest import assert_df_matches_oracle

_load_all()
_ALL = {**QUERIES, **DEMOTED}
ORACLE_QUERIES = sorted(n for n, s in _ALL.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = _ALL[name]
    df = spec.fn(spark, sf_dir)
    assert_df_matches_oracle(df, duck, spec.oracle)


def test_driver_registry_within_correctness_window():
    """The driver's correctness harness checks at most 50 registry
    entries per round (CORRECTNESS_r02 covered exactly the first 50 of
    67) — everything registered must fit inside that window."""
    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} registered queries exceed the driver's 50-row "
        "correctness window; demote or merge (registry.DEMOTED)"
    )


def test_rotation_cycle_at_or_under_ceiling():
    """Rotation-latency ceiling, made mechanical (r13): every oracled
    query must earn a driver-green row within 2.4 rounds, i.e. at most
    2.4 x 50 = 120 oracled queries may exist at once.  Growing past
    the ceiling requires a same-commit merge (the ROTATION RULE
    paragraph in registry.py) — this test is what makes 'another
    query without a merge' a red diff instead of a slow drift."""
    oracled = sum(
        s.oracle is not None for s in {**QUERIES, **DEMOTED}.values()
    )
    assert oracled <= 120, (
        f"{oracled} oracled queries > the 120 ceiling (2.4-round cycle "
        "on a 50-row driver window); execute a staged merge in the "
        "same commit as the new query (registry.py ROTATION RULE)"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.limit(10).collect()
    assert df.columns == ["user_id", "item_id", "score", "rank"]
    assert len(rows) >= 0


def test_every_query_has_registry_entry(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_registered_tier_fully_oracled():
    """Round-5 rotation invariant: the two permanently-``no_oracle``
    queries (sequential_topk, als_topk — SOM+FPGrowth and MLlib ALS
    are not SQL-expressible; both are golden/NumPy-twin pinned) live
    in the DEMOTED tier so that every driver correctness slot CAN
    turn green.  Registering a no-oracle query burns one of the 50
    driver slots on a row that is `err: no_oracle` forever."""
    missing = sorted(n for n, s in QUERIES.items() if s.oracle is None)
    assert missing == [], (
        f"registered queries without oracles occupy driver slots: {missing}"
    )


def test_doc_registry_counts_in_sync():
    """README advertises the registered/demoted counts; assert they
    track ``len(QUERIES)`` / ``len(DEMOTED)`` so the docs cannot
    silently drift from the registry (the 82-vs-83 drift in round 4
    was caught by hand — this pins it mechanically)."""
    import pathlib
    import re

    readme = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    m = re.search(r"(\d+) queries are registered", readme)
    assert m, "README no longer states the registered-query count"
    assert int(m.group(1)) == len(QUERIES)
    m = re.search(r"remaining (\d+) queries live in a demoted tier", readme)
    assert m, "README no longer states the demoted-query count"
    assert int(m.group(1)) == len(DEMOTED)
    m = re.search(r"(\d+) named queries in\s+all, (\d+) with value-hash oracles", readme)
    assert m, "README no longer states the total/oracled counts"
    assert int(m.group(1)) == len(QUERIES) + len(DEMOTED)
    oracled = sum(s.oracle is not None for s in {**QUERIES, **DEMOTED}.values())
    assert int(m.group(2)) == oracled
