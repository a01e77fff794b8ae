"""Driver-contract smoke tests: entry() runs, every query runs at sf0.001,
every oracle key has a matching query, column names line up with the SQL."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"


def test_oracle_keys_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_all_queries_run_sf0001(spark, sf_dir):
    """Every query runs; its columns are unique and, when it has an
    oracle, each appears in the oracle SQL text (the driver sorts columns
    by name before hashing). One plan build per query covers both."""
    oracles = entrymod.oracle_sql()
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
        assert len(df.columns) == len(set(df.columns)), f"{name}: dup columns"
        if name in oracles:
            sql_low = oracles[name].lower()
            for c in df.columns:
                assert re.search(rf"\b{re.escape(c.lower())}\b", sql_low), (
                    f"{name}: column {c} not present in oracle SQL"
                )


def test_rows_only_declarations_resolve():
    from etl_pipline_ibrd_loan_system_spark.queries import ROWS_ONLY

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert ROWS_ONLY <= set(qs)
    # every registered query has an oracle unless declared rows-only
    assert set(qs) - set(oracles) <= ROWS_ONLY


def test_driver_order_sorts_by_newest_green_round(tmp_path):
    """The driver checks the first 50 registry entries, so the registry
    order is the verification policy: a query's key is the round of its
    NEWEST CORRECTNESS row if that row is green, else -1 (no row, or a red
    newest row: a red row never retires a query); a stable sort keeps
    registration order on ties."""
    import json

    from etl_pipline_ibrd_loan_system_spark.queries import _driver_order

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {"rows_match": True, "schema_match": True, "hash_match": False}
    rows_only = {"rows_match": True, "schema_match": True, "hash_match": None}
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(
        {"old_green": green, "turned_red": green, "tie_b": green,
         "tie_a": green, "rows_only": green}
    ))
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps(
        {"turned_red": red, "fresh": green, "rows_only": rows_only}
    ))
    # registration order is the dict's insertion order
    registered = dict.fromkeys(
        ["fresh", "rows_only", "tie_a", "never_a", "turned_red",
         "old_green", "tie_b", "never_b"]
    )
    assert list(_driver_order(registered, str(tmp_path))) == [
        "never_a",      # -1: no row
        "turned_red",   # -1: newest row (r11) red, older r03 row green
        "never_b",      # -1: ties keep registration order
        "tie_a",        # r03 green; registered before old_green and tie_b
        "old_green",
        "tie_b",
        "fresh",        # r11 green
        "rows_only",    # r11 hash_match None counts as green
    ]


def test_live_registry_is_in_driver_order():
    """The live registry is a permutation of every registered query,
    non-decreasing in the driver-staleness key."""
    import etl_pipline_ibrd_loan_system_spark.queries as q

    names = list(entrymod.queries())
    assert sorted(names) == sorted(q.QUERIES)
    stale = q._driver_staleness()
    keys = [stale.get(n, -1) for n in names]
    assert keys == sorted(keys)


def test_registry_lint_flags_numbering_collisions(monkeypatch):
    """registry_lint (generalizing the judge's dq17 finding): two
    registered names sharing a numbering code (`tx17_...` twice) must
    fail the lint — ledger greps key on the code, so a collision silently
    mis-credits driver rows. Letter-suffix variants (dd3 vs dd3b) are
    distinct codes and stay legal."""
    import etl_pipline_ibrd_loan_system_spark.queries as q

    entrymod.queries()  # populate
    assert q.registry_lint() == []  # live registry is collision-free
    fake = dict(q.QUERIES)
    fake["tx1_shadow_duplicate"] = fake[next(iter(fake))]
    monkeypatch.setattr(q, "QUERIES", fake)
    probs = q.registry_lint()
    assert any("numbering collision on 'tx1'" in p for p in probs)
    # letter-suffix variants are NOT collisions
    assert not any("'dd3'" in p for p in probs)
