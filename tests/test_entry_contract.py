"""Driver-contract shape checks (no Spark jobs — import-level only)."""

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

entry_mod = importlib.import_module("__spark_entry__")


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 30
    assert set(oracles) <= set(qs), "oracle keys must be a subset of queries"
    # every oracled entry is the strong check; CDC/geometry are rows-only
    rows_only = set(qs) - set(oracles)
    assert all(
        k.startswith("cdc_") or k in ("similarity_ann_lsh", "multimodal_features")
        for k in rows_only
    ), f"unexpected rows-only entries: {rows_only}"
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_oracle_sql_references_only_registered_views():
    """Driver pre-registers exactly these views; oracles must not need more."""
    allowed = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    import re

    for name, sql in entry_mod.oracle_sql().items():
        tables = set(re.findall(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql, re.I))
        ctes = set(
            re.findall(
                r"(?:WITH(?:\s+RECURSIVE)?|,)\s*([a-z_][a-z0-9_]*)\s+AS\s*\(",
                sql,
                re.I,
            )
        )
        aliases = {"t", "a", "b", "c", "i", "sa", "sb", "q", "o", "l", "s", "n", "r"}
        aliases |= {"range"}  # DuckDB built-in table function, not a view
        unknown = {t.lower() for t in tables} - allowed - ctes - aliases
        assert not unknown, f"{name} references unregistered tables: {unknown}"


def test_oracle_sql_text_frozen():
    """The DuckDB oracle text (every ``oracle_sql()`` string, including the
    library ``*_sql`` builders it calls) is frozen: the Spark side changes
    shape freely, the oracles it is graded against do not."""
    import hashlib
    import json

    oracles = entry_mod.oracle_sql()
    digest = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()
    assert len(oracles) == 96
    assert digest == "de96af026ce9e3c2864c28924f18d6b3b0cf1e7eece263165a787c9e30cbffa8"
