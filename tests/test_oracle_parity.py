"""Local replica of the driver's correctness gate: every queries() entry
with an oracle_sql() entry is run on Spark AND DuckDB at sf0.01 and compared
exactly — row count, column names, and VALUES (exact equality after
canonical normalization). If this file is green, CORRECTNESS_r{N}.json
should be green.
"""

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"


def _norm_cell(v):
    # canonicalize cells for exact comparison across engines
    import datetime as dt

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    return str(v)


def _canon(df):
    cols = sorted(df.columns)
    # Replicate the driver's canonicalizer exactly: pandas sort_values over
    # the RAW columns raises TypeError (unhashable type: 'list') on
    # array-typed cells — query outputs must be scalar-typed to be gradable
    # (round-1 lesson: collect_cases/dedup_minhash failed only at the
    # driver because this step was skipped locally).
    df = df[cols].sort_values(cols).reset_index(drop=True)
    rows = [tuple(_norm_cell(r[c]) for c in cols) for _, r in df.iterrows()]
    return cols, sorted(rows)


def _compare(name, spark_df, duck_df):
    scols, srows = _canon(spark_df)
    dcols, drows = _canon(duck_df)
    assert scols == dcols, f"{name}: columns differ {scols} vs {dcols}"
    assert len(srows) == len(drows), (
        f"{name}: row counts differ {len(srows)} vs {len(drows)}"
    )
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"{name}: row {i} differs\n spark={a}\n duck ={b}"


def _load_contract():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def contract():
    return _load_contract()


def _all_oracle_query_names():
    # graded contract + held-out extras: identical parity bar for both
    mod = _load_contract()
    return sorted(mod.oracle_sql().keys()) + sorted(mod.extra_oracle_sql().keys())


def _lookup(contract, name):
    q = {**contract.queries(), **contract.extra_queries()}[name]
    sql = {**contract.oracle_sql(), **contract.extra_oracle_sql()}[name]
    return q, sql


# No registered query may depend on codegen fallback: a generated method
# that fails to compile (e.g. past Janino's 64 KB limit) raises here instead
# of silently running its stage interpreted.
_NO_CODEGEN_FALLBACK = {"spark.sql.codegen.fallback": "false",
                        "spark.sql.codegen.factoryMode": "CODEGEN_ONLY"}


@pytest.mark.parametrize("name", _all_oracle_query_names())
def test_query_matches_oracle(name, spark, duck, contract):
    q, sql = _lookup(contract, name)
    prev = {k: spark.conf.get(k) for k in _NO_CODEGEN_FALLBACK}
    try:
        for k, v in _NO_CODEGEN_FALLBACK.items():
            spark.conf.set(k, v)
        spark_pdf = q(spark, SF_DIR).toPandas()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    duck_pdf = duck.execute(sql).fetchdf()
    _compare(name, spark_pdf, duck_pdf)


def test_contract_is_within_driver_cap(contract):
    # round-2 evidence: the driver grades exactly the first 50 registered
    # queries — never register more (extract_spans was silently ungraded)
    import importlib
    import pkgutil
    from collections import Counter

    import no_ocr_spark.operators as ops

    assert len(contract.queries()) == 50
    assert set(contract.oracle_sql()) == set(contract.queries())

    # one pool: a name registered by two modules would shadow one silently,
    # and a module missing from the tuple would drop its queries silently
    modules = contract._modules()
    declaring = {m for m in (importlib.import_module(f"{ops.__name__}.{i.name}")
                             for i in pkgutil.iter_modules(ops.__path__))
                 if hasattr(m, "QUERIES")}
    assert set(modules) == declaring
    for attr in ("QUERIES", "ORACLES"):
        n_owners = Counter(n for m in modules for n in getattr(m, attr))
        assert {n: c for n, c in n_owners.items() if c > 1} == {}, attr
    for m in modules:
        assert set(m.ORACLES) <= set(m.QUERIES), m.__name__

    # GATE alone states gate membership and order
    gate = contract.GATE
    assert len(gate) == len(set(gate)) == 50
    assert list(contract.queries()) == list(contract.oracle_sql()) == list(gate)
    extras = contract.extra_queries()
    assert not set(gate) & set(extras)
    assert set(contract.extra_oracle_sql()) <= set(extras)


def test_every_query_has_rows_or_is_known_empty(spark, contract):
    # smoke: all queries (oracled or not) run and return a stable schema
    for name, q in {**contract.queries(), **contract.extra_queries()}.items():
        df = q(spark, SF_DIR)
        assert df.columns, f"{name}: no columns"


def test_entry_smoke(spark, contract):
    df = contract.entry(spark)
    assert df.count() >= 0
