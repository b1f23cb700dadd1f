"""Simulates the round driver's correctness gate: every ``queries()`` entry
vs its ``oracle_sql()`` (DuckDB, sf0.01 views + engine tables by path),
order-insensitive exact value equality after sorting by all columns."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif out[c].dtype.kind == "M":
            # Spark hands back ns-resolution datetimes, DuckDB us; with NaT
            # present pandas compares raw int64s, so unify the unit (the
            # driver's gate stringifies and never sees the difference)
            out[c] = out[c].astype("datetime64[us]")
    return out.sort_values(cols, kind="stable").reset_index(drop=True)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "image_id", "hex_r8", "s2_l12", "tile_x", "tile_y", "polygon_id", "caption",
    }


def test_every_query_has_runnable_oracle_or_is_documented(contract):
    queries, oracles = contract
    from jimmy_spark.queries import ROWS_ONLY

    no_oracle = set(queries) - set(oracles)
    assert no_oracle == set(ROWS_ONLY)


def _gate_names() -> list[str]:
    """Every registry entry with an oracle — derived from the registry so a
    new query can never silently skip the simulated gate."""
    from jimmy_spark.queries import QUERIES, ROWS_ONLY

    return [n for n in QUERIES if n not in ROWS_ONLY]


def test_registry_fits_driver_cap():
    """The round driver checks at most 50 registry entries (observed across
    rounds 1-3); the registry must never outgrow the gate again."""
    from jimmy_spark.queries import QUERIES

    assert len(QUERIES) <= 50, len(QUERIES)


@pytest.mark.parametrize("name", _gate_names())
def test_query_matches_oracle(spark, con, contract, name):
    queries, oracles = contract
    got = queries[name](spark, SF_DIR).toPandas()
    exp = con.sql(oracles[name]).df()
    assert list(sorted(got.columns)) == list(sorted(exp.columns)), (
        got.columns, exp.columns,
    )
    g, x = _normalize(got), _normalize(exp)
    assert len(g) == len(x), f"{name}: rows {len(g)} vs {len(x)}"
    pd.testing.assert_frame_equal(g, x, check_dtype=False, check_exact=True)


# (no rows-only queries remain: fuzzy_pairs gained a golden-parquet
# oracle in round 5 and now runs through test_query_matches_oracle)


@pytest.mark.parametrize("name", ["image_features", "decode_stats"])
def test_golden_regenerates_bit_identical(name):
    """scripts/make_goldens.py rebuilds these goldens from the local image
    kernels; their output must still equal the committed parquet, so a
    kernel change that drifts one bit fails here, without Spark."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "make_goldens", repo / "scripts" / "make_goldens.py"
    )
    mg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mg)
    got = getattr(mg, f"golden_{name}")()
    exp = pd.read_parquet(repo / "goldens" / f"{name}.parquet")
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp)
