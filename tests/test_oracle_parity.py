"""Emulates the driver's t2 gate: run every registered query on Spark at
sf0.001 AND its DuckDB oracle on the same parquet, compare row count,
schema (column names) and sorted values."""

from __future__ import annotations

import math

import pandas as pd
import pytest

import __spark_entry__ as entry

# test_entry_contract.py checks these three exactly, stricter than rel=1e-9.
_CHECKED_EXACTLY = ("k01_kmeans_lineitem", "k02_kmeans_compat", "k03_kmeans_mllib")

_SQL = entry.oracle_sql()

# Entries 51+ sit past the driver's 50-entry window, so this in-repo
# sweep is their primary oracle gate — same discipline.
ORACLE_CASES = [
    (n, fn, _SQL[n])
    for n, fn in entry.queries().items()
    if n in _SQL and n not in _CHECKED_EXACTLY
]

# Registry entries with no oracle. EMPTY since round 6: k01 gained a
# hash-ordered-init golden-row oracle in round 5 and k03 moved to
# layout-invariant derived facts (total rows / cluster count / banded
# WSSE) with a VALUES oracle in round 6, so every queries() entry is
# value-checked. Kept as a live guard: any future entry registered
# without an oracle lands here and still gets a rows-run smoke.
ROWS_ONLY_CASES = [(n, fn) for n, fn in entry.queries().items() if n not in _SQL]


def test_every_entry_is_oracle_backed():
    """The round-6 structural pin: 0 rows-only entries — the full
    registry carries oracles."""
    assert ROWS_ONLY_CASES == []


def _canon_value(v):
    import datetime

    if v is None:
        return None
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object or str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].map(_canon_value)
    # Row alignment must not hinge on float ulps: a 1-ulp aggregation
    # difference (legal merge-order noise the VALUE compare tolerates)
    # must not flip sort order and misalign every later row (seed-99991
    # fuzz regression: sum(l_tax) 2.57 vs 2.5700000000000003 shifted the
    # whole frame). Keep ONE column order for both frames (alphabetical —
    # a dtype-dependent order would itself diverge when an engine types
    # floor() as int and the other as double) and substitute a rounded
    # sort key for float columns in place; full-precision values still
    # go through _compare afterwards.
    keys, tmp = [], []
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            sk = f"_sk_{c}"
            df[sk] = df[c].round(6)
            keys.append(sk)
            tmp.append(sk)
        else:
            keys.append(c)
    df = df.sort_values(by=keys, na_position="first").reset_index(drop=True)
    return df.drop(columns=tmp)


def _compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                xf = float("nan") if x is None else float(x)
                yf = float("nan") if y is None else float(y)
                if math.isnan(xf) and math.isnan(yf):
                    continue
                assert xf == pytest.approx(yf, rel=1e-9, abs=1e-9), (
                    f"{name}: col {c} row {i}: {x} != {y}"
                )
            else:
                assert str(x) == str(y), f"{name}: col {c} row {i}: {x!r} != {y!r}"


@pytest.mark.parametrize("name,fn,sql", ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_oracle_parity(spark, duck, sf_dir, name, fn, sql):
    got = fn(spark, sf_dir).toPandas()
    want = duck.execute(sql).fetchdf()
    _compare(got, want, name)


@pytest.mark.parametrize("name,fn", ROWS_ONLY_CASES, ids=[c[0] for c in ROWS_ONLY_CASES])
def test_rows_only_queries_run(spark, sf_dir, name, fn):
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
