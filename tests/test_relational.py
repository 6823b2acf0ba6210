"""Driver-gate replica: every queries() entry vs its DuckDB oracle at sf0.001.

Mirrors the driver's CORRECTNESS check: run the Spark DataFrame and the oracle
SQL on the same parquet, then compare row count, column names, and values
(order-insensitive). Uses sf0.001 locally for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object and s.map(
            lambda v: v is None or hasattr(v, "year"), na_action=None
        ).all() and s.notna().any():
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, ddb, sf_dir, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        # rows-only check (non-SQL-expressible op)
        n = q(spark, sf_dir).count()
        assert n >= 0
        return
    ours_raw = q(spark, sf_dir).toPandas()
    ref_raw = ddb.execute(oracles[name]).df()
    # Dtype-kind parity BEFORE canonicalization: the driver hashes typed
    # values, so e.g. DuckDB HUGEINT (SUM(CASE...) -> float64 in pandas) vs
    # Spark BIGINT hash-mismatches even when values compare equal. Catch that
    # class locally (int-width and datetime-unit differences stay allowed).
    kinds_ours = {c: ours_raw[c].dtype.kind for c in ours_raw.columns}
    kinds_ref = {c: ref_raw[c].dtype.kind for c in ref_raw.columns}
    norm = {"u": "i"}
    for c in set(kinds_ours) & set(kinds_ref):
        a, b = norm.get(kinds_ours[c], kinds_ours[c]), norm.get(kinds_ref[c], kinds_ref[c])
        if "O" in (a, b):  # object columns (strings/arrays/None-mixed) — skip
            continue
        assert a == b, f"{name}: column {c} dtype kind spark={a} oracle={b}"
    ours = _canon(ours_raw)
    ref = _canon(ref_raw)
    assert list(ours.columns) == list(ref.columns), (
        f"{name}: columns {list(ours.columns)} != {list(ref.columns)}"
    )
    assert len(ours) == len(ref), f"{name}: rows {len(ours)} != {len(ref)}"
    pd.testing.assert_frame_equal(ours, ref, check_dtype=False, check_exact=True)


def test_lang_id_stopword_splits_on_any_whitespace(spark, tmp_path):
    """Tabs, newlines and runs of spaces separate words in the query and in
    its oracle alike: both rows score the same six Spanish stopwords."""
    text = "el gato es uno de los animales que viven en la casa"
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [text, "el\tgato es\nuno de los\r\nanimales que  viven en\t\tla casa"],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    ours = entry_mod.queries()["lang_id_stopword"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    ref = con.execute(entry_mod.oracle_sql()["lang_id_stopword"]).df()
    for got in (ours, ref):
        got = got.sort_values("doc_id")
        assert list(got["es_score"]) == [6, 6]
        assert list(got["en_score"]) == [0, 0]
        assert list(got["lang_guess"]) == ["es", "es"]
