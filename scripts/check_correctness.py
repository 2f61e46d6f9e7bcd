"""Local mimic of the driver's correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet dir, compares row count, sorted schema and
an order-insensitive value hash (columns sorted by name, rows sorted,
floats canonicalized).

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]
(no names = all queries + the entry() smoke)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == "float64":
            pdf[c] = pdf[c].round(6)
        # normalize nullable ints
        if str(pdf[c].dtype).startswith(("Int", "UInt")):
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> str:
    csv = pdf.to_csv(index=False, float_format="%.6g")
    return hashlib.sha256(csv.encode()).hexdigest()[:16]


def _cells(pdf: pd.DataFrame) -> pd.DataFrame:
    """Cells as the strings ``value_hash`` hashes (floats as %.6g)."""
    return pd.DataFrame(
        {
            c: pdf[c].map(lambda v: "" if pd.isna(v) else "%.6g" % v)
            if pdf[c].dtype == "float64"
            else pdf[c].astype(str)
            for c in pdf.columns
        }
    )


def divergence(g: pd.DataFrame, x: pd.DataFrame) -> list[str]:
    """Name what diverged between two ``canon`` frames with the same
    row count and columns but different value hashes: the columns whose
    own value hash differs, and the first diverging row, keyed by its
    values of the columns that do match.  Both sides are sorted by
    those key columns first, so rows pair up by key."""
    bad = [
        c
        for c in g.columns
        if value_hash(canon(g[[c]])) != value_hash(canon(x[[c]]))
    ]
    key = [c for c in g.columns if c not in bad]
    order = key + bad
    gs = _cells(g.sort_values(order, kind="stable").reset_index(drop=True))
    xs = _cells(x.sort_values(order, kind="stable").reset_index(drop=True))
    alone = bad or "none alone (rows pair up differently)"
    out = [f"columns differing: {alone}"]
    rows = (gs != xs).any(axis=1)
    if rows.any():
        i = int(rows.idxmax())
        shown = bad or list(g.columns)
        out += [
            f"first diverging row {i}, key {gs.loc[i, key].to_dict()}",
            f"  spark : {gs.loc[i, shown].to_dict()}",
            f"  duckdb: {xs.loc[i, shown].to_dict()}",
        ]
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        # catches `check_correctness.py <query_name>` (sf_dir omitted)
        print(f"first argument must be a data dir, got {sf_dir!r}")
        return 1
    import __spark_entry__ as E
    from sqlfeatureextraction_spark.session import get_spark

    spark = get_spark("check_correctness", parallelism=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs, oracles = E.queries(), E.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    n_fail = 0
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {e}")
            n_fail += 1
            continue
        g, x = canon(got), canon(exp)
        ok_rows = len(g) == len(x)
        ok_cols = list(g.columns) == list(x.columns)
        hg, hx = value_hash(g), value_hash(x)
        status = "OK  " if (ok_rows and ok_cols and hg == hx) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        print(
            f"{status}  {name}: rows {len(g)}/{len(x)} cols "
            f"{list(g.columns) if not ok_cols else 'match'} hash "
            f"{'match' if hg == hx else f'{hg} != {hx}'}"
        )
        if hg != hx and ok_rows and ok_cols:
            for line in divergence(g, x):
                print(f"      {line}")

    # smoke: entry()
    if not only:
        res = E.entry(spark)
        n = res.count()
        print(f"entry(): {n} rows, schema {res.schema.simpleString()}")
    print("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
