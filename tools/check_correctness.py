"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` against its
``oracle_sql()`` DuckDB twin at sf0.01 and compares row count, schema
(column names, sorted) and values with driver-level strictness: rows are
sorted by all columns, columns sorted by name, and each value compared via
``repr`` after float64 normalization — so ``-0.0`` vs ``0.0`` and last-ulp
drift are treated as mismatches, exactly like a value hash would.

Usage:  python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the tables the registered queries read
TABLES = ("events", "documents")


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    # normalize dtypes the way a value-hash would see them
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def cell_repr(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v) + ("|-0" if v == 0.0 and math.copysign(1, v) < 0 else "")
    if isinstance(v, (np.floating,)):
        return cell_repr(float(v))
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(cell_repr(x) for x in v) + "]"
    return repr(v)


def values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if cell_repr(x) != cell_repr(y):
                return False, f"col {c!r} row {i}: spark={x!r} oracle={y!r}"
    return True, ""


def main() -> int:
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(a for a in sys.argv[1:] if a != "--only")

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("verde_spark-correctness")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results: dict[str, dict] = {}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            results[name] = {"err": f"spark: {exc}"}
            failed.append(name)
            print(f"{name}: SPARK ERROR {exc}")
            continue
        if name not in oracles:
            results[name] = {"err": "no_oracle", "spark_rows": len(sdf)}
            print(f"{name}: no_oracle ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            results[name] = {"err": f"oracle: {exc}"}
            failed.append(name)
            print(f"{name}: ORACLE ERROR {exc}")
            continue
        s, o = canon(sdf), canon(odf)
        rows = len(s) == len(o)
        schema = list(s.columns) == list(o.columns)
        if rows and schema:
            hashm, detail = values_match(s, o)
        else:
            hashm, detail = False, f"rows {len(s)}/{len(o)} cols {list(s.columns)}/{list(o.columns)}"
        results[name] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": hashm,
            "spark_rows": len(s),
            "oracle_rows": len(o),
        }
        ok = rows and schema and hashm
        if not ok:
            failed.append(name)
        flag = "OK " if ok else "FAIL"
        extra = f"  [{detail}]" if detail and not ok else ""
        print(f"{name}: {flag} rows={len(s)}/{len(o)}{extra}")

    print(json.dumps({"failed": failed, "n": len(results)}))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
