"""Full-surface correctness self-check — the driver's gate, uncapped.

The external driver's CORRECTNESS_r{N}.json stops at 50 queries; this
tool runs the IDENTICAL comparison (Spark result vs DuckDB oracle at
sf0.01: row count, lower-cased column names, order-insensitive values
with floats rounded to 6) over EVERY ``queries()`` entry and writes
``SELFCHECK.json`` at the repo root, so the full surface has an
auditable, re-runnable record each round. Run:

    python tools/self_correctness.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    # MUST stay in lockstep with tests/test_oracle_parity.py::_norm (the
    # CI twin of this comparison): floats round to 6 then normalize to
    # their repr STRING — repr('-0.0') != repr('0.0'), so the comparison
    # is signed-zero-sensitive like the driver's byte hash (round 8
    # shipped a red official gate on embedding_covariance that this
    # comparator's former `round==` could not see: DuckDB round(,6)
    # keeps IEEE -0.0 where Spark F.round returns +0.0). ints/bools
    # pass, and everything else (Decimal, date, timestamp)
    # string-normalizes so cross-engine type skew can't flip the verdict
    # between the two harnesses.
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (int, bool)):
        return v
    return str(v) if v is not None else None


def main() -> None:
    import duckdb

    import __spark_entry__ as em
    from go_simple_embedding_database_spark.session import get_spark

    spark = get_spark(app_name="self-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracles = em.oracle_sql()
    out: dict[str, dict] = {}
    for name, fn in em.queries().items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sorted(tuple(_norm(v) for v in r) for r in sdf.collect())
            sql = oracles.get(name)
            if sql is None:
                out[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": "no_oracle"}
                continue
            rel = con.sql(sql)
            drows = sorted(tuple(_norm(v) for v in r) for r in rel.fetchall())
            out[name] = {
                "rows_match": len(srows) == len(drows),
                "schema_match": [c.lower() for c in sdf.columns]
                                 == [c.lower() for c in rel.columns],
                "hash_match": srows == drows,
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
                "err": None,
                "sec": round(time.time() - t0, 2),
            }
        except Exception as e:  # a broken query must not hide the rest
            out[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None,
                         "err": f"{type(e).__name__}: {e}"[:200]}
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SELFCHECK.json")
    import platform

    import pandas
    import pyarrow
    import pyspark
    # Engine/conversion-layer provenance: the round-2 gate divergence was
    # a DuckDB HUGEINT client-conversion difference between environments,
    # invisible without version stamps on the record.
    versions = {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }
    with open(dest, "w") as f:
        json.dump({"sf_dir": SF_DIR, "versions": versions,
                   "n_queries": len(out),
                   "n_hash_match": sum(1 for r in out.values()
                                       if r["hash_match"]),
                   "n_rows_only": sum(1 for r in out.values()
                                      if r["err"] == "no_oracle"),
                   "failures": [k for k, r in out.items()
                                if r["err"] not in (None, "no_oracle")
                                or r["hash_match"] is False],
                   "results": out}, f, indent=1)
    print(f"wrote {dest}: {len(out)} queries, "
          f"{sum(1 for r in out.values() if r['hash_match'])} hash-match")


if __name__ == "__main__":
    main()
