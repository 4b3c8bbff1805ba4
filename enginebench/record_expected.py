"""Record the kpi-query expected results into ``expected.json``.

    python3 enginebench/record_expected.py

For every kpi-query operation this runs the registered Spark query and its
DuckDB oracle (``__spark_entry__.oracle_sql()``) over the generated
tables, compares them exactly after the canonicalization of
``tools/check_local.py``, and only when they agree records the row count
and the digest ``run.py`` checks (sum of per-row xxhash64, see
``run.digest_columns``). A query whose Spark result disagrees with its
oracle is reported and nothing is written. Re-run it whenever the table
generator (``tables.VERSION``) changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

import duckdb  # noqa: E402

import run  # noqa: E402
import tables  # noqa: E402
from check_local import BIG_ROWS, canon_df, compare_big  # noqa: E402


def main() -> int:
    import __spark_entry__ as entry
    from data_warehousing_assignment_spark.session import get_spark

    table_dir = tables.ensure(run.WORK)
    spark = get_spark(master=f"local[{run.nproc()}]", shuffle_partitions=run.nproc(),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{table_dir}/{f}'")

    recorded, bad = {}, []
    for name in run.KPI_QUERIES:
        df = queries[name](spark, table_dir)
        spdf = df.toPandas()
        opdf = con.execute(oracles[name]).df()
        if sorted(spdf.columns) != sorted(opdf.columns) or len(spdf) != len(opdf):
            ok = False
        elif len(spdf) > BIG_ROWS:
            ok, _ = compare_big(con, spdf, opdf)
        else:
            ok = canon_df(spdf) == canon_df(opdf)
        if not ok:
            bad.append(name)
            print(f"MISMATCH {name}: spark {len(spdf)} rows, oracle {len(opdf)} rows")
            continue
        row = df.agg(*run.digest_columns(df)).first()
        recorded[name] = {"rows": row["rows"], "digest": str(row["digest"])}
        print(f"ok {name}: {row['rows']} rows")
    spark.stop()
    if bad:
        print(f"not written: {len(bad)} queries disagree with their oracle: {bad}")
        return 1
    with open(run.EXPECTED, "w") as fh:
        json.dump({"tables": tables.VERSION, "queries": recorded}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
