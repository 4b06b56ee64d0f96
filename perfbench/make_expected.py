"""Build ``perfbench/expected.json``: the checked result of every query in
``run.QUERY_SET`` over the bundled sf0.01 tables.

A query with oracle SQL enters the file only after its Spark result matches
DuckDB on the same tables, by the comparison in ``tests/oracle.py``; it is
then checked on row count plus ``bit_xor(xxhash64(all columns))``.  A
rows-only query enters with its row count and, when it has an ``inv_ok``
column, the requirement that it holds in every row.  Every query is built
and checked twice; a fingerprint that differs between the two builds is an
error, because the benchmark could not check it.

Run from the repository root after a change that is meant to alter results:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import EXPECTED, QUERY_SET, SF_DIR, result_check  # noqa: E402


def main() -> int:
    from corintick_spark.registry import load_all
    from corintick_spark.session import get_spark
    from tests.oracle import compare, duck_connection, run_duck

    spark = get_spark(app_name="perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    con = duck_connection(SF_DIR)
    out, bad = {}, []
    for name in QUERY_SET:
        q = registry[name]
        first, second = (result_check(q.spark(spark, SF_DIR)) for _ in range(2))
        entry = {"rows": first["rows"]}
        if q.sql is not None:
            spark_pdf = q.spark(spark, SF_DIR).toPandas()
            problems = compare(name, spark_pdf, run_duck(con, q.sql))
            if problems:
                bad.append(f"{name}: oracle mismatch {problems}")
                continue
            if first["fp"] != second["fp"]:
                bad.append(f"{name}: fingerprint differs between builds")
                continue
            entry["fp"] = first["fp"]
        if "inv_ok" in first:
            if first["inv_ok"] != 1 or second["inv_ok"] != 1:
                bad.append(f"{name}: inv_ok false")
                continue
            entry["inv_ok"] = 1
        if first["rows"] != second["rows"]:
            bad.append(f"{name}: row count differs between builds")
            continue
        out[name] = entry
        print(name, entry, "oracle" if q.sql else "rows-only", flush=True)
    spark.stop()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(EXPECTED, "w") as fh:
        json.dump({"sf_dir": os.path.relpath(SF_DIR, HERE), "queries": out}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
