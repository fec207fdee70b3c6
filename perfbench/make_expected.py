"""Regenerate ``expected.json``: the DuckDB oracle's answer for every pinned
catalog query on the benchmark's tables.

    python3 perfbench/make_expected.py <scratch_dir>

Run it from the repository root after changing ``datagen.py``, ``SCALE`` or
the pinned lists.  Each query also runs on Spark; a query whose Spark rows
disagree with the oracle is reported and the file is not written.
``sketch_aggregates`` (approximate by design) and queries without an
oracle are recorded by Spark row count only.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROWS_ONLY = {"sketch_aggregates"}


def main(scratch: str) -> int:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import duckdb

    import datagen
    from catalog import EXPECTED_PATH, HEAVY, SCALE, SHORT, check_result, sweep
    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import TABLES, get_spark, table_path
    from tools.check_oracle import value_hash

    data_dir = os.path.join(scratch, "data")
    datagen.write_tables(data_dir, SCALE)
    spark = get_spark("perfbench-expected")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
    registry = load_all()
    out, failures = {}, []
    for name in SHORT + HEAVY:
        fn, oracle = registry[name]
        df = fn(spark, data_dir)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        sweep(spark)
        if oracle is None or name in ROWS_ONLY:
            out[name] = {"columns": cols, "rows": len(rows), "hash": None}
        else:
            rel = con.sql(oracle)
            drows = rel.fetchall()
            out[name] = {"columns": rel.columns, "rows": len(drows), "hash": value_hash(drows, rel.columns)}
        problem = check_result(name, cols, rows, out)
        print(f"{'FAIL' if problem else 'ok  '} {name}: rows={len(rows)} {problem or ''}", flush=True)
        if problem:
            failures.append(name)
    spark.stop()
    if failures:
        print(f"{len(failures)} queries disagree with the oracle: {failures}")
        return 1
    with open(EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump({"scale": SCALE, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    raise SystemExit(main(sys.argv[1]))
