"""Record the expected (rows, digest) of every benchmark pipeline.

Runs each pipeline of every workload (and every variant of the generated
package) once on the benchmark's input tables, checks its output value by
value against an independent DuckDB oracle (the catalog's ``ORACLES`` SQL,
or the package's own SQL), and only then writes its full-row digest to
``expected.json``. A pipeline whose output disagrees with its oracle, or
that has no oracle, stops the recording.

Usage (from the checkout root): python3 perfbench/record_expected.py
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import sys

import pandas as pd

import harness
import workloads


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(_norm(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows(records: list[dict], cols: list[str]) -> list[tuple]:
    return sorted(
        (tuple(_norm(r[c]) for c in cols) for r in records),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def compare(spark_df, con, sql: str) -> str | None:
    """None when the frame equals the oracle's result as a multiset of
    rows (columns matched by name, floats to 6 decimals)."""
    got = [r.asDict(recursive=True) for r in spark_df.collect()]
    odf = con.execute(sql).df()
    want = odf.to_dict("records")
    gcols = sorted(spark_df.columns)
    ocols = sorted(odf.columns)
    if gcols != ocols:
        return f"columns differ: {gcols} vs {ocols}"
    a, b = _rows(got, gcols), _rows(want, gcols)
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} rows differ, e.g. {next(((x, y) for x, y in zip(a, b) if x != y))}" \
        if bad else None


def main() -> int:
    import duckdb

    data = harness.data_dir()
    run = harness.prepare_run_dir()
    spark = harness.start_session(harness.spark_conf(run, event_log=False))
    harness.register_sources(spark, data)
    from ssis_to_pyspark_agent_spark.queries import ORACLES

    con = duckdb.connect()
    for t in harness.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    defs = {}
    for wl, names in workloads.WORKLOADS.items():
        for short in names:
            if short == "pkg":
                for v in range(len(workloads.PACKAGE_VARIANTS)):
                    d = workloads.package_pipeline(v)
                    defs[d.name] = (d, workloads.package_oracle_sql(v))
            else:
                d = workloads.catalog_pipeline(short)
                defs[d.name] = (d, ORACLES.get(d.name))

    out = {}
    failed = []
    for name, (d, oracle) in defs.items():
        df = d.build(spark, data, run)
        err = "no oracle" if oracle is None else compare(df, con, oracle)
        rows, dig = harness.read_digest(harness.digest_frame(df))
        # a second build and digest must agree: the digest is only a
        # check if the pipeline is deterministic
        again = harness.read_digest(
            harness.digest_frame(d.build(spark, data, run)))
        if err is None and again != (rows, dig):
            err = f"not deterministic: {(rows, dig)} then {again}"
        harness.release(spark)
        harness.log(f"{name}: rows={rows} digest={dig} "
                    f"{'OK' if err is None else 'FAIL ' + err}")
        if err is not None:
            failed.append(name)
        out[name] = {"rows": rows, "digest": dig}
    harness.stop_jvm(spark)
    if failed:
        harness.log(f"not recorded, oracle check failed for: {failed}")
        return 1
    doc = {
        "sf": harness.DATA_SF,
        "data_seed": harness.DATA_SEED,
        "data_version": harness.DATA_VERSION,
        "pipelines": out,
    }
    with open(os.path.join(harness.HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
