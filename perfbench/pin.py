"""Re-pin the expected outputs in ``perfbench/expected.json``.

    python3 perfbench/pin.py --workload ingest-write

Runs every query of the workload on the inputs of two seeds, in two
sessions.  Oracle-backed queries are pinned as "check against DuckDB".
A rows-only query is pinned by its ``frame_sig`` when both runs agree
on it, else by row count and schema when those agree, else by schema.
"""

from __future__ import annotations

import argparse
import json
import sys

import run


def _observe(spark, queries, names, data_dir) -> dict[str, dict]:
    from yodel_etl_spark.testing import frame_sig

    out = {}
    for name in names:
        pdf = queries[name].build(spark, data_dir).toPandas()
        out[name] = {"rows": len(pdf), "schema": sorted(pdf.columns), "sig": frame_sig(pdf)}
        spark.catalog.clearCache()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    args = ap.parse_args()
    run._configure_env()
    queries = run._import_program()
    workload = run.WORKLOADS[args.workload]
    spark, seen = None, []
    for seed in (1, 2):
        spark, data_dir = run._set_up(workload, seed, spark)
        seen.append(_observe(spark, queries, workload.queries, data_dir))
    spark.stop()

    pins = {}
    for name in workload.queries:
        if queries[name].oracle:
            pins[name] = {"oracle": True}
            continue
        a, b = seen[0][name], seen[1][name]
        pins[name] = {k: a[k] for k in ("rows", "schema", "sig") if a[k] == b[k] or k == "schema"}
    with open(run.EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)
    expected[args.workload] = pins
    with open(run.EXPECTED, "w", encoding="utf-8") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(pins, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
