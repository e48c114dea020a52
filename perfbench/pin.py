"""Pin the expected outputs of the query workloads into expected.json.

    python3 perfbench/pin.py

Runs every query operation of the query workloads twice in one Spark
session over the tables in ``data/sf0.01`` and records its row count and
order-insensitive hash (both runs must agree).  Where the engine module
defines DuckDB oracle SQL for the query, the oracle is run over the same
parquet files and its digest compared; a disagreement is reported and the
query is left unpinned rather than pinned.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

ORACLES = {
    "queries": ("flatterer_spark.queries", "CORE_ORACLE"),
    "tpch_queries": ("flatterer_spark.tpch_queries", "TPCH_ORACLE"),
    "ext_queries": ("flatterer_spark.ext_queries", "EXT_ORACLE"),
    "curation": ("flatterer_spark.curation", "CURATION_ORACLE"),
    "gate_queries": ("flatterer_spark.streaming.gate_queries",
                     "STREAM_GATE_ORACLE"),
}


def oracle_digest(sf_dir: str, sql: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in run.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return check.row_digest(check.sorted_columns_rows(cols, cur.fetchall()))
    finally:
        con.close()


def main() -> int:
    work = run.work_dir("pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.confine_scratch(work)
    sys.path.insert(0, run.ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sf_dir = run.QUERY_SF_DIR
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    from flatterer_spark.streaming import gate_queries

    gate_queries._scratch_base = lambda need=0: None
    ops = [op for w in run.WORKLOADS.values() if w["kind"] == "query"
           for op in w["ops"]]
    fns = run.load_queries(ops)
    spark = run.start_spark()
    pinned, report = {}, {}
    try:
        for mod, name in ops:
            digests = []
            for _ in range(2):
                if name == "dedup_cluster":
                    from flatterer_spark.curation import clear_label_cache

                    clear_label_cache()
                df = fns[name](spark, sf_dir)
                rows = df.collect()
                digests.append(check.row_digest(
                    check.sorted_columns_rows(df.columns, rows)))
            entry = {"rows": digests[0][0], "hash": digests[0][1]}
            if digests[0] != digests[1]:
                report[name] = f"not deterministic: {digests}"
                continue
            mod_name, dict_name = ORACLES[mod]
            sql = getattr(importlib.import_module(mod_name), dict_name).get(name)
            if sql is None:
                entry["oracle"] = "none"
            else:
                od = oracle_digest(sf_dir, sql)
                if od != digests[0]:
                    report[name] = (f"engine {digests[0]} != DuckDB oracle {od}")
                    continue
                entry["oracle"] = "agrees"
            if entry["rows"] == 0:
                report[name] = "returns no rows on the benchmark's tables"
            pinned[name] = entry
            print(f"{name}: {entry}", flush=True)
    finally:
        run.stop_spark(spark)
        run.remove_work_dir(work)
    out = {
        "sf_dir": os.path.relpath(sf_dir, run.ROOT),
        "queries": pinned, "not_pinned": report,
    }
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for name, why in report.items():
        print(f"NOT PINNED {name}: {why}", file=sys.stderr)
    return 1 if report else 0


if __name__ == "__main__":
    sys.exit(main())
