"""Iteration harness: run one (or more) registered queries against the
DuckDB oracle at a given SF dir, print compare() problems.

Usage: python scripts/check_one.py [SF_DIR] q_name [q_name ...]"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.session import build_session
from tests.oracle_utils import duck_connection, compare

sf = sys.argv[1] if sys.argv[1].startswith("/") else "/root/testdata/sf0.001"
names = sys.argv[2:] if sys.argv[1].startswith("/") else sys.argv[1:]
registry.load_all()
spark = build_session(app_name="check-one", shuffle_partitions=8)
con = duck_connection(sf)
for name in names:
    sdf = registry.QUERIES[name](spark, sf).toPandas()
    if name in registry.ORACLES:
        ddf = con.execute(registry.ORACLES[name]).fetchdf()
        probs = compare(sdf, ddf)
        print(name, "OK" if not probs else "PROBLEMS:", *probs[:5], f"rows={len(sdf)}")
    else:
        print(name, "(no oracle)", f"rows={len(sdf)}")
    print(sdf.head(8).to_string())
spark.stop()
