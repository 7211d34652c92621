"""A warm rotation of registered queries compiles no generated class.

Spark keeps the classes Janino compiled for whole-stage codegen in one LRU
cache per JVM (spark.sql.codegen.cache.maxEntries, 100 by default), and
build_session sizes it to the engine's working set.  With a cache smaller
than the set a rotation uses, each class is evicted before its next use
and every warm run compiles it again.

The rotation runs in a fresh JVM (this file run as a script), so that the
count of its first, cold rotation does not depend on what the test session
compiled earlier.  Compilations are counted by Spark's
CodegenMetrics.METRIC_COMPILATION_TIME histogram, one sample per compile.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_DEFAULT_ENTRIES = 100
# The iot, relational and corpus queries of the benchmark's batch set.
ROTATION = (
    "q_mart_daily_sql",
    "q_rolling_7d",
    "q_topk_per_group",
    "q_quality_ratios",
    "q_serve_latest",
    "q_serve_analytics",
    "q_join_broadcast",
    "q_join_anti",
    "q_part_supplier_count",
    "q_embed_outliers",
    "q_embed_knn_lsh",
    "q_source_cap",
    "q_text_stats",
)


def rotate_twice(sf_dir: str) -> list[int]:
    """Compilations during each of two rotations through ROTATION, each
    query forced with a noop write, in a session from build_session."""
    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.session import build_session

    spark = build_session(
        app_name="codegen-cache",
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    registry.load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    try:
        for _ in range(2):
            before = compiles.getCount()
            for name in ROTATION:
                registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            counts.append(compiles.getCount() - before)
    finally:
        spark.stop()
    return counts


def test_warm_rotation_compiles_nothing(sf_dir):
    env = {
        **os.environ,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    cold, warm = json.loads(out.stdout.strip().splitlines()[-1])
    # The rotation's working set is larger than Spark's default cache.
    assert cold > SPARK_DEFAULT_ENTRIES, cold
    assert warm == 0, f"a warm rotation compiled {warm} classes (cold: {cold})"


if __name__ == "__main__":
    print(json.dumps(rotate_twice(sys.argv[1])))
