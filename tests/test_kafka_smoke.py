"""Live-broker Kafka smoke: executable the day the
environment ships a broker + the spark-sql-kafka connector, skipped (with
the reason on record) everywhere else.  The sandbox path for the same
wiring is tests/test_streaming.py::TestKafkaWiring + the file-source seam;
this test exists so the one environment-bounded gap in the Kafka story
has a ready-to-run proof instead of a prose promise.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from scripts.kafka_smoke import broker_reachable

BOOTSTRAP = "localhost:9092"


def _connector_on_classpath(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not broker_reachable(BOOTSTRAP),
    reason=f"no Kafka broker at {BOOTSTRAP} (sandbox has none; "
    "see scripts/kafka_smoke.py for the spark-submit recipe)",
)
def test_kafka_round_trip_smoke(spark):
    if not _connector_on_classpath(spark):
        pytest.skip("spark-sql-kafka connector jar not on the classpath")
    proc = subprocess.run(
        [sys.executable, "scripts/kafka_smoke.py", BOOTSTRAP],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "round-tripped" in proc.stdout
