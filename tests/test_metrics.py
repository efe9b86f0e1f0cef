"""Cost observability: the StageMetrics scraper behind bench.py.

Two contracts: (1) with the UI disabled (the shared test session) the
scraper degrades to no-ops instead of failing the bench; (2) with the UI
enabled it attributes real shuffle-write bytes to the work that caused
them — verified in a subprocess because spark.ui.enabled is fixed at
JVM startup and the shared session runs with it off.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from zoom_etl_spark.metrics import StageMetrics, mb

REPO = Path(__file__).resolve().parent.parent


def test_metrics_disabled_graceful(spark):
    m = StageMetrics(spark)
    assert m.enabled is False
    assert m.delta() is None  # never raises, callers just skip the block


def test_mb_rounding():
    assert mb(1_234_567) == 1.23
    assert mb(0) == 0.0


def test_metrics_attribute_shuffle_bytes():
    script = textwrap.dedent("""
        from zoom_etl_spark.session import get_spark
        from zoom_etl_spark.metrics import StageMetrics
        spark = get_spark("metrics-smoke", cpus="2", ui=True)
        spark.sparkContext.setLogLevel("ERROR")
        m = StageMetrics(spark)
        assert m.enabled, "UI-enabled session must expose the REST API"
        # a groupBy over generated data forces a real shuffle write
        spark.range(0, 200_000).selectExpr("id % 97 AS k", "id AS v") \\
            .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
        d = m.delta()
        assert d is not None
        assert d["shuffleWriteBytes"] > 0, d
        # snapshot advanced: an idle delta is all-zero, not a repeat
        d2 = m.delta()
        assert d2 is not None and d2["shuffleWriteBytes"] == 0, d2
        print("METRICS_OK")
        spark.stop()
    """)
    # `python -c` puts its cwd first on sys.path: run it from the checkout
    proc = subprocess.run([sys.executable, "-c", script], cwd=REPO,
                          capture_output=True, text=True, timeout=180)
    assert "METRICS_OK" in proc.stdout, proc.stderr[-2000:]
