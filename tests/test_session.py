"""Session defaults of ``get_spark`` that change driver behaviour."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


def test_engine_session_does_not_import_ipython():
    """``get_spark`` turns DataFrame-debugging call-site capture off, so
    a ``pyspark.sql.functions`` call neither imports IPython nor walks
    the stack. PySpark caches the flag per process on its first wrapped
    call, so this runs in a fresh interpreter: an in-process check
    would depend on which test made the first Column call."""
    code = textwrap.dedent(
        """
        import sys
        from pyspark.sql import functions as F
        from vector_knowledge_base_spark.session import get_spark

        spark = get_spark(cpus=1)
        F.col("x")
        print("IPython" in sys.modules,
              spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=dict(os.environ, SPARK_DRIVER_MEMORY="1g"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["False", "false"]
