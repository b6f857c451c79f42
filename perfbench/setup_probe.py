"""Measure session set-up in a fresh process.

Prints, as its last line, the seconds taken by ``get_spark()`` plus the
``GranuleDataSource`` registration; the JVM it started has exited when
the script returns. ``perfbench/run.py`` runs it as a subprocess with the
same environment it runs the workload in.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.bench import start_session, stop_session  # noqa: E402

if __name__ == "__main__":
    spark, seconds = start_session()
    stop_session(spark)
    print(f"{seconds!r}")
