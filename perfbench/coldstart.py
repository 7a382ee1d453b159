"""One cold start of the engine's session, timed by run.py.

    python3 perfbench/coldstart.py '<extra_conf as a JSON object>'

Imports pyspark and the engine, starts the session with
``session.get_spark`` and releases its caches, then prints one JSON line
with the time of each phase. run.py times from launching this process to
that line. No job runs: the first job's warm-up is not set-up. The session
is stopped and its JVM waited for after the line, outside the timed span.
"""

import json
import sys
import time
from pathlib import Path

t0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import pyspark  # noqa: E402
from geektime_bigdata_spark import session  # noqa: E402
import __spark_entry__  # noqa: E402,F401  importing the engine is set-up

t1 = time.perf_counter()
spark = session.get_spark(extra_conf=json.loads(sys.argv[1]))
t2 = time.perf_counter()
spark.sparkContext.setLogLevel("ERROR")
session.release_caches(spark)
print(
    json.dumps(
        {
            "import_s": t1 - t0,
            "get_spark_s": t2 - t1,
            "pyspark": pyspark.__version__,
        }
    ),
    flush=True,
)

from probes import stop_session  # noqa: E402

stop_session(spark)
