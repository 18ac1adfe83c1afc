"""One set-up alone in its own process, the second sample of ``setup_s``.

    python3 perfbench/setup_probe.py '<session conf as JSON>'

Starts the session and imports the flow compiler and operator registry the
way run.py does, stops the session and its JVM, and prints
``{"start_s": ..., "import_s": ..., "stolen": ...}``.  run.py calls it with
the run's environment and working directory already set up.
"""

import json
import sys

import run

if __name__ == "__main__":
    spark, start_s, import_s, stolen = run.start_session(json.loads(sys.argv[1]))
    run.stop(spark)
    print(json.dumps({"start_s": start_s, "import_s": import_s, "stolen": stolen}))
