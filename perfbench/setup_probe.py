"""One set-up in a fresh process: import the package, start the session
the way ``run.py`` does, stop it, and print the two times as JSON.
``run.py`` starts it from the repository root."""

from __future__ import annotations

import json
import os
import sys

import run

if __name__ == "__main__":
    run._isolate()
    times, spark = run.set_up(os.cpu_count() or 1, run._driver_mem_mb())
    run._shutdown(spark)
    print(json.dumps(times))
    sys.exit(0)
