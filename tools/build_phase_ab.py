"""Same-commit A/B probe for the bench build phases ONLY (VERDICT r11
"What's wrong" #2: view_build +4.9 s r10→r11, suspected variance).

Runs bench.py's build-phase protocol (`bench.time_build_phases`: warm-up,
first pass, cache-clear, second pass, min-of-two) without the 240-query
tail, so repeated runs isolate the build-phase variance band. Run it
twice (fresh process each) and compare:

    python tools/build_phase_ab.py   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from explora_kafka_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="explora-build-ab")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_python_workers(spark)
    phases, first_pass, _ = bench.time_build_phases(spark)
    print(json.dumps({
        "view_build": round(sum(phases.values()), 3),
        "build_phases": phases,
        "build_phases_first_pass": first_pass,
        "sf": bench.SF_DIR,
    }))


if __name__ == "__main__":
    main()
