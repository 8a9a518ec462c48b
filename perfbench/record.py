"""Record the output check's expected values: expected.json.

    python3 perfbench/record.py [workload ...]

Run from the root of a checkout, after a change that alters the program's
outputs on purpose. Runs every input cut of each named workload (default:
all) in one Spark session, checks each output against the oracles, and
writes its summary (config sha256, stage row counts, group counts, accuracy)
into expected.json; the entries of other workloads are kept.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import measure
from checks import EXPECTED_PATH, summarize_aggregate, summarize_pipeline
from workloads import N_INPUTS, WORKLOADS, ensure_input

# accuracy the matcher reaches on this world, with margin: a recording below
# it would make a broken matcher the reference
MIN_ACCURACY = {"speed_bucket_match": 0.95, "traversal_identity": 0.99}


def record(spark, workload: str, run_dir: str) -> dict:
    kind = WORKLOADS[workload]["kind"]
    cache = os.path.join(measure.STATE, "cache")
    work = os.path.join(run_dir, "work")
    out = {}
    for index in range(N_INPUTS):
        input_dir = ensure_input(cache, workload, index)
        result = measure.run_job(kind, spark, input_dir, work)
        if kind == "pipeline":
            summary, problems = summarize_pipeline(spark, input_dir, work, result)
            problems += [
                f"{k} {summary[k]} below {v}" for k, v in MIN_ACCURACY.items() if summary[k] < v
            ]
        else:
            config = os.path.join(work, "results", "config.json")
            summary, problems = summarize_aggregate(input_dir, result, config)
        if problems:
            raise SystemExit(f"{workload} input {index}: {problems}")
        measure.log(f"{workload} input {index}: {summary}")
        out[str(index)] = summary
    return out


def main() -> int:
    names = sys.argv[1:] or list(WORKLOADS)
    run_dir = os.path.join(measure.STATE, "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    measure._prepare_env(run_dir)
    spark = measure.new_session(measure._spark_conf(run_dir, event_log=False))
    try:
        recorded = {name: record(spark, name, run_dir) for name in names}
    finally:
        spark.stop()
    expected = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as f:
            expected = json.load(f)
    expected.update(recorded)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
