"""Output checks, run after each job and outside the timed region.

Every job's outputs are checked two ways, in one path:

- against oracles that share no code with the engine's Spark path: DuckDB
  recomputes the exact three-level medians from the job's own input (the
  measurement rows, or the pipeline's measurements checkpoint), and the
  config built from them must hash equal to the ``config.json`` the job
  wrote; the pipeline's matched traversals are scored against the
  generator's ground truth;
- against the values recorded in ``expected.json`` (by ``record.py``) for the
  same workload and input cut: config sha256, stage row counts, group counts
  and accuracy. A cut without recorded values fails the check.

``summarize_*`` run the oracle checks and return ``(summary, problems)``;
``check_*`` also compare the summary with the recorded values and return
``(ok, summary, problems)``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

HIST_BIN_WIDTH = 200.0 / 256  # rollup_medians_hist defaults (lo, hi, n_bins)
_BASE = ["density", "road_class", "type"]


def sha256_file(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def load_expected(workload: str, label: str) -> dict | None:
    """Recorded output summary of ``workload`` on input cut ``label``, if
    recorded."""
    if not os.path.exists(EXPECTED_PATH):
        return None
    with open(EXPECTED_PATH) as f:
        return json.load(f).get(workload, {}).get(label)


def _rollup_sql(src: str, extra: list[str], agg: str) -> str:
    """The three rollup levels over ``src``; rows with an empty region feed
    the country and world levels but form no region group (the reference's
    aggregation asymmetry)."""
    keys = ", ".join(_BASE + extra)
    return f"""
        SELECT 'region' AS level, country, region, {keys}, {agg} AS v
          FROM {src} WHERE region <> '' GROUP BY country, region, {keys}
        UNION ALL
        SELECT 'country', country, NULL, {keys}, {agg}
          FROM {src} GROUP BY country, {keys}
        UNION ALL
        SELECT 'world', NULL, NULL, {keys}, {agg}
          FROM {src} GROUP BY {keys}
    """


def oracle_rollup(parquet_glob: str, extra: list[str] | None = None, disc: bool = False) -> dict:
    """``{(level, country, region, *keys): median}`` computed by DuckDB.
    ``disc`` gives the lower-middle order statistic instead of the
    interpolated median."""
    extra = list(extra or [])
    agg = "quantile_disc(kph, 0.5)" if disc else "quantile_cont(kph, 0.5)"
    src = f"read_parquet('{parquet_glob}')"
    con = duckdb.connect()
    try:
        rows = con.execute(_rollup_sql(src, extra, agg)).fetchall()
    finally:
        con.close()
    return {tuple(r[:-1]): r[-1] for r in rows}


def _key(row: dict, extra: list[str]) -> tuple:
    return (row["level"], row["country"], row["region"], *[row[k] for k in _BASE + extra])


def _compare_medians(name: str, got: list[dict], want: dict, extra: list[str], tol) -> list[str]:
    got_map = {_key(r, extra): r["median_kph"] for r in got}
    if set(got_map) != set(want):
        return [
            f"{name}: {len(set(got_map) ^ set(want))} groups differ from the oracle "
            f"({len(got_map)} vs {len(want)})"
        ]
    bad = [k for k, v in got_map.items() if v is None or abs(v - want[k]) > tol(want[k])]
    return [f"{name}: {len(bad)} medians off the oracle, e.g. {bad[0]}"] if bad else []


def _oracle_config_sha(medians: dict) -> str:
    from conflation_spark.functions.config_build import render_config_json, rollup_to_configs

    rows = [
        {
            "level": k[0], "country": k[1], "region": k[2],
            "density": k[3], "road_class": k[4], "type": k[5], "median_kph": v,
        }
        for k, v in medians.items()
    ]
    return hashlib.sha256(render_config_json(rollup_to_configs(rows)).encode()).hexdigest()


def _exact_tol(v: float) -> float:
    return 1e-9 * max(1.0, abs(v))


def against_expected(summary: dict, workload: str, label: str) -> list[str]:
    expected = load_expected(workload, label)
    if expected is None:
        return [f"no values recorded for {workload} input {label}"]
    return [
        f"{k}: got {summary.get(k)!r}, recorded {v!r}"
        for k, v in expected.items()
        if summary.get(k) != v
    ]


def summarize_aggregate(input_dir: str, rows: dict, config_path: str):
    """``rows`` holds the collected ``exact``, ``hourly`` and ``hist`` rollups."""
    src = os.path.join(input_dir, "measurements.parquet")
    exact = oracle_rollup(src)
    problems = _compare_medians("exact", rows["exact"], exact, [], _exact_tol)
    problems += _compare_medians(
        "hourly", rows["hourly"], oracle_rollup(src, ["hour"]), ["hour"], _exact_tol
    )
    # the histogram tier is approximate by design: within one bin of the
    # rank-ceil(n/2) order statistic
    problems += _compare_medians(
        "hist", rows["hist"], oracle_rollup(src, disc=True), [],
        lambda v: HIST_BIN_WIDTH + 1e-9,
    )
    summary = {
        "config_sha256": sha256_file(config_path),
        "groups_exact": len(rows["exact"]),
        "groups_hourly": len(rows["hourly"]),
        "groups_hist": len(rows["hist"]),
    }
    if summary["config_sha256"] != _oracle_config_sha(exact):
        problems.append("config.json differs from the config of the oracle medians")
    return summary, problems


def check_aggregate(input_dir: str, rows: dict, config_path: str, workload: str, label: str):
    summary, problems = summarize_aggregate(input_dir, rows, config_path)
    problems += against_expected(summary, workload, label)
    return not problems, summary, problems


def pipeline_accuracy(spark, input_dir: str, work_dir: str, n_traversals: int) -> dict:
    """Speed-bucket match and traversal identity against the generator's
    ground truth, scored as the frozen ``bench.py`` scores them."""
    from pyspark.sql import functions as F

    from conflation_spark.operators.measurements import derive_measurements

    edges = spark.read.parquet(os.path.join(input_dir, "edges.parquet"))
    truth = spark.read.parquet(os.path.join(input_dir, "truth.parquet"))
    trav_dir = os.path.join(work_dir, "checkpoints", "traversals")
    trav = spark.read.parquet(trav_dir)
    actual = truth.join(edges.select("edge_id", "length_km"), "edge_id").select(
        "doc_id",
        F.col("seq").alias("edge_seq"),
        "edge_id",
        (F.col("length_km") / (F.col("exit_elapsed") - F.col("enter_elapsed")) * 3600.0).alias(
            "actual_kph"
        ),
    )
    derived = derive_measurements(trav, edges, keep_edge_id=True, keep_seq=True)
    bucket = derived.join(actual, ["doc_id", "edge_seq", "edge_id"]).select(
        F.avg(
            (F.floor(F.col("kph") / 10) == F.floor(F.col("actual_kph") / 10)).cast("double")
        )
    ).collect()[0][0]
    con = duckdb.connect()
    try:
        same = con.execute(
            f"""SELECT count(*) FROM read_parquet('{trav_dir}/*.parquet') t
                SEMI JOIN read_parquet('{input_dir}/truth.parquet') g
                ON t.doc_id = g.doc_id AND t.edge_seq = g.seq AND t.edge_id = g.edge_id"""
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "speed_bucket_match": round(bucket or 0.0, 4),
        "traversal_identity": round(same / max(n_traversals, 1), 4),
    }


def summarize_pipeline(spark, input_dir: str, work_dir: str, counts: dict):
    config_path = os.path.join(work_dir, "results", "config.json")
    meas = os.path.join(work_dir, "checkpoints", "measurements", "*.parquet")
    summary = {
        "config_sha256": sha256_file(config_path),
        "rows_filtered_points": counts["filtered_points"],
        "rows_traversals": counts["traversals"],
        "rows_measurements": counts["measurements"],
        **pipeline_accuracy(spark, input_dir, work_dir, counts["traversals"]),
    }
    problems = []
    if summary["config_sha256"] != _oracle_config_sha(oracle_rollup(meas)):
        problems.append("config.json differs from the config of the oracle medians")
    return summary, problems


def check_pipeline(spark, input_dir: str, work_dir: str, counts: dict, workload: str, label: str):
    summary, problems = summarize_pipeline(spark, input_dir, work_dir, counts)
    problems += against_expected(summary, workload, label)
    return not problems, summary, problems
