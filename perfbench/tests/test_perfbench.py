"""Self-tests of the benchmark: seeded inputs, output checks, metric names.

    python3 -m pytest perfbench/tests -q

No Spark session is started; the checks are fed outputs built from the
DuckDB oracle and the engine's config builder.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def pool(tmp_path_factory):
    from conflation_spark.datagen import generate

    out = str(tmp_path_factory.mktemp("pool"))
    generate(out, n_docs=40, seed=workloads.POOL_SEED, grid_n=10, n_measurements=3000)
    return out


def _digest(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind,size", [("pipeline", 25), ("aggregate", 2000)])
def test_cut_is_byte_deterministic_per_seed(pool, tmp_path, kind, size):
    a, b, c = (str(tmp_path / n) for n in "abc")
    workloads.cut_input(pool, a, kind, size, seed=7)
    workloads.cut_input(pool, b, kind, size, seed=7)
    workloads.cut_input(pool, c, kind, size, seed=8)
    assert _digest(a) == _digest(b)
    main = "documents.parquet" if kind == "pipeline" else "measurements.parquet"
    assert _digest(a)[main] != _digest(c)[main]


def _aggregate_output(pool, work):
    """A correct aggregate-job output for the pool's measurement rows."""
    from conflation_spark.functions.config_build import rollup_to_configs, write_config

    src = os.path.join(pool, "measurements.parquet")

    def rows(medians, extra=()):
        keys = ["level", "country", "region", "density", "road_class", "type", *extra]
        return [dict(zip(keys, k), median_kph=v) for k, v in medians.items()]

    out = {
        "exact": rows(checks.oracle_rollup(src)),
        "hourly": rows(checks.oracle_rollup(src, ["hour"]), ["hour"]),
        "hist": rows(checks.oracle_rollup(src, disc=True)),
    }
    return src, out, write_config(rollup_to_configs(out["exact"]), str(work))


def test_aggregate_check_accepts_correct_output(pool, tmp_path):
    _, rows, config = _aggregate_output(pool, tmp_path)
    summary, problems = checks.summarize_aggregate(pool, rows, config)
    assert not problems
    assert summary["groups_exact"] == len(rows["exact"])


def test_aggregate_check_rejects_perturbed_config(pool, tmp_path):
    _, rows, config = _aggregate_output(pool, tmp_path)
    with open(config) as f:
        text = f.read()
    digit = re.search(r"\d", text)
    bumped = str((int(digit.group()) + 1) % 10)
    with open(config, "w") as f:
        f.write(text[: digit.start()] + bumped + text[digit.end():])
    _, problems = checks.summarize_aggregate(pool, rows, config)
    assert any("config.json" in p for p in problems)


def test_aggregate_check_rejects_perturbed_median(pool, tmp_path):
    _, rows, config = _aggregate_output(pool, tmp_path)
    rows["exact"][0]["median_kph"] += 0.01
    _, problems = checks.summarize_aggregate(pool, rows, config)
    assert any(p.startswith("exact:") for p in problems)


def test_check_compares_recorded_values(pool, tmp_path, monkeypatch):
    _, rows, config = _aggregate_output(pool, tmp_path)
    summary, _ = checks.summarize_aggregate(pool, rows, config)
    recorded = tmp_path / "expected.json"
    recorded.write_text(json.dumps(
        {"aggregate": {"0": summary, "1": {**summary, "config_sha256": "0" * 64}}}
    ))
    monkeypatch.setattr(checks, "EXPECTED_PATH", str(recorded))
    ok, _, problems = checks.check_aggregate(pool, rows, config, "aggregate", "0")
    assert ok, problems
    ok, _, problems = checks.check_aggregate(pool, rows, config, "aggregate", "1")
    assert not ok
    assert any(p.startswith("config_sha256") for p in problems)
    # an input cut without recorded values fails
    ok, _, problems = checks.check_aggregate(pool, rows, config, "aggregate", "2")
    assert not ok
    assert any(p.startswith("no values recorded") for p in problems)


def test_every_seed_selects_a_recorded_input():
    for workload in workloads.WORKLOADS:
        for seed in range(-3, 3 * workloads.N_INPUTS):
            label = str(workloads.input_index(seed))
            assert checks.load_expected(workload, label) is not None, (workload, seed)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == measure.END_TO_END
    assert layers == {name: measure.unit_of(name) for name in measure.PER_LAYER}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in [*e2e, *layers, *workloads.WORKLOADS]:
        assert NAME_RE.fullmatch(name), name
