"""Seeded workload inputs for the conflation benchmark.

A pool is built once per checkout by ``conflation_spark.datagen.generate``
with a fixed seed; generating costs about 3 ms a document, too slow to repeat
in every run. Input cut ``i`` is the pool documents (or measurement rows)
drawn with seed ``i``; a run's ``--seed`` selects cut ``seed % N_INPUTS``, so
the same seed gives byte-identical input files and another seed, as a rule,
another input of the same size and mix.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL_SEED = 42
POOL_DOCS = 6000
POOL_GRID = 28  # the sf0.1 road graph: 6 cities of 28x28 nodes
POOL_MEASUREMENTS = 1_000_000
POOL_MARKER = "_POOL_v1"

# kind "pipeline": documents -> config.json through run_pipeline; size in
# documents. kind "aggregate": the separate aggregation step over pre-matched
# measurement rows; size in rows. Each run first runs ``warmup_jobs`` untimed
# jobs on a warm-up cut of the same size, since the first jobs in a JVM pay
# one-time costs (JIT, code generation), then times a fixed number of jobs,
# ``timed_jobs``, on the seed's cut. The pipeline job is timed as the first
# one in its JVM, as a submitted batch job runs: a warm-up pipeline would
# cost about 30 s a run, which the hour for a full measurement does not
# allow (README.md, "Sizing"). An aggregate job still runs about 40% slower
# as the second job in its JVM than from the third on, so two warm-ups come
# before its timed jobs.
WORKLOADS = {
    "trace_heavy": {"kind": "pipeline", "size": 1500, "warmup_jobs": 0, "timed_jobs": 1},
    "aggregate": {"kind": "aggregate", "size": 200_000, "warmup_jobs": 2, "timed_jobs": 2},
}

# --seed picks one of this many input cuts, so that the output check always
# has values recorded for the input (expected.json, written by record.py)
N_INPUTS = 16
# the warm-up cut is drawn with its own seed, so that nothing keyed on the
# input can carry over from warm-up to timed region
WARMUP_SEED = 1_000_003


def input_index(seed: int) -> int:
    """The input cut that ``--seed`` selects."""
    return seed % N_INPUTS


def ensure_pool(cache_dir: str) -> str:
    """Build (once) and return the pool directory under ``cache_dir``."""
    from conflation_spark.datagen import generate

    pool = os.path.join(cache_dir, "pool")
    if os.path.exists(os.path.join(pool, POOL_MARKER)):
        return pool
    tmp = pool + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(
        tmp,
        n_docs=POOL_DOCS,
        seed=POOL_SEED,
        grid_n=POOL_GRID,
        n_measurements=POOL_MEASUREMENTS,
    )
    with open(os.path.join(tmp, POOL_MARKER), "w") as f:
        f.write("ok")
    shutil.rmtree(pool, ignore_errors=True)
    os.rename(tmp, pool)
    return pool


def cut_input(pool: str, out_dir: str, kind: str, size: int, seed: int) -> None:
    """Write the seeded input of ``size`` documents (kind "pipeline") or
    measurement rows (kind "aggregate") into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if kind == "pipeline":
        docs = pq.read_table(os.path.join(pool, "documents.parquet"))
        # sorted: the input keeps the pool's doc order, as a real source would
        pick = np.sort(rng.choice(docs.num_rows, size=size, replace=False))
        chosen = docs.take(pa.array(pick))
        pq.write_table(chosen, os.path.join(out_dir, "documents.parquet"), row_group_size=256)
        truth = pq.read_table(os.path.join(pool, "truth.parquet"))
        truth = truth.filter(pc.is_in(truth["doc_id"], value_set=chosen["doc_id"]))
        pq.write_table(truth, os.path.join(out_dir, "truth.parquet"), row_group_size=8192)
        shutil.copyfile(
            os.path.join(pool, "edges.parquet"), os.path.join(out_dir, "edges.parquet")
        )
        return
    meas = pq.read_table(os.path.join(pool, "measurements.parquet"))
    pick = rng.integers(0, meas.num_rows, size=size)
    pq.write_table(
        meas.take(pa.array(pick)),
        os.path.join(out_dir, "measurements.parquet"),
        row_group_size=8192,
    )


def ensure_input(cache_dir: str, workload: str, index: int | None) -> str:
    """Cut (once) and return the input directory of a workload's input cut
    ``index``, or of its warm-up cut if ``index`` is None."""
    spec = WORKLOADS[workload]
    warmup = index is None
    # the size is in the name, so a resized workload never reuses a stale cut
    name = f"{workload}-{spec['size']}-{'warmup' if warmup else index}"
    out = os.path.join(cache_dir, "inputs", name)
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        pool = ensure_pool(cache_dir)
        shutil.rmtree(out, ignore_errors=True)
        cut_input(pool, out, spec["kind"], spec["size"], WARMUP_SEED if warmup else index)
        with open(marker, "w") as f:
            f.write("ok")
    return out
