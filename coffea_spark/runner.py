"""Runner facade: apply one pipeline to many datasets and merge results.

Reference: Runner/apply_to_fileset (processor/executor.py:1165-1795,
dataset_tools/apply_processor.py:31-136) — normalize a fileset, run the
processor per chunk, monoid-merge accumulators, with retries and
checkpointing.

Spark-first the runtime shrinks to a facade: Spark owns chunking, task
retries, speculation and locality, so a "fileset" is just
{dataset: [parquet paths]}, the "processor" is a function
DataFrame -> result dict, and the merge is accumulator.accumulate.
Checkpointing = one pickled result per completed dataset.
"""

from __future__ import annotations

import os
import pickle
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coffea_spark.accumulator import accumulate


def _result_path(checkpoint_dir: str, dataset: str) -> str:
    return os.path.join(checkpoint_dir, f"{dataset}.result.pkl")


def run(
    spark: SparkSession,
    fileset: dict[str, list[str] | str],
    pipeline: Callable[[DataFrame], dict],
    with_dataset_column: bool = True,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    on_error: str = "raise",
) -> dict:
    """Run ``pipeline`` over each dataset's files; returns
    {dataset: result} plus a merged ``"__total__"`` entry.

    ``pipeline`` receives the dataset DataFrame (with a ``dataset``
    literal column for metadata parity with events.metadata,
    methods/base.py:272-275) and returns a dict of driver-side values —
    anything accumulator.add can merge (numbers, numpy arrays, Hist1D,
    nested dicts).

    Recovery bookkeeping (reference SimpleCheckpointer,
    processor/checkpointer.py:15-130, + the Ok/Err partial accumulation
    of executor.py:202-273): with ``checkpoint_dir`` set, each
    completed dataset's result is pickled (atomically: tmp + rename) to
    ``<dir>/<dataset>.result.pkl``; ``resume=True`` loads those instead
    of recomputing, so a rerun after a mid-fileset failure only pays
    for the datasets that never finished. Spark's own task retries
    handle chunk-level failure — the unit of recovery here is the
    dataset. ``on_error="partial"`` records a failing dataset under
    ``"__failed__"`` (name -> repr(error)) and keeps going instead of
    raising; the merged total then covers the successes only.
    """
    if on_error not in ("raise", "partial"):
        raise ValueError("on_error must be 'raise' or 'partial'")
    results: dict[str, dict] = {}
    failed: dict[str, str] = {}
    for dataset, paths in fileset.items():
        if checkpoint_dir is not None and resume:
            rp = _result_path(checkpoint_dir, dataset)
            if os.path.exists(rp):
                with open(rp, "rb") as f:
                    results[dataset] = pickle.load(f)
                continue
        if isinstance(paths, str):
            paths = [paths]
        try:
            df = spark.read.parquet(*paths)
            if with_dataset_column:
                df = df.withColumn("dataset", F.lit(dataset))
            results[dataset] = pipeline(df)
        except Exception as exc:  # noqa: BLE001 - partial-result contract
            if on_error == "raise":
                raise
            failed[dataset] = repr(exc)
            continue
        if checkpoint_dir is not None:
            os.makedirs(checkpoint_dir, exist_ok=True)
            rp = _result_path(checkpoint_dir, dataset)
            tmp = rp + ".tmp"
            with open(tmp, "wb") as f:
                pickle.dump(results[dataset], f)
            os.replace(tmp, rp)
    merged = accumulate(results.values())
    out = dict(results)
    out["__total__"] = merged
    if failed:
        out["__failed__"] = failed
    return out


# ---------------------------------------------------------------------------
# fileset manipulation (reference: dataset_tools/manipulations.py:39-371 —
# max_chunks/slice_chunks act on the uproot step lists there; in Spark the
# analogous unit is the FILE (Spark owns intra-file splits), so the chunk
# ops map to row-limits instead)
# ---------------------------------------------------------------------------

def max_files(fileset: dict, n: int | None = None) -> dict:
    """Keep at most ``n`` files per dataset (manipulations.py:181-197)."""
    if n is None:
        return fileset
    return {ds: _as_list(paths)[:n] for ds, paths in fileset.items()}


def slice_files(fileset: dict, s: slice = slice(None)) -> dict:
    """Apply ``s`` to every dataset's file list (manipulations.py:200-229)."""
    return {ds: _as_list(paths)[s] for ds, paths in fileset.items()}


def filter_files(fileset: dict, predicate=None) -> dict:
    """Keep files where ``predicate(path)`` holds; default drops none
    (manipulations.py:240-258's filter hook)."""
    if predicate is None:
        return fileset
    return {
        ds: [p for p in _as_list(paths) if predicate(p)]
        for ds, paths in fileset.items()
    }


def max_rows(df: DataFrame, n: int | None = None) -> DataFrame:
    """Row-limited view of a dataset — the Spark analog of the
    reference's max_chunks quick-look path (manipulations.py:39-57):
    ``limit`` pushes into the scan (CollectLimit), so a debug run reads
    only the first parquet row groups, like processing one chunk."""
    return df if n is None else df.limit(n)


def _as_list(paths: list[str] | str) -> list[str]:
    return [paths] if isinstance(paths, str) else list(paths)
