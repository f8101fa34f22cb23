"""ROOT file ingestion: TTree/RNTuple -> Parquet -> Spark (convert-once).

The reference's primary entry point is a direct uproot read of ROOT
files (nanoevents/factory.py:267-480 from_root; schemas/base.py:136-178
branch forms). This engine reads ROOT NATIVELY — the pure-Python
reader in :mod:`coffea_spark.root_reader` (TKey walk, basket
decompression, TStreamerInfo-typed object-class branches) distributes
(file, entry-range) scans through Spark without uproot. This module is
the complementary STORAGE-LAYER posture for repeated 100 TB querying:

    ROOT TTree --decode once--> Parquet --> spark.read

Converting once preserves everything Spark needs: jagged branches
become Parquet LIST columns (Spark array<T>), NanoAOD's flat
``Muon_pt``-style naming survives as column names, and the schema
module's ``zip_collections``/NanoAODSchemaSpec reassemble struct
collections exactly as for driver-generated parquet. The conversion
runs ONCE per dataset as ``read_root(spark, files).write.parquet(dir)``:
the distributed (file, entry-range) scan, no shuffle. Every subsequent
query is a parquet scan with row-group skipping and pushdown, which a
repeated ROOT decode (native or uproot) cannot match.

:func:`ttree_to_parquet` converts one file on the local process; both
decode with the native reader, and uproot is not used.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession


def ttree_to_parquet(
    root_path: str,
    out_path: str,
    tree: str = "Events",
    branches: Iterable[str] | None = None,
) -> None:
    """Convert one ROOT TTree to Parquet, preserving jaggedness as LIST
    columns. For a whole dataset use
    ``read_root(spark, files).write.parquet(dir)``.

    Mirrors the decode the reference performs per-chunk at query time
    (factory.py:267-480), but performed once at the storage layer.
    """
    import pyarrow.parquet as pq

    from coffea_spark.root_reader import root_to_arrow

    table = root_to_arrow(
        root_path, tree, list(branches) if branches is not None else None
    )
    pq.write_table(table, out_path, row_group_size=64 * 1024)


def read_converted(
    spark: SparkSession,
    parquet_dir: str,
    collections: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Read converted NanoAOD-style parquet and reassemble struct
    collections (Muon_pt/Muon_eta/... -> Muon: array<struct>) via the
    schema module — the Spark-side half of the reference's
    NanoEventsFactory."""
    from coffea_spark.schema import zip_collections

    return zip_collections(spark.read.parquet(parquet_dir), collections)
