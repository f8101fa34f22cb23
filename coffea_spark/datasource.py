"""``spark.read.format("root")`` — the native ROOT scan as a Spark
Python Data Source (Spark 4 ``pyspark.sql.datasource`` API), and the
engine's only batch ROOT scan: :func:`coffea_spark.root_reader.read_root`
is this source with its arguments as options.

SURVEY.md §2.1 mapped the reference's `NanoEventsFactory.from_root`
(factory.py:267-480) to "converted parquet; a custom DataSourceV2 would
be out-of-scope v1" — Spark 4's Python data source API makes the native
path practical, so ROOT files compose with every DataFrameReader feature
(``.load`` of a file, glob, directory or list, schema inspection, SQL
``CREATE TABLE ... USING root`` in the session catalog).

Scale shape: ``schema()`` and ``partitions()`` run in a Python planner
worker, which opens each file's metadata to count its entries.
``partitions()`` returns (file, entry-range) work items, so one multi-GB
file fans out across executors; each partition streams
``batch_rows``-entry Arrow record batches with only the overlapping
baskets decompressed. Column pruning is declared via
``.option("columns", "a,b")`` (black-box Python sources cannot be traced
by Catalyst — the same explicit-projection contract as SURVEY §2.9's
column-tracing note).

Options: ``tree`` (default: most-basketed tree), ``columns``
(comma-separated; default all readable), ``batch_rows`` (64k),
``split_rows`` (512k).

``spark.readStream.format("root")`` takes its columns from the stream's
schema. Without ``.schema(...)`` that schema is inferred from the first
file, so a stream that starts before its first file arrives needs
``.schema(...)``, naming the branches to read.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class RootPartition(InputPartition):
    def __init__(self, path: str, start: int, stop: int):
        self.path = path
        self.start = start
        self.stop = stop


class RootDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "root"

    def _paths(self) -> list[str]:
        import json

        from coffea_spark.session import list_files

        if "paths" in self.options:  # .load([a, b]) sets a JSON list
            raws = json.loads(self.options["paths"])
        elif self.options.get("path"):
            raws = [self.options["path"]]
        else:
            raise ValueError("format('root') needs a path: .load('/x/*.root')")
        paths: list[str] = []
        for raw in raws:  # a missing entry must not drop its rows silently
            got = list_files(raw, "*.root")
            if not got:
                raise ValueError(f"format('root'): no files match {raw}")
            paths += got
        return paths

    def _columns(self, head) -> list[str]:
        cols = self.options.get("columns")
        if cols:
            use = [c.strip() for c in cols.split(",") if c.strip()]
            missing = [c for c in use if c not in head.branches]
            if missing:
                raise ValueError(f"format('root'): unreadable columns {missing}")
            return use
        return sorted(head.branches)

    def schema(self):
        from coffea_spark.root_reader import open_tree, spark_schema_for

        head = open_tree(self._paths()[0], self.options.get("tree"))
        return spark_schema_for(head, self._columns(head))

    def reader(self, schema) -> "RootReader":
        return RootReader(self)

    def writer(self, schema, overwrite: bool) -> "RootWriter":
        return RootWriter(self.options, schema, overwrite)

    def simpleStreamReader(self, schema) -> "RootStreamReader":
        return RootStreamReader(self, schema)


class RootReader(DataSourceReader):
    def __init__(self, source: RootDataSource):
        from coffea_spark.root_reader import open_tree

        self._paths = source._paths()
        head = open_tree(self._paths[0], source.options.get("tree"))
        self._tree = head.tree
        self._cols = source._columns(head)
        self._batch_rows = int(source.options.get("batch_rows", 65536))
        self._split_rows = int(source.options.get("split_rows", 1 << 19))

    def partitions(self):
        from coffea_spark.root_reader import plan_chunks

        return [
            RootPartition(p, s, e)
            for p, s, e in plan_chunks(self._paths, self._tree, self._split_rows)
        ]

    def read(self, partition: RootPartition):
        from coffea_spark.root_reader import open_tree

        r = open_tree(partition.path, self._tree)
        start, stop = int(partition.start), int(partition.stop)
        for b0 in range(start, stop, self._batch_rows) or [0]:
            b1 = min(b0 + self._batch_rows, stop)
            yield from _spark_table(r, self._cols, b0, b1).to_batches()


def _spark_table(r, cols: list[str], start: int = 0, stop: int | None = None):
    """Entries ``[start, stop)`` of ``cols`` as Arrow, cast to the types
    the source declares (unsigned widening, u8 -> decimal128(20,0))."""
    from coffea_spark.root_reader import arrow_schema_for

    tbl = r.to_arrow(cols, entry_start=start, entry_stop=stop)
    return tbl.cast(arrow_schema_for(r, cols))


def register_root_source(spark) -> None:
    """Idempotently register ``format("root")`` on a session. The
    source's ``schema()`` and ``partitions()`` run in a Python planner
    worker, so the package is shipped to workers first."""
    from coffea_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.dataSource.register(RootDataSource)


class RootCommit(WriterCommitMessage):
    def __init__(self, temp: str | None, final: str | None = None):
        self.temp = temp
        self.final = final


class RootWriter(DataSourceWriter):
    """``df.write.format("root").save(dir)`` — the catalog-integration
    surface over the same serializer as
    :func:`coffea_spark.root_writer.write_root_dir` (one
    part-NNNNN.root per partition, NanoAOD-style counts leaves via the
    ``counts_map`` option "branch:countsleaf,..."). The Python writer
    API delivers Rows (not Arrow batches), so bulk sinks should prefer
    ``write_root_dir``; this surface exists so ROOT round-trips
    compose with DataFrameWriter semantics (modes, options, SQL)."""

    def __init__(self, options, schema, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("format('root') write needs a path")
        self._tree = options.get("tree", "Events")
        self._basket_rows = int(options.get("basket_rows", 65536))
        self._compression = int(options.get("compression", 1))
        cm = options.get("counts_map", "")
        self._counts = dict(
            p.split(":", 1) for p in cm.split(",") if ":" in p
        )
        self._schema = schema
        import glob as _g
        import os as _os

        _os.makedirs(self._path, exist_ok=True)
        existing = _g.glob(_os.path.join(self._path, "part-*.root"))
        if existing and not overwrite:
            raise ValueError(
                f"format('root'): {self._path} already contains part files "
                "(use mode('overwrite'))"
            )
        for p in existing:
            _os.remove(p)

    def write(self, iterator):
        import os as _os

        import numpy as np
        from pyspark import TaskContext
        from pyspark.sql import types as T

        from coffea_spark.root_writer import serialize_root_file

        fields = self._schema.fields
        jagged = {f.name: isinstance(f.dataType, T.ArrayType) for f in fields}
        int_np = {
            T.ByteType(): np.int8, T.ShortType(): np.int16,
            T.IntegerType(): np.int32, T.LongType(): np.int64,
        }
        buf: dict[str, list] = {f.name: [] for f in fields}
        n = 0
        for row in iterator:
            n += 1
            for f in fields:
                v = row[f.name]
                buf[f.name].append(
                    np.asarray(v if v is not None else [])
                    if jagged[f.name]
                    else v
                )
        if n == 0:
            return RootCommit(None)
        cols = {}
        for f in fields:
            if jagged[f.name]:
                cols[f.name] = buf[f.name]
            else:
                want = int_np.get(f.dataType)
                cols[f.name] = (
                    np.asarray(buf[f.name], dtype=want)
                    if want is not None
                    else np.asarray(buf[f.name])
                )
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # Tungsten-style task-commit protocol: each attempt writes to a
        # UNIQUE temp name (attempt id disambiguates speculative /
        # retried attempts of the same partition — two attempts must
        # never stream into one path), and only commit() publishes the
        # winner under the final part name. A task that dies mid-write
        # leaves only an orphan temp, never a partial part file that
        # _SUCCESS would bless.
        attempt = ctx.taskAttemptId()
        final = _os.path.join(self._path, f"part-{pid:05d}.root")
        tmp = _os.path.join(self._path, f"_temp-part-{pid:05d}-{attempt}.root")
        blob = serialize_root_file(
            cols, tree=self._tree, counts_map=self._counts,
            basket_rows=self._basket_rows, compression=self._compression,
        )
        with open(tmp, "wb") as fh:
            fh.write(blob)
        return RootCommit(tmp, final)

    def _sweep_temps(self, keep: set[str] | None = None):
        import glob as _g
        import os as _os

        for p in _g.glob(_os.path.join(self._path, "_temp-part-*.root")):
            if keep and p in keep:
                continue
            try:
                _os.remove(p)
            except OSError:
                pass

    def commit(self, messages):
        import os as _os

        for m in messages:
            if m is not None and getattr(m, "temp", None):
                _os.replace(m.temp, m.final)
        # losing speculative attempts / earlier failed attempts of
        # since-retried tasks leave orphan temps — clear them before
        # blessing the directory
        self._sweep_temps()
        with open(_os.path.join(self._path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages):
        self._sweep_temps()


class RootStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("root")`` — ROOT files arriving in a
    directory as a micro-batch stream with exactly-once FILE semantics:
    the offset is the sorted list of files already ingested; each batch
    reads the newly-appeared files, and ``readBetweenOffsets`` replays
    a committed range deterministically on recovery.

    This is the *simple* (driver-prefetch) stream reader: batch data
    flows through the driver, which suits modest arrival rates (the
    online-monitoring shape — a DAQ node dropping a .root file per
    lumisection). For bulk backfills use batch ``format("root")`` /
    ``read_root`` inside ``foreachBatch`` instead."""

    def __init__(self, source: "RootDataSource", schema):
        self._raw = source.options.get("path")
        if not self._raw:
            raise ValueError("format('root') stream needs a path/glob")
        self._tree = source.options.get("tree")
        self._cols = schema.fieldNames()  # the user's or the inferred schema

    def _rows(self, paths: list[str]) -> list[tuple]:
        # materialized (not a generator): the simple-reader protocol
        # pickles the prefetched batch to ship it to executors
        from coffea_spark.root_reader import open_tree

        out: list[tuple] = []
        for p in paths:
            r = open_tree(p, self._tree)
            self._tree = r.tree  # pin the first file's tree, as the batch reader does
            missing = [c for c in self._cols if c not in r.branches]
            if missing:
                raise ValueError(f"format('root') stream: {p} lacks branches {missing}")
            tbl = _spark_table(r, self._cols)
            out.extend(zip(*(tbl.column(c).to_pylist() for c in self._cols)))
        return out

    def initialOffset(self) -> dict:
        return {"files": []}

    def read(self, start: dict):
        from coffea_spark.session import list_files

        done = set(start.get("files", []))
        new = [p for p in list_files(self._raw, "*.root") if p not in done]
        end = {"files": sorted(done | set(new))}
        return iter(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        done = set(start.get("files", []))
        new = [p for p in end.get("files", []) if p not in done]
        return iter(self._rows(new))

    def commit(self, end: dict) -> None:
        pass
