"""``mongodump`` — a PySpark 4 Python DataSource reading MongoDB
backup collection files (concatenated BSON documents) directly.

The reference's ingest path is mongorestore → live MongoDB → Python
extractor (run_etl.py, etl/extractors/mongo_extractor.py); this source
collapses that to one Spark-native scan over the backup directory:

    from mongodb_etl_migration_spark.sources.mongodump_source import (
        register_mongodump)
    register_mongodump(spark)
    df = (spark.read.format("mongodump")
          .option("path", "/backups/appdb/rooms.bson").load())

Decoded values follow the same conventions as
``readers.normalize_extended_json`` (ObjectId → hex string, datetime →
timestamp, decimal128 → raw hex), so downstream entity specs see one
shape regardless of whether data arrived via parquet, extended JSON,
or raw BSON.

Scale notes: one InputPartition per .bson file — BSON documents are
length-prefixed with no sync markers, so a mid-file split cannot find
a document boundary without scanning from the start; mongodump output
is naturally many per-collection files, which is the parallelism unit
(matches how Spark treats gzipped JSON). Schema inference samples the
first ``inferDocs`` documents of the lexically-first file (explicit
``.schema(...)`` skips the sampling read — the right call at 100 TB).
The per-row Python decode cost is the honest price of the format; the
intended pattern is one ingest pass that lands parquet, not repeated
analytics over raw BSON.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    NullType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mongodb_etl_migration_spark.sources.bson_codec import (
    decode_document,
    encode_document,
    iter_documents,
)


def _resolve_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.bson")))
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no .bson files under {path!r}")
    return files


def _infer_type(v) -> DataType:
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, bytes):
        return BinaryType()
    if isinstance(v, datetime):
        return TimestampType()
    if isinstance(v, list):
        elem: DataType = NullType()
        for x in v:
            t = _infer_type(x)
            if not isinstance(t, NullType):
                elem = t
                break
        return ArrayType(elem if not isinstance(elem, NullType) else StringType())
    if isinstance(v, dict):
        return _infer_struct([v])
    return StringType()


def _infer_struct(docs: list[dict]) -> StructType:
    """Union of keys over the sample, first non-null value types a
    field; never-non-null fields fall back to string."""
    order: list[str] = []
    types: dict[str, DataType] = {}
    for d in docs:
        for k, v in d.items():
            if k not in types:
                order.append(k)
                types[k] = NullType()
            if isinstance(types[k], NullType) and v is not None:
                types[k] = _infer_type(v)
    return StructType(
        [
            StructField(
                k,
                types[k] if not isinstance(types[k], NullType) else StringType(),
            )
            for k in order
        ]
    )


def _project(v, dtype: DataType):
    """Shape a decoded Python value to the schema type (dict→tuple for
    structs, element-wise for arrays); mismatches become None rather
    than failing the scan (PERMISSIVE, like the JSON reader)."""
    if v is None:
        return None
    if isinstance(dtype, StructType):
        if not isinstance(v, dict):
            return None
        return tuple(_project(v.get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        if not isinstance(v, list):
            return None
        return [_project(x, dtype.elementType) for x in v]
    if isinstance(dtype, TimestampType):
        return v if isinstance(v, datetime) else None
    if isinstance(dtype, DateType):  # stored as UTC-midnight datetime
        return v.date() if isinstance(v, datetime) else None
    if isinstance(dtype, BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(dtype, LongType):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dtype, DoubleType):
        if isinstance(v, float):
            return v
        return float(v) if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dtype, BinaryType):
        return v if isinstance(v, (bytes, bytearray)) else None
    if isinstance(dtype, StringType):
        return v if isinstance(v, str) else str(v)
    return None


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class MongodumpReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._files = _resolve_files(options["path"])
        self._mode = options.get("mode", "FAILFAST").upper()
        if self._mode not in ("FAILFAST", "PERMISSIVE"):
            raise ValueError(f"mode must be FAILFAST|PERMISSIVE, got {self._mode}")

    # No pushFilters: Spark 4.1 caches the reader that accepted a
    # pushdown on the relation and hands it to every later scan of the
    # same DataFrame, including scans that pushed nothing — a filter
    # accepted here would silently apply to them too. Spark keeps every
    # Filter instead.

    def partitions(self):
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition):
        """FAILFAST (default): a malformed document fails the task —
        right for audited ingest. PERMISSIVE: decoding stops at the
        first malformed byte of THE FILE (BSON has no sync markers to
        resynchronize on, so everything after a corrupt length prefix
        is unreadable); the valid prefix is kept and, when the schema
        carries a ``_corrupt_record string`` field (same contract as
        readers.read_json_documents), one extra row records the file
        and undecodable byte count for dead-letter routing — a corrupt
        tail costs its file's remainder, never the 100 TB job."""
        with open(partition.path, "rb") as f:
            buf = f.read()
        fields = self._schema.fields
        corrupt_idx = next(
            (i for i, f in enumerate(fields) if f.name == "_corrupt_record"),
            None,
        )
        # field-skip pruning: decode only the schema's fields
        wanted = frozenset(f.name for f in fields)
        pos = 0
        while pos < len(buf):
            try:
                doc, pos = decode_document(buf, pos, wanted)
            except (ValueError, IndexError, UnicodeDecodeError) as err:
                if self._mode == "FAILFAST":
                    raise ValueError(
                        f"{partition.path}: {err} (mode=PERMISSIVE keeps "
                        "the valid prefix)"
                    ) from err
                if corrupt_idx is not None:
                    row = [None] * len(fields)
                    row[corrupt_idx] = (
                        f"{partition.path}: undecodable tail of "
                        f"{len(buf) - pos} bytes at offset {pos}"
                    )
                    yield tuple(row)
                return
            yield tuple(_project(doc.get(f.name), f.dataType) for f in fields)


class MongodumpStreamReader(SimpleDataSourceStreamReader):
    """Tail a mongodump directory as a stream: every NEW .bson file
    becomes part of the next microbatch. The offset is
    ``{"seen": [basenames]}`` — the exact files already emitted; a
    batch is the listing MINUS the seen set, so a late-arriving file
    that sorts before already-emitted names (dump-10 after dump-2) is
    still picked up exactly once, and ``readBetweenOffsets`` replays
    any batch as end.seen − start.seen (files are immutable once
    written — mongodump writes then moves on). The seen list grows
    with the number of drops — bounded for the backup-drop pattern;
    compact externally if a directory accretes forever. The pattern:
    periodic backup drops land in the directory, the stream ingests
    each drop once — the reference's restore-then-re-extract loop as
    an incremental pipeline (pair with
    streaming/incremental.run_incremental for the entity plans
    downstream)."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options["path"]
        self._mode = options.get("mode", "FAILFAST").upper()

    def _files(self) -> list[str]:
        try:
            return _resolve_files(self._path)
        except FileNotFoundError:
            return []  # empty dir: stream starts before first drop

    def initialOffset(self) -> dict:
        return {"seen": []}

    @staticmethod
    def _legacy_aware_seen(offset: dict, files: list[str]) -> set:
        """Offset compatibility: current offsets are {"seen": [names]};
        the earlier {"files": n} count-based form (pre-fix for
        non-monotonic drop names) converts as the first n sorted
        basenames of the current listing, so a checkpoint written by
        the old code restarts cleanly instead of KeyError-wedging the
        stream."""
        import os

        if "seen" in offset:
            return set(offset["seen"])
        n = int(offset.get("files", 0))
        return {os.path.basename(p) for p in files[:n]}

    def read(self, start: dict):
        import os

        files = self._files()
        seen = self._legacy_aware_seen(start, files)
        new = [p for p in files if os.path.basename(p) not in seen]
        end = {"seen": sorted(seen | {os.path.basename(p) for p in new})}
        # materialized THEN wrapped in iter(): the simple-reader API
        # prefetches and PICKLES the batch on the driver (per-drop
        # batches are one backup file — bounded; use the full
        # streamReader API if a single drop outgrows driver memory),
        # and its empty-poll validation calls next() on the result —
        # a bare list TypeErrors the query on a no-new-files poll
        return iter(list(self._rows(new))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        import os

        files_all = self._files()
        batch = self._legacy_aware_seen(end, files_all) - self._legacy_aware_seen(
            start, files_all
        )
        files = [p for p in files_all if os.path.basename(p) in batch]
        # iterator, not list: this return IS the task's row iterator
        # (replay path and uncached empty batches hit it directly)
        return iter(list(self._rows(files)))

    def _rows(self, files: list[str]):
        if not files:
            # constructing MongodumpReader resolves the path eagerly
            # and raises on a not-yet-populated directory — an empty
            # poll must stay an empty batch (stream starts before the
            # first backup drop)
            return
        reader = MongodumpReader(
            self._schema, {"path": self._path, "mode": self._mode}
        )
        for path in files:
            yield from reader.read(_FilePartition(path))


class MongodumpDataSource(DataSource):
    """See module docstring. Options: ``path`` (file, glob, or
    directory of .bson), ``inferDocs`` (sample size, default 100)."""

    @classmethod
    def name(cls) -> str:
        return "mongodump"

    def schema(self) -> StructType:
        files = _resolve_files(self.options["path"])
        limit = int(self.options.get("inferDocs", "100"))
        with open(files[0], "rb") as f:
            buf = f.read()
        sample = []
        for doc in iter_documents(buf):
            sample.append(doc)
            if len(sample) >= limit:
                break
        if not sample:
            raise ValueError(f"cannot infer schema: {files[0]!r} is empty")
        return _infer_struct(sample)

    def reader(self, schema: StructType) -> MongodumpReader:
        return MongodumpReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return MongodumpWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: StructType) -> MongodumpStreamReader:
        """Streaming tail of the dump directory (pass an explicit
        ``.schema(...)`` — inference on an initially-empty directory
        has nothing to sample)."""
        return MongodumpStreamReader(schema, self.options)


class _WroteFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


def commit_part_renames(
    messages, path: str, suffix: str, overwrite: bool
) -> None:
    """Shared rename-commit protocol for file-per-task writers
    (mongodump .bson, warc .warc.gz): temp files become
    ``part-NNNNN-<job>{suffix}`` only here, so partial/aborted tasks
    never leave a readable part behind. The job-unique suffix keeps
    append mode from renaming onto an existing file (os.rename
    clobbers silently on POSIX). Overwrite mode also sweeps crashed
    PRIOR jobs' ``._tmp-*`` leftovers (their abort() never ran) —
    excluding this job's own pending messages."""
    import os
    import uuid

    live = [m for m in messages if m is not None]
    if overwrite:
        for old in glob.glob(os.path.join(path, f"part-*{suffix}")):
            os.remove(old)
        keep = {m.path for m in live}
        for tmp in glob.glob(os.path.join(path, "._tmp-*")):
            if tmp not in keep:
                os.remove(tmp)
    job = uuid.uuid4().hex[:8]
    for i, m in enumerate(live):
        if m.rows == 0:
            os.remove(m.path)
            continue
        os.rename(
            m.path, os.path.join(path, f"part-{i:05d}-{job}{suffix}")
        )


def abort_part_cleanup(messages) -> None:
    import os

    for m in messages:
        if m is not None and os.path.exists(m.path):
            os.remove(m.path)


class MongodumpWriter(DataSourceWriter):
    """Export a DataFrame as a mongodump-shaped backup: one .bson
    part file per task, written to a temp name and renamed into place
    only in commit() — partial/aborted tasks never leave a readable
    .bson behind (the rename is the commit protocol, same idea as
    Hadoop output committers). Values encode through the codec's
    conventions, so read-back through format("mongodump") round-trips
    (timestamps to millisecond precision — BSON's datetime unit)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._path = options["path"]
        self._overwrite = overwrite

    def write(self, iterator) -> _WroteFile:
        import os
        import uuid

        from pyspark import TaskContext

        os.makedirs(self._path, exist_ok=True)
        pid = TaskContext.get().partitionId()
        tmp = os.path.join(self._path, f"._tmp-{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "wb") as f:
            for row in iterator:
                f.write(encode_document(row.asDict(recursive=True)))
                n += 1
        return _WroteFile(tmp, n)

    def commit(self, messages) -> None:
        commit_part_renames(messages, self._path, ".bson", self._overwrite)

    def abort(self, messages) -> None:
        abort_part_cleanup(messages)


def register_mongodump(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(MongodumpDataSource)
