"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) for
the reference's citation-graph text formats — the same semantics as
`sources/citations.py` (reference DataFrameLoader.scala:28-74), exposed
as first-class formats:

    spark.dataSource.register(CitationsDataSource)
    spark.read.format("citations").load(path)          # (from, to)
    spark.read.format("citations").option("kind", "published")
         .load(path)                                   # (id, year)

Parallelism: one `InputPartition` per file for multi-file directories
(the production layout: one shard per HDFS block / upload chunk), so a
1000-file directory fans out across the cluster. Parsing happens
per-partition in the Python worker (Arrow-batched back to the JVM);
comment/blank filtering, whitespace tokenization, int casts, and the
9-digit `11`-prefix id normalization match the column-expression loader
exactly — equality is asserted in tests.

This is the escape hatch for formats Spark has no reader for; for
formats Spark DOES read (CSV/JSON/parquet/ORC), the built-in JVM readers
keep pushdown + codegen and are preferred (sources/citations.py stays
the default loader — it is pure column expressions over the lines of
Hadoop's `textFile`, wrapped as a JVM Dataset, fully visible to
Catalyst)."""

from __future__ import annotations

import gzip
import os
import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import IntegerType, StructField, StructType


#: Java's `\s` (the column loaders split with it), not Python's Unicode one
_WHITESPACE = re.compile(r"\s+", re.ASCII)


def _normalize_id(tok: str) -> int:
    if len(tok) == 9 and tok.startswith("11"):
        return int(tok[2:])
    return int(tok)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CitationsDataSource(DataSource):
    """format("citations"): option `kind` = 'citations' (default) or
    'published'."""

    @classmethod
    def name(cls) -> str:
        return "citations"

    def schema(self) -> StructType:
        if self.options.get("kind", "citations") == "published":
            return StructType(
                [
                    StructField("id", IntegerType(), False),
                    StructField("year", IntegerType(), False),
                ]
            )
        return StructType(
            [
                StructField("from", IntegerType(), False),
                StructField("to", IntegerType(), False),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return _CitationsReader(
            self.options["path"], self.options.get("kind", "citations")
        )

    def writer(self, schema: StructType, overwrite: bool) -> "DataSourceWriter":
        return _CitationsWriter(self.options["path"], overwrite)


class _CitationsReader(DataSourceReader):
    def __init__(self, path: str, kind: str):
        self.path = path
        self.kind = kind

    def partitions(self) -> Sequence[InputPartition]:
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith((".", "_"))
            )
        else:
            files = [self.path]
        return [_FilePartition(f) for f in files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        # as Hadoop's line reader does: gunzip `.gz` files, and decode
        # invalid UTF-8 to U+FFFD instead of failing the task
        opener = gzip.open if partition.path.endswith(".gz") else open
        with opener(partition.path, "rt", encoding="utf-8", errors="replace") as fh:
            for line in fh:
                # the column loaders' tokenizer: Spark's `trim` strips
                # spaces only, then `split(..., '\s+')`, so a tab-led line
                # has an empty first token and is dropped below
                line = line.rstrip("\n").strip(" ")
                if "#" in line or not line:
                    continue
                toks = _WHITESPACE.split(line)
                if len(toks) < 2:
                    continue
                try:
                    if self.kind == "published":
                        # id \t yyyy-mm-dd → (normalized id, year)
                        yield _normalize_id(toks[0]), int(toks[1][:4])
                    else:
                        yield int(toks[0]), int(toks[1])
                except ValueError:
                    continue  # na.drop() equivalent for malformed rows


@dataclass
class _WroteFile(WriterCommitMessage):
    tmp_path: str


class _CitationsWriter(DataSourceWriter):
    """format("citations") sink: each task writes its rows as
    space-separated `from to` lines into a hidden `_tmp-<taskid>` file,
    and the driver-side `commit` atomically renames every temp file to a
    visible `part-NNNNN.txt` (hidden-prefix files are skipped by the
    reader, so a concurrent read never sees a half-written file). `abort`
    deletes the temps — the standard two-phase task-commit protocol,
    Python-side.

    Targets a SHARED filesystem (local mode, NFS, FUSE-mounted object
    store): tasks and driver must see one namespace for rename-commit to
    work. On HDFS/S3 proper, Spark's built-in committers (text writer)
    are the production path; this sink exists to round-trip the
    reference's citation text format through the same custom format name
    the reader serves."""

    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator: Iterator) -> _WroteFile:
        import uuid

        from pyspark import TaskContext

        os.makedirs(self.path, exist_ok=True)
        pid = TaskContext.get().partitionId()
        tmp = os.path.join(self.path, f"_tmp-{pid}-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(f"{row[0]} {row[1]}\n")
        return _WroteFile(tmp)

    def commit(self, messages: Sequence[_WroteFile]) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self.path, f))
        for i, m in enumerate(sorted(messages, key=lambda m: m.tmp_path)):
            os.replace(m.tmp_path, os.path.join(self.path, f"part-{i:05d}.txt"))

    def abort(self, messages: Sequence[_WroteFile]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
