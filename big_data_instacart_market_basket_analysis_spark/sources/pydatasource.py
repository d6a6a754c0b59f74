"""[EXT] Custom Python DataSource (Spark 4 DataSource API): a
deterministic synthetic-documents generator.

The reference's only extensibility story is "edit the script"; Spark 4
lets an engine ship first-class pluggable sources. This one is a load
generator for corpus-pipeline testing: ``doc_id`` split into N input
partitions, each partition generating its slice independently — reads
scale linearly with parallelism and there is no driver-side
materialization. Rows are pure functions of ``doc_id`` (md5-derived
words), so the same table is replayable in any engine — the DuckDB
oracle regenerates it from ``range()`` and value-hash-compares.

Usage::

    spark.dataSource.register(SyntheticDocsDataSource)
    spark.read.format("synthetic_docs").option("n", 512).load()
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

#: defaults: corpus size and input-partition count.
SYNTH_DOCS_N = 512
SYNTH_DOCS_PARTITIONS = 8


class _Slice(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def synth_words(doc_id: int) -> list[str]:
    """1 + doc_id % 8 words, each the first 6 hex chars of
    md5("{doc_id}-{i}") — deterministic and engine-replayable."""
    return [
        hashlib.md5(f"{doc_id}-{i}".encode()).hexdigest()[:6]
        for i in range(1 + doc_id % 8)
    ]


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", SYNTH_DOCS_N))
        self.num_partitions = int(
            options.get("partitions", SYNTH_DOCS_PARTITIONS)
        )

    def partitions(self) -> list[InputPartition]:
        step = max(1, -(-self.n // self.num_partitions))
        return [
            _Slice(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _Slice) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield (doc_id, " ".join(synth_words(doc_id)))


class SyntheticDocsStreamReader(SimpleDataSourceStreamReader):
    """Streaming form (SimpleDataSourceStreamReader): each micro-batch
    emits the next ``batch_size`` doc_ids. Offsets are plain dicts
    checkpointed by the engine — restart-safe, exactly-once delivery
    into the sink, same deterministic rows as the batch reader."""

    def __init__(self, options: dict) -> None:
        self.batch_size = int(options.get("batch_size", 64))
        self.n = int(options.get("n", SYNTH_DOCS_N))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = start["next"]
        hi = min(lo + self.batch_size, self.n)
        rows = [
            (doc_id, " ".join(synth_words(doc_id)))
            for doc_id in range(lo, hi)
        ]
        return iter(rows), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            (doc_id, " ".join(synth_words(doc_id)))
            for doc_id in range(start["next"], end["next"])
        )

    def commit(self, end: dict) -> None:
        pass


class SyntheticDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id bigint, text string"

    def reader(self, schema) -> SyntheticDocsReader:
        return SyntheticDocsReader(self.options)

    def simpleStreamReader(self, schema) -> SyntheticDocsStreamReader:
        return SyntheticDocsStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on any session (driver
    contract: queries must work on a stock SparkSession)."""
    spark.dataSource.register(SyntheticDocsDataSource)


def synthetic_docs(spark, n: int = SYNTH_DOCS_N):
    """Custom Python DataSource (Spark 4 DataSource API): synthetic
    deterministic documents, partition-planned generation. The source
    is its own data (the query ignores sf_dir); the oracle regenerates
    the same rows from range()+md5 in DuckDB."""
    register(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n", n)
        .option("partitions", SYNTH_DOCS_PARTITIONS)
        .load()
    )


ORACLE_SYNTHETIC_DOCS = f"""
synthetic_docs AS (
  SELECT doc_id,
         array_to_string(list_transform(range(0, 1 + doc_id % 8),
           i -> substr(md5(CAST(doc_id AS VARCHAR) || '-'
                           || CAST(i AS VARCHAR)), 1, 6)), ' ') AS text
  FROM range({SYNTH_DOCS_N}) t(doc_id)
)
"""


# ---------------------------------------------------------------------------
# Python DataSource WRITE path (Spark 4): JSON-lines sink with a
# two-phase task-commit protocol — the writer-side half of the
# pluggable-source story (the reader above is the read half).
# ---------------------------------------------------------------------------


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the staged file this task produced."""

    def __init__(self, staged: str, n_rows: int) -> None:
        self.staged = staged
        self.n_rows = n_rows


class JsonLinesWriter(DataSourceWriter):
    """Executor-side writer: each partition streams its rows to a
    STAGED file (``_staging/part-<uuid>.jsonl``); the driver's
    ``commit`` renames every staged file into the target directory and
    drops a ``_SUCCESS`` marker, ``abort`` deletes the staging area.
    Two-phase commit is what makes a task retry safe: a re-executed
    partition stages a second file but only the files named in commit
    messages are published, so duplicates from speculative/retried
    tasks never become visible.

    Scale: tasks write independently (no driver funnel, no shuffle);
    the commit is O(#partitions) renames. Local mode shares one
    filesystem; on a cluster the path must be shared storage — the
    same contract every file-based committer has.
    """

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_sink requires a 'path' option")
        self.overwrite = overwrite

    def write(self, rows) -> _FileCommit:
        import json
        import os
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row.asDict(), ensure_ascii=False))
                fh.write("\n")
                n += 1
        return _FileCommit(staged, n)

    def commit(self, messages) -> None:
        import os
        import shutil
        import uuid

        if self.overwrite:
            for name in os.listdir(self.path):
                # files only: a nested directory (someone else's data,
                # or a stale _staging from an aborted run under a
                # different name) must not crash the commit.
                target = os.path.join(self.path, name)
                if name != "_staging" and os.path.isfile(target):
                    os.remove(target)
        # Published names carry a per-commit token: a second append-mode
        # write must never os.replace-clobber an earlier commit's
        # part-00000... files (fixed names silently lose data).
        commit_id = uuid.uuid4().hex[:12]
        for i, msg in enumerate(messages):
            final = os.path.join(
                self.path, f"part-{i:05d}-{commit_id}.jsonl"
            )
            os.replace(msg.staged, final)
        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class JsonLinesSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> JsonLinesWriter:
        return JsonLinesWriter(self.options, overwrite)


def register_sink(spark) -> None:
    spark.dataSource.register(JsonLinesSinkDataSource)


def docs_pysink_roundtrip(
    spark,
    sf_dir: str,
    tmp_base: str | None = None,
):
    """Write the documents table through the Python jsonl_sink writer
    (two-phase task commit), then re-read the published files with a
    pinned schema — output hash-equals the parquet table, proving the
    write path is lossless and the commit protocol publishes exactly
    the committed files. Written once per (session, sf_dir), like the
    ingest round-trips."""
    from ..operators._staging import stage

    return stage(
        "pysink_roundtrip", spark,
        lambda: _pysink_roundtrip(spark, sf_dir, tmp_base),
        sf_dir, checkpoint=False,
    )


def _pysink_roundtrip(spark, sf_dir: str, tmp_base: str | None):
    from .loaders import load_table

    register_sink(spark)
    docs = load_table(spark, sf_dir, "documents")
    from ._scratch import roundtrip_path

    path = roundtrip_path(spark, "pysink", sf_dir, "documents", tmp_base)
    import os

    os.makedirs(path, exist_ok=True)
    (
        docs.write.format("jsonl_sink")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    return spark.read.schema(
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).json(f"{path}/part-*.jsonl")


ORACLE_DOCS_PYSINK_ROUNDTRIP = """
docs_pysink_roundtrip AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
)
"""
