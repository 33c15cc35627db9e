"""Custom PYTHON data source (Spark 4 DataSource API, SURVEY §2.1
S12 complement): a paginated JSONL feed — the shape of every
REST-export / object-store drop-zone integration — implemented
entirely in Python, so unlike the Kafka/JDBC/Avro wrappers
(sources/connectors.py) it EXECUTES offline: no jars, the connector
code itself is the product.

Layout contract: a directory of ``page-<n>.jsonl`` files, one JSON
object per line — what a paginated API dump or an incremental
export lands. The source exposes:

* batch reads with one InputPartition PER PAGE (pages parse in
  parallel across executors, not on the driver);
* source-side equality-filter pushdown (rows drop at parse time,
  before they ever reach Spark — the Python-source analog of
  parquet's PushedFilters);
* a streaming reader with page-index offsets: each micro-batch
  covers [start, latest) pages, offsets checkpoint through the
  standard mechanism, so a restarted query resumes at the first
  unseen page — exactly-once per page without any connector-side
  state files.

Values are parsed per the user-declared schema (long/double/string
fields); missing keys become NULL, matching semi-structured source
convention.
"""

from __future__ import annotations

import json
import os
import re
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    WriterCommitMessage,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.types import StructType

_PAGE_RE = re.compile(r"^page-(\d+)\.jsonl$")


def page_files(path: str) -> list[tuple[int, str]]:
    """Sorted (page_no, absolute_path) pairs under ``path``."""
    out = []
    for name in os.listdir(path):
        m = _PAGE_RE.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(path, name)))
    return sorted(out)


class PagePartition(InputPartition):
    def __init__(self, page_no: int, file_path: str):
        self.page_no = page_no
        self.file_path = file_path


def _parse_page(
    file_path: str, schema: "StructType", eq_filters: dict[str, object]
) -> Iterator[tuple]:
    """One malformed line must not poison the page (in streaming the
    offset could never advance past it — the query would be stuck
    forever): PERMISSIVE-style handling, matching parse_kafka_json's
    convention. Declare a ``_corrupt_record string`` column to capture
    bad lines; without one they are skipped."""
    names = [f.name for f in schema.fields]
    corrupt_idx = names.index("_corrupt_record") if "_corrupt_record" in names else None
    with open(file_path, "r", encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                if corrupt_idx is not None:
                    yield tuple(
                        line if i == corrupt_idx else None
                        for i in range(len(names))
                    )
                continue
            if any(obj.get(k) != v for k, v in eq_filters.items()):
                continue  # pushed filter: dropped source-side
            yield tuple(obj.get(n) for n in names)


class PagedJsonReader(DataSourceReader):
    def __init__(self, schema: "StructType", options: dict):
        self._schema = schema
        self._path = options["path"]
        self._eq: dict[str, object] = {}

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Accept equality filters on top-level columns; everything
        else is returned to Spark to evaluate post-scan (the standard
        partial-pushdown contract)."""
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                self._eq[f.attribute[0]] = f.value
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        # an empty list makes Spark pass a single None partition into
        # read() (AttributeError) — a brand-new drop zone must read as
        # an empty DataFrame, same placeholder as the stream reader
        return [
            PagePartition(n, p) for n, p in page_files(self._path)
        ] or [PagePartition(-1, "")]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        if partition is None or partition.page_no < 0:
            return iter(())
        return _parse_page(partition.file_path, self._schema, self._eq)


class PagedJsonStreamReader(DataSourceStreamReader):
    def __init__(self, schema: "StructType", options: dict):
        self._schema = schema
        self._path = options["path"]

    def initialOffset(self) -> dict:  # noqa: N802
        return {"next_page": 0}

    def latestOffset(self) -> dict:  # noqa: N802
        """High-water mark = end of the CONTIGUOUS page prefix, not
        max+1: an external exporter landing pages out of order (page-5
        visible before page-3) must not advance the offset past the
        gap, or the late page falls below every future batch range and
        is silently lost forever. With a gap the offset waits at the
        missing number — at-least-once for gapped producers, unchanged
        single-batch behavior for the contiguous PagedJsonWriter."""
        nxt = 0
        for n, _ in page_files(self._path):
            if n == nxt:
                nxt += 1
            elif n > nxt:
                break
        return {"next_page": nxt}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["next_page"], end["next_page"]
        return [
            PagePartition(n, p) for n, p in page_files(self._path) if lo <= n < hi
        ] or [PagePartition(-1, "")]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        if partition.page_no < 0:
            return iter(())  # empty batch placeholder partition
        return _parse_page(partition.file_path, self._schema, {})

    def commit(self, end: dict) -> None:
        pass  # offsets checkpoint via the engine; pages are immutable


class PagedJsonDataSource(DataSource):
    """``spark.read.format("pagedjson").schema(s).option("path", d)``
    after ``spark.dataSource.register(PagedJsonDataSource)``; same for
    ``readStream``. Schema is user-declared (a paginated API has a
    contract, not an inferred shape)."""

    @classmethod
    def name(cls) -> str:
        return "pagedjson"

    def reader(self, schema: "StructType") -> PagedJsonReader:
        return PagedJsonReader(schema, self.options)

    def streamReader(self, schema: "StructType") -> PagedJsonStreamReader:
        return PagedJsonStreamReader(schema, self.options)

    def writer(self, schema: "StructType", overwrite: bool) -> "PagedJsonWriter":
        return PagedJsonWriter(schema, self.options, overwrite)

    def streamWriter(
        self, schema: "StructType", overwrite: bool
    ) -> "PagedJsonStreamWriter":
        # overwrite=True is how the engine signals per-microbatch
        # truncate (outputMode("complete")); dropping it would append
        # every recomputed aggregate on top of the last one
        return PagedJsonStreamWriter(schema, self.options, overwrite)


class _PageCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str, rows: int):
        self.tmp_path = tmp_path
        self.rows = rows


class PagedJsonWriter(DataSourceWriter):
    """Two-phase paged write: each task streams its partition to a
    UUID-named ``.tmp`` file (invisible to readers — page_files only
    matches ``page-<n>.jsonl``) and returns it in the commit message;
    the DRIVER's commit() renames the temp files onto the next
    contiguous page numbers. The rename step is what makes the write
    atomic-per-job: a failed or speculative task's temp file is never
    named into the page sequence — the same write-aside-then-rename
    rule as sources/writers.py's ``__staging`` swap. Cleanup is
    SELF-HEALING rather than abort-dependent: a task dying
    mid-iteration reaps its own temp (write()'s except path), and
    commit() reaps any stale temps from prior failed jobs, because on
    this Spark build the JVM-side job abort does NOT round-trip into
    the Python writer's abort() (observed; abort() is still
    implemented for builds where it does)."""

    def __init__(self, schema: "StructType", options: dict, overwrite: bool):
        self._schema = schema
        self._path = options["path"]
        self._overwrite = overwrite

    def write(self, iterator) -> "_PageCommit":
        import uuid

        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".{uuid.uuid4().hex}.tmp")
        n = 0
        try:
            with open(tmp, "w", encoding="utf-8") as fh:
                for row in iterator:
                    fh.write(json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
        except BaseException:
            # abort() only sees COMPLETED tasks' commit messages — a
            # task dying mid-iteration must reap its own temp file or
            # crash leftovers accumulate invisibly (they never become
            # pages, but they also never get cleaned).
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        return _PageCommit(tmp, n)

    def commit(self, messages) -> None:
        committed = {
            m.tmp_path for m in messages if m is not None
        }
        # Reap crash leftovers from PRIOR failed jobs: the engine's
        # JVM-side abort does not round-trip into the Python writer
        # (PythonBatchWrite aborts without calling abort() here —
        # observed on this Spark build), so completed-then-aborted
        # tasks orphan their temp files. Single-writer layout (page
        # numbering assumes it) makes reaping every non-this-job temp
        # safe; vacuum_paged_dir does the same standalone.
        for name in os.listdir(self._path):
            full = os.path.join(self._path, name)
            if name.endswith(".tmp") and full not in committed:
                os.remove(full)
        if self._overwrite:
            for _, p in page_files(self._path):
                os.remove(p)
        existing = page_files(self._path)
        next_no = (existing[-1][0] + 1) if existing else 0
        for m in messages:
            if m is None or m.rows == 0:
                if m is not None and os.path.exists(m.tmp_path):
                    os.remove(m.tmp_path)  # empty partition: no page
                continue
            os.rename(
                m.tmp_path, os.path.join(self._path, f"page-{next_no}.jsonl")
            )
            next_no += 1

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class PagedJsonStreamWriter(DataSourceStreamWriter):
    """Streaming sink: every micro-batch appends its pages through the
    same temp-then-rename protocol. Page numbering continues from the
    directory state, so a feed written here is immediately readable by
    the streaming READER of another query — the loopback tested in
    tests/test_pydatasource.py.

    Exactly-once per batch: commit() records the batch id in a
    ``_last_committed_batch`` marker (tmp-then-rename, atomic on a
    POSIX fs) and a REPLAYED batch id — a crash landed between the
    page renames and the engine's checkpoint commit — reaps its temps
    and no-ops instead of appending the same rows again."""

    _MARKER = "_last_committed_batch"

    def __init__(self, schema: "StructType", options: dict, overwrite: bool = False):
        self._path = options["path"]
        self._inner = PagedJsonWriter(schema, options, overwrite)

    def write(self, iterator) -> "_PageCommit":
        return self._inner.write(iterator)

    def _last_committed(self) -> int:
        try:
            with open(os.path.join(self._path, self._MARKER)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return -1

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        if batchId <= self._last_committed():
            self._inner.abort(messages)  # replay: reap temps, no-op
            return
        self._inner.commit(messages)
        tmp = os.path.join(self._path, f".{self._MARKER}.tmp")
        os.makedirs(self._path, exist_ok=True)
        with open(tmp, "w") as fh:
            fh.write(str(batchId))
        os.replace(tmp, os.path.join(self._path, self._MARKER))

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._inner.abort(messages)


def vacuum_paged_dir(path: str) -> int:
    """Remove crash-leftover ``.tmp`` files from a paged directory
    (the standalone twin of the reap PagedJsonWriter.commit performs;
    same single-writer assumption, same rationale as
    sources/writers.py::vacuum_lake_table's ``__staging`` / ``__old``
    cleanup).
    Returns the number of files removed."""
    removed = 0
    if not os.path.isdir(path):
        return 0
    for name in os.listdir(path):
        if name.endswith(".tmp"):
            os.remove(os.path.join(path, name))
            removed += 1
    return removed
