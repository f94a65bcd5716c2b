"""A Spark 4 Python Data Source for the reference's text-KV line format.

The reference's entire I/O surface is Hadoop ``TextInputFormat`` /
``TextOutputFormat`` lines of ``[k1, k2]\\tvalue`` (``ClickThru.java:166,
186-187``).  ``sources/sinks.py:write_textkv`` writes that shape; this module
makes it a first-class *readable* format via the Python Data Source API
(``pyspark.sql.datasource``), so ``spark.read.format("textkv").load(dir)``
round-trips the reference's files like any built-in source:

* newline-aligned byte-range ``InputPartition``s (128 MB default,
  ``.option("split_bytes", n)`` to override) → reads parallelize across
  the cluster exactly like Hadoop's block splits: a directory written by
  N tasks is read by at least N tasks, and a single huge part-file fans
  out instead of becoming one straggler;
* the reader yields ``pyarrow.RecordBatch`` chunks (NOT per-row tuples):
  the Python Data Source protocol ships whatever the reader yields through
  Arrow, and yielding pre-built batches skips the per-row pickle/convert
  hop entirely — one Arrow buffer per ~64Ki lines instead of one Python
  tuple per line.  All typed parsing stays in DataFrame expressions on
  top, where Catalyst can prune/push.
* the writer is a ``DataSourceArrowWriter``: each task receives Arrow
  batches and renders ``key\\tvalue`` lines vectorized via
  ``pyarrow.compute.binary_join_element_wise`` — no per-row Python in
  either direction.

* a STREAMING writer (``DataSourceStreamArrowWriter``) with per-epoch
  replace-on-replay commit completes the Python Data Source matrix:
  batch read, batch write, streaming read (``event_replay_source.py``),
  streaming write — ``df.writeStream.format("textkv").start(dir)``.

This is the Spark-4-native replacement for writing a Hadoop InputFormat in
Java — pure Python, Arrow end-to-end.

CONTRACT — local/shared filesystem paths only: partition planning uses
``os``/``glob`` on the driver and ``open()`` on the executors, so the path
must be visible to both via a POSIX mount (local disk, NFS, FUSE-mounted
object store).  ``hdfs://``/``s3://`` URIs are NOT resolved — reading those
schemes needs the JVM Hadoop filesystem, i.e. the built-in ``spark.read
.text`` + ``F.split`` path, which is also the right production choice when
the bytes live in an object store.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

#: rows per yielded RecordBatch — large enough to amortize Arrow framing,
#: small enough that a batch of long lines stays well under executor memory.
_BATCH_ROWS = 1 << 16


class TextKVDataSource(DataSource):
    """``format("textkv")`` — directory of ``key\\tvalue`` lines."""

    @classmethod
    def name(cls) -> str:
        return "textkv"

    def schema(self) -> str:
        return "key string, value string"

    def reader(self, schema) -> "TextKVReader":
        # .option("pushdown", "false") opts a read out of filter pushdown
        # entirely (returns the base reader, which does not implement
        # pushFilters — important because a reader that implements the
        # hook refuses to plan while the session conf that gates it is
        # off; see register_textkv)
        if str(self.options.get("pushdown", "true")).lower() == "false":
            return TextKVReader(self.options)
        return TextKVPushdownReader(self.options)

    def writer(self, schema, overwrite: bool) -> "TextKVWriter":
        _require_kv_schema(schema)
        return TextKVWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "TextKVStreamWriter":
        _require_kv_schema(schema)
        return TextKVStreamWriter(self.options, overwrite)


def _require_kv_schema(schema) -> None:
    if [f.name for f in schema.fields] != ["key", "value"]:
        raise ValueError(
            "textkv writer requires exactly (key, value) columns, got "
            f"{[f.name for f in schema.fields]!r}"
        )
    # atomic types only: they render via Arrow cast-to-string (SQL-style —
    # booleans as 'true'/'false'); nested types would hit an Arrow
    # NotImplemented mid-job, so reject them at planning time instead
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            raise ValueError(
                f"textkv writer requires atomic column types; {f.name!r} is "
                f"{f.dataType.simpleString()} — render it to string first"
            )


#: files larger than this split into byte ranges — Hadoop's default block
#: split size; override per-read with .option("split_bytes", n)
_SPLIT_BYTES = 128 << 20


class TextKVReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("textkv source requires a path")
        self.path = path
        self.split_bytes = int(options.get("split_bytes", _SPLIT_BYTES))
        if self.split_bytes < 1:
            raise ValueError("split_bytes must be >= 1")
        self._pushed: list = []

    def _compile_pushed(self):
        return []  # base reader: no pushdown (see TextKVPushdownReader)

    def partitions(self) -> list[InputPartition]:
        # Byte-range splits with newline alignment — the full
        # TextInputFormat split model, not merely per-file: a single huge
        # part-file fans out across the cluster instead of becoming one
        # straggler task.  Alignment protocol (Hadoop LineRecordReader):
        # a reader with start > 0 discards its first (possibly partial)
        # line, and every reader keeps consuming lines while the line
        # START is <= its end — so the line straddling a boundary is read
        # exactly once, by the split it starts in.  '\n' never occurs
        # inside a UTF-8 multibyte sequence, so byte alignment is safe.
        # Deterministic order; empty part-files are fine (yield nothing).
        if os.path.isdir(self.path):
            files = sorted(
                f
                for f in glob.glob(os.path.join(self.path, "*"))
                if os.path.basename(f).startswith("part-")
            )
        else:
            files = [self.path]
        if not files:
            raise FileNotFoundError(f"no part-files under {self.path!r}")
        parts: list[InputPartition] = []
        for f in files:
            size = os.path.getsize(f)
            if size <= self.split_bytes:
                parts.append(InputPartition((f, 0, size)))
                continue
            start = 0
            while start < size:
                end = min(start + self.split_bytes, size)
                parts.append(InputPartition((f, start, end)))
                start = end
        return parts

    def read(self, partition: InputPartition):
        import pyarrow as pa

        path, start, end = partition.value
        preds = self._compile_pushed()
        keys: list[str] = []
        values: list[str] = []
        with open(path, "rb") as fh:
            fh.seek(start)
            if start > 0:
                fh.readline()  # owned by the previous split (see partitions)
            while fh.tell() <= end:
                raw = fh.readline()
                if not raw:
                    break
                # THIS reader's line contract: CRLF framing — records
                # terminate on \n or \r\n (strip AT MOST ONE \r before the
                # \n, LineRecordReader parity); a bare \r is DATA, not a
                # terminator (that point deliberately differs from Hadoop's
                # LineReader, which also splits on lone \r).  Because a
                # trailing "v\r"+"\n" is indistinguishable from "v"+CRLF,
                # the WRITER rejects values ending in \r (and embedded \n)
                # at _stage_batches — round-trips are lossless by contract,
                # not by framing.  rstrip("\r\n") would still be wrong: it
                # eats an unbounded run, truncating foreign files whose
                # values legitimately end in \r\r.
                line = raw.decode("utf-8")
                if line.endswith("\n"):
                    line = line[:-1]
                if line.endswith("\r"):
                    line = line[:-1]
                if not line:
                    continue
                key, _tab, value = line.partition("\t")
                if preds:
                    kv = (key, value)
                    if not all(p(kv[c]) for c, p in preds):
                        continue
                keys.append(key)
                values.append(value)
                if len(keys) >= _BATCH_ROWS:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(keys, pa.string()), pa.array(values, pa.string())],
                        names=["key", "value"],
                    )
                    keys, values = [], []
        if keys:
            yield pa.RecordBatch.from_arrays(
                [pa.array(keys, pa.string()), pa.array(values, pa.string())],
                names=["key", "value"],
            )


class TextKVPushdownReader(TextKVReader):
    """The default reader: everything in ``TextKVReader`` plus filter
    pushdown.  Split off as a subclass because MERELY implementing
    ``pushFilters`` makes planning hard-fail while the gating session
    conf is off — ``.option("pushdown", "false")`` selects the base
    reader as the per-read escape hatch."""

    def pushFilters(self, filters):
        """Filter pushdown (Spark 4.1 Python Data Source API): accept the
        string predicates this source can evaluate per line — EqualTo /
        In / StringStartsWith / StringEndsWith / StringContains on either
        column, plus IsNotNull (trivially true here: the reader never
        yields nulls) — and hand everything else back to Spark.  Pushed
        filters drop lines BEFORE Arrow batch assembly, so a selective
        scan ships only matching rows across the Python↔JVM boundary
        instead of materializing the whole file."""
        from pyspark.sql.datasource import (
            EqualTo,
            In,
            IsNotNull,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        cols = (("key",), ("value",))
        for f in filters:
            if isinstance(f, IsNotNull) and f.attribute in cols:
                self._pushed.append(f)
            elif (
                isinstance(f, EqualTo)
                and f.attribute in cols
                and isinstance(f.value, str)
            ):
                self._pushed.append(f)
            elif (
                isinstance(f, In)
                and f.attribute in cols
                # In.value is the tuple of candidate values
                and all(isinstance(v, str) for v in f.value)
            ):
                self._pushed.append(f)
            elif (
                isinstance(f, (StringStartsWith, StringEndsWith, StringContains))
                and f.attribute in cols
                and isinstance(f.value, str)
            ):
                self._pushed.append(f)
            else:
                yield f

    def _compile_pushed(self):
        """Build one (col_index, str->bool) predicate per pushed filter;
        executor-side, once per task."""
        from pyspark.sql.datasource import (
            EqualTo,
            In,
            IsNotNull,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        preds = []
        for f in self._pushed:
            col = 0 if f.attribute == ("key",) else 1
            if isinstance(f, IsNotNull):
                continue  # never null by construction
            if isinstance(f, EqualTo):
                preds.append((col, f.value.__eq__))
            elif isinstance(f, In):
                preds.append((col, frozenset(f.value).__contains__))
            elif isinstance(f, StringStartsWith):
                preds.append((col, lambda s, v=f.value: s.startswith(v)))
            elif isinstance(f, StringEndsWith):
                preds.append((col, lambda s, v=f.value: s.endswith(v)))
            elif isinstance(f, StringContains):
                preds.append((col, lambda s, v=f.value: v in s))
        return preds


@dataclass
class TextKVCommit(WriterCommitMessage):
    """One successful task's staged file (absolute path) and its row count."""

    staged: str
    rows: int


def _discard(staging: str) -> None:
    """Remove a staging dir for good: rename it away (atomic), then delete
    the renamed tree.  A task opening its staged file after the rename
    fails, so the tree being deleted cannot gain an entry."""
    doomed = f"{staging}.discard-{uuid.uuid4().hex}"
    try:
        os.rename(staging, doomed)
    except FileNotFoundError:
        return
    shutil.rmtree(doomed, ignore_errors=True)


def _stage_batches(staging: str, iterator, create: bool) -> TextKVCommit:
    """Executor-side shared path for BOTH writers: render each Arrow batch
    to ``key\\tvalue\\n`` lines vectorized and stream the bytes to one
    attempt-unique staged file under ``staging`` (made here iff ``create``;
    otherwise its absence means the job was aborted and the open fails)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if create:
        os.makedirs(staging, exist_ok=True)
    staged = os.path.join(
        staging,
        f"task-{ctx.partitionId():05d}-attempt-{ctx.taskAttemptId()}",
    )
    n = 0
    with open(staged, "wb") as fh:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            # "key\tvalue\n" per element, all vectorized; the second
            # join appends the newline ("x" joined with "" on "\n").
            lines = pc.binary_join_element_wise(
                pc.cast(batch.column(0), pa.string()),
                pc.cast(batch.column(1), pa.string()),
                "\t",
                null_handling="replace",
                null_replacement="",
            )
            # Round-trip guard: the reader frames on \n with CRLF
            # tolerance (one \r stripped before the \n), so two rendered
            # shapes cannot survive a write→read cycle — an embedded \n
            # anywhere (splits into extra records) and a line ending in \r
            # (reads back with the \r eaten).  Reject them loudly here
            # instead of writing bytes that silently read back different.
            # Both checks are vectorized Arrow kernels over the batch.
            if pc.any(pc.match_substring(lines, "\n")).as_py():
                raise ValueError(
                    "textkv writer: key/value contains '\\n', which breaks "
                    "line framing — render newlines out first"
                )
            if pc.any(pc.ends_with(lines, "\r")).as_py():
                raise ValueError(
                    "textkv writer: value ends with '\\r', which the "
                    "CRLF-tolerant reader would strip on read-back — "
                    "escape or trim trailing carriage returns first"
                )
            lines = pc.binary_join_element_wise(lines, "", "\n")
            # Zero-copy dump: for a null-free StringArray the data buffer
            # between offsets[array.offset] and offsets[array.offset+len]
            # is exactly the concatenation of all elements in order.
            # Hard checks (not assert — must survive python -O): nulls
            # can't happen after null_handling="replace", but a silent
            # wrong-bytes write would be far worse than a task failure.
            if lines.null_count != 0:
                raise RuntimeError("textkv render produced nulls")
            offsets = memoryview(lines.buffers()[1])
            lo = int.from_bytes(
                bytes(offsets[4 * lines.offset : 4 * lines.offset + 4]),
                "little",
            )
            hi_pos = 4 * (lines.offset + len(lines))
            hi = int.from_bytes(bytes(offsets[hi_pos : hi_pos + 4]), "little")
            fh.write(memoryview(lines.buffers()[2])[lo:hi])
            n += batch.num_rows
    return TextKVCommit(staged=staged, rows=n)


class TextKVWriter(DataSourceArrowWriter):
    """Task-staged, driver-committed text-KV sink — the Python Data Source
    writer half of the format (the reader half round-trips it).

    Arrow path: as a ``DataSourceArrowWriter`` each task receives
    ``pyarrow.RecordBatch``es, casts both columns to string (Arrow cast
    rules; the registered queries always pass strings), renders
    ``key\\tvalue`` vectorized via ``binary_join_element_wise`` with nulls
    replaced by ``""`` (the same coercion the row-path used), and streams
    one ``"\\n"``-joined block per batch — no per-row Python.

    Commit protocol mirrors Hadoop's ``FileOutputCommitter`` (the machinery
    under the reference's ``TextOutputFormat``, ``ClickThru.java:186-187``):

    * each task writes ``key\\tvalue`` lines to a UNIQUE staged file under
      ``<path>/_staging-<job-uuid>/`` and returns its path in the commit
      message — a retried/speculative task stages a different file, so
      half-written output from a failed attempt is never visible;
    * ``commit`` (driver, runs once, only if every task succeeded) renames
      the staged files to ``part-NNNNN`` in deterministic order and drops a
      ``_SUCCESS`` marker; rename-into-place is atomic per file on POSIX;
    * ``abort`` removes the whole staging directory, leaving any prior
      committed output untouched.  Only the driver creates it (at
      planning), so a straggling task of an aborted job writes nothing.

    Same CONTRACT as the reader: local/shared-POSIX paths only (executors
    ``open()`` the staged files, the driver renames them)."""

    def __init__(self, options, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("textkv writer requires a path")
        self.path = path
        self.overwrite = overwrite
        # job-level staging dir, made at planning time on the driver so
        # every task of this job (including retries) stages under one root
        self.staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
        os.makedirs(self.staging)

    # executor-side
    def write(self, iterator) -> TextKVCommit:
        return _stage_batches(self.staging, iterator, create=False)

    # driver-side
    def commit(self, messages) -> None:
        base = 0
        if self.overwrite:
            for f in glob.glob(os.path.join(self.path, "part-*")):
                os.remove(f)
            success = os.path.join(self.path, "_SUCCESS")
            if os.path.exists(success):
                os.remove(success)
        else:
            # append mode: number AFTER the existing part files — renaming
            # from part-00000 would os.replace (clobber) prior output
            existing = [
                os.path.basename(f)
                for f in glob.glob(os.path.join(self.path, "part-*"))
            ]
            suffixes = [
                int(n.split("-")[1]) for n in existing
                if n.split("-")[1].isdigit()
            ]
            base = max(suffixes) + 1 if suffixes else 0
        # deterministic final numbering: sort by staged name (task id order)
        staged = sorted(m.staged for m in messages if m is not None)
        for i, src in enumerate(staged):
            os.replace(src, os.path.join(self.path, f"part-{base + i:05d}"))
        _discard(self.staging)
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8"):
            pass

    def abort(self, messages) -> None:
        _discard(self.staging)


class TextKVStreamWriter(DataSourceStreamArrowWriter):
    """STREAMING text-KV sink — the fourth quadrant of the Python Data
    Source matrix for this engine (batch read/write live above; the
    streaming READ half is ``event_replay_source.py``).  Lets any
    Structured Streaming query terminate in the reference's line format:
    ``df.writeStream.format("textkv").start(dir)``.

    Per-epoch commit protocol (exactly-once on top of Spark's epoch
    replay):

    * tasks stage to attempt-unique files exactly like the batch writer
      (shared ``_stage_batches``);
    * ``commit(messages, batchId)`` first deletes any existing
      ``part-<batchId>-*`` files — a REPLAYED epoch (restart between sink
      commit and checkpoint write) fully replaces its own output instead
      of duplicating it, even if the replay used a different task count —
      then renames the staged files to ``part-<batchId:09d>-<i:05d>`` in
      deterministic order;
    * append mode accumulates epochs; TRUNCATE mode (``overwrite=True`` —
      what Spark passes for complete-output-mode sinks) deletes ALL prior
      part files at each commit, since every epoch is a full snapshot;
    * ``abort`` discards staging; committed epochs are untouched.  Both
      commit and abort also GC ``_stream-staging-*`` leftovers from
      earlier CRASHED runs (epochs are sequential, so any staging dir
      present at commit time is garbage).

    Tasks create their staging dir (the streaming API has no driver hook
    before an epoch), so a straggler of an aborted epoch can recreate it;
    readers never see that orphan and the next commit or abort removes it.

    Epoch part files carry the same ``part-`` prefix the batch reader
    globs, so a finished stream's directory round-trips through
    ``spark.read.format("textkv")`` unchanged.  Same local/shared-POSIX
    contract as the rest of the module."""

    def __init__(self, options, overwrite: bool = False) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("textkv stream writer requires a path")
        self.path = path
        # overwrite=True is Spark's truncate signal (complete/update-with-
        # truncate output modes): every epoch is a full snapshot, so commit
        # replaces the WHOLE directory, not just its own epoch's files
        self.truncate = overwrite
        # Unlike the batch writer, the streaming runtime re-instantiates
        # the writer (driver-side commit object vs the pickled executor
        # copy can carry DIFFERENT uuids), so instance state is only the
        # write-side staging target; cleanup derives from the commit
        # messages' actual paths, never from self.staging alone.
        self.staging = os.path.join(path, f"_stream-staging-{uuid.uuid4().hex}")

    # executor-side, once per task per micro-batch
    def write(self, iterator) -> TextKVCommit:
        return _stage_batches(self.staging, iterator, create=True)

    def _cleanup(self) -> None:
        # Epochs execute sequentially and this runs driver-side strictly
        # after the epoch's tasks, so every _stream-staging-* dir is either
        # this epoch's (its committed files were already renamed away,
        # leaving only failed-attempt strays) or a leftover from a CRASHED
        # earlier run — both are garbage; GC them all.
        for d in glob.glob(os.path.join(self.path, "_stream-staging-*")):
            _discard(d)

    # driver-side, once per successful micro-batch
    def commit(self, messages, batchId: int) -> None:
        doomed = (
            "part-*" if self.truncate else f"part-{batchId:09d}-*"
        )
        staged = sorted(m.staged for m in messages if m is not None)
        for stale in glob.glob(os.path.join(self.path, doomed)):
            os.remove(stale)
        for i, src in enumerate(staged):
            os.replace(
                src, os.path.join(self.path, f"part-{batchId:09d}-{i:05d}")
            )
        self._cleanup()

    def abort(self, messages, batchId: int) -> None:
        self._cleanup()


def register_textkv(spark) -> None:
    """Idempotent per-session registration of the textkv format.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    conf, default false): a Python Data Source reader that implements
    ``pushFilters`` HARD-FAILS planning while the flag is off, so the
    registration entry point is the right place to turn it on — every
    textkv read goes through here first.  The conf is only set when the
    user has not already chosen a value, so an explicit session-level
    disable is respected (the reader then needs ``.option("pushdown",
    "false")`` per-read, which selects a reader that does not implement
    the hook at all)."""
    if spark.conf.get("spark.sql.python.filterPushdown.enabled", None) is None:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TextKVDataSource)
