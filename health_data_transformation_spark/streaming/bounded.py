"""Bounded stream runs: every stream in the package runs here.

The reference's manual per-file loader runs map onto file-source
streams with ``Trigger.AvailableNow`` (see ``ingest.py``): process
everything present as one bounded run.  :func:`run_available_now`
starts such a run, waits for it, always stops it, and raises when it
did not finish in time (a stopped-early run would hand back a partial
result).  :class:`BoundedStream` adds the run's own scratch: a staging
dir its file sources read, a checkpoint, and result dirs.  Staging and
checkpoint are removed as soon as the query stops; result dirs live
under the process temp root (``scratch``) because the returned frames
read them lazily.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from .. import scratch


@contextlib.contextmanager
def narrow_shuffle(spark: SparkSession, n: int = 8):
    """Bounded-run stateful streaming allocates one state store per
    shuffle partition per stateful operator per microbatch; at local
    test scale that fixed cost dominates, so stateful streaming runs
    here use ``n`` partitions (production sizes this to key
    cardinality)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    spark: SparkSession,
    writer: DataStreamWriter,
    timeout_sec: float,
    state_partitions: int | None = None,
) -> None:
    """Run ``writer`` as one ``availableNow`` stream, under
    :func:`narrow_shuffle` when ``state_partitions`` is given.  The query
    is always stopped; ``TimeoutError`` if it had not finished within
    ``timeout_sec``.  Deletes nothing: callers own the dirs it uses."""
    narrow = (
        narrow_shuffle(spark, state_partitions)
        if state_partitions
        else contextlib.nullcontext()
    )
    with narrow:
        query = writer.trigger(availableNow=True).start()
        try:
            finished = query.awaitTermination(timeout_sec)
        finally:
            query.stop()
    if not finished:
        raise TimeoutError(
            f"stream {query.name or query.id} did not finish within "
            f"{timeout_sec} s and was stopped"
        )


class BoundedStream:
    """One bounded run: its unique query name and its scratch dir, with
    ``stage`` (what the file sources read), ``checkpoint`` and result
    dirs (:meth:`out`)."""

    def __init__(self, spark: SparkSession, tag: str):
        self.spark = spark
        self.name = f"{tag}_{uuid.uuid4().hex[:8]}"
        self.dir = scratch.new_dir(f"stream_{tag}_")
        self.stage = os.path.join(self.dir, "stage")
        self.checkpoint = os.path.join(self.dir, "checkpoint")

    def out(self, name: str) -> str:
        """A result dir; it lives until interpreter exit."""
        return os.path.join(self.dir, name)

    def stage_file(self, df: DataFrame, name: str, mtime: float | None = None) -> None:
        """Stage ``df`` as ONE parquet file ``stage/<name>``.  The file
        source lists plain files, not nested dirs, so a single-part
        parquet dir is written and its part file hoisted.  The source
        orders arrivals by modification time and same-second writes tie
        unpredictably, so order-dependent runs pin ``mtime``."""
        tmp = os.path.join(self.stage, "_tmp_" + os.path.basename(name))
        df.coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(self.stage, name)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(tmp, part), dst)
        if mtime is not None:
            os.utime(dst, (mtime, mtime))

    def link(self, src: str, name: str) -> None:
        """Stage a read-only file as a symlink ``stage/<name>``."""
        dst = os.path.join(self.stage, name)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.symlink(os.path.abspath(src), dst)

    def source(self, schema, sub: str = "", max_files: int | None = None) -> DataFrame:
        """A parquet file-source stream over ``stage/<sub>``."""
        reader = self.spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return reader.parquet(os.path.normpath(os.path.join(self.stage, sub)))

    def run(
        self,
        writer: DataStreamWriter,
        timeout_sec: float,
        state_partitions: int | None = None,
    ) -> None:
        """:func:`run_available_now` with this run's name and checkpoint;
        staging and checkpoint are removed once the query stops."""
        try:
            run_available_now(
                self.spark,
                writer.queryName(self.name).option("checkpointLocation", self.checkpoint),
                timeout_sec,
                state_partitions,
            )
        finally:
            shutil.rmtree(self.stage, ignore_errors=True)
            shutil.rmtree(self.checkpoint, ignore_errors=True)

    def to_memory(self, df: DataFrame, mode: str, timeout_sec: float) -> DataFrame:
        """Run ``df`` into the memory-sink table named after the run, on
        8 state partitions; returns the table."""
        writer = df.writeStream.format("memory").outputMode(mode)
        self.run(writer, timeout_sec, state_partitions=8)
        return self.spark.table(self.name)

    def to_parquet(
        self, df: DataFrame, timeout_sec: float, state_partitions: int = 8
    ) -> DataFrame:
        """Run ``df`` into an append-mode parquet sink; returns its rows."""
        out_dir = self.out("sink")
        self.run(
            df.writeStream.format("parquet").outputMode("append").option("path", out_dir),
            timeout_sec,
            state_partitions,
        )
        return self.spark.read.parquet(out_dir)
