"""The one micro-batch drain behind every ``foreachBatch`` sink in
this package (the ingests, the drift monitors and the merge sinks),
and the readers those sinks use to read their own accumulated state
back.

A sink supplies only its per-batch callback; :func:`drain` owns how
the stream runs — ``foreachBatch``, the caller's checkpoint, the
``availableNow`` trigger, ``start`` / ``awaitTermination`` — and the
per-batch staging release.  The checkpoint stays caller-owned: it is
the exactly-once contract (source offsets), so the drain never
creates or deletes it.

State reads go through the READER, never ``os.path``: a local-FS
check sees nothing on HDFS/S3, while the reader follows whatever
filesystem the path's scheme names.  :func:`read_existing` is the
bootstrap probe; :func:`read_before` is the replay-consistent read of
a table whose batches each own a ``<batch_col>=<batch_id>``
partition.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.llm.staging import release_staging


def drain(stream: DataFrame, checkpoint: str, on_batch) -> None:
    """Run ``stream`` to completion (``availableNow``), calling
    ``on_batch(batch_df, batch_id)`` once per micro-batch, with the
    source offsets tracked at ``checkpoint``.

    After every batch — failed ones included — the staging the batch
    registered on the stream-execution thread is released
    (:func:`llm.staging.release_staging`).  Not only for memory
    hygiene: staged relations persist plan fragments built over a
    sink's state PATH, and Spark's cache manager substitutes a cached
    fragment into any later semantically-equal subplan — so the NEXT
    micro-batch's state read would silently resolve to THIS batch's
    file listing and check against stale state (observed: wave-2 docs
    admitted despite wave-1 near dups).  Releasing after the batch's
    writes drops the fragments, so every batch lists its state fresh.
    Staging under a named :func:`llm.staging.staging_scope` is not
    touched; its owner releases it by tag."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        try:
            on_batch(batch_df, batch_id)
        finally:
            release_staging(blocking=True)

    (
        stream.writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _is_missing_table(exc) -> bool:
    """True iff an ``AnalysisException`` from a read probe means "no
    table here yet" (bootstrap), as opposed to a table that EXISTS but
    cannot be read (schema corruption, permission failure, a crash
    mid-overwrite).  Conflating the two would let a sink silently
    reinitialize accumulated state from one micro-batch — so any other
    failure propagates loudly instead of bootstrapping."""
    get_cls = getattr(exc, "getErrorClass", None)
    cls = (get_cls() if callable(get_cls) else None) or ""
    missing = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
    if cls:
        return cls in missing
    return any(m in str(exc) for m in missing)


def read_existing(spark, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or ``None`` when there is no
    table yet (:func:`_is_missing_table`); any other read failure
    raises."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if not _is_missing_table(exc):
            raise
        return None


def read_before(
    spark, path: str, batch_col: str, batch_id: int
) -> DataFrame | None:
    """State visible to micro-batch ``batch_id``: the partitions of
    strictly EARLIER batches only (``batch_col`` kept), or ``None``
    when there is no table yet.

    A crash between a batch's partition write and its checkpoint
    commit leaves that batch's own partition on disk.  A replay that
    read it back would, e.g., reject every doc as an exact
    SELF-duplicate and overwrite the partition with an empty result —
    silent loss.  Filtering ``batch_col < batch_id`` makes the replay
    see exactly the state the original attempt saw (partition pruning
    keeps the filter a directory-level skip, no data read)."""
    df = read_existing(spark, path)
    if df is None:
        return None
    return df.filter(F.col(batch_col) < F.lit(batch_id))
