"""Streaming maintenance of the repeated-span gram-support index —
the production loop that keeps :func:`operators.dedup.
incremental_repeated_spans` cheap forever: every micro-batch of arriving
documents merges its per-gram distinct-doc counts into the persisted
index instead of ever re-mining history. The maintained index feeds the
miner directly via its ``history_index`` parameter (read it back with
:func:`read_gram_index`).

The reference's closest analog is the consumer writing each Kafka
result batch into Postgres (kafka/consumer.py:26-36); this is the same
sink-per-batch shape via ``foreachBatch``, upgraded with the standard
transactional recipe: Spark's foreachBatch is AT-LEAST-ONCE per batch
id, and a count-sum merge is not idempotent, so the applier records the
last applied batch id INSIDE the published version and skips redelivered
batches. Batch ids are only meaningful against a DURABLE streaming
checkpoint — ``maintain_gram_index`` therefore requires one
(``checkpoint_path``); an ephemeral checkpoint would restart ids at 0
every run and corrupt the merge in both directions (skipped new
batches AND re-merged old ones).

Index layout — versioned, bucket-partitioned, atomically published::

    index_path/
      _current            # text file naming the live version dir
      v0000000007/        # one immutable version per applied batch
        _last_applied_batch_id
        _n_buckets        # bucket modulus, pinned at bootstrap
        __bucket=0/part-*.parquet
        __bucket=1/...
      v0000000005/        # previous version (reader grace window)

Two properties fall out of this layout:

* **Incremental rewrite cost** — the index is hash-range partitioned on
  ``__bucket = pmod(__gh, n_buckets)``. A batch merges ONLY the buckets
  its grams hash into (partition-pruned read of the touched buckets,
  union, re-aggregate, write those buckets); every untouched bucket's
  parquet files are HARD-LINKED from the previous version — zero data
  rewritten, byte-identical files (tested). Per-batch cost is
  O(batch grams + touched-bucket rows), never O(index).
* **Reader visibility** — a version directory is immutable and complete
  (data + marker + bucket config staged together) before the
  ``_current`` pointer flips to it via an atomic ``os.replace``.
  Readers resolve the pointer and see a whole, consistent index at
  every instant; there is no window where ``index_path`` is missing or
  half-swapped (the round-4 rename-swap's documented reader race).
  The previous version is retained one publish cycle as a grace window
  for in-flight readers; older versions are garbage-collected. Writers
  remain single-writer, as everywhere in this repo's sink layer.

Scale: per batch, work is linear in the batch (gram explode + one
partial-aggregating shuffle) plus a touched-buckets-only merge. The
index itself is corpus-VOCABULARY-sized — (8-byte hash, count) rows —
orders of magnitude smaller than the corpus, and at 100 TB the bucket
count is the dial: raise ``n_buckets`` (at bootstrap) until a bucket's
rows fit one task comfortably; touched-bucket writes then stay small
no matter how large the vocabulary grows.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import gram_support_index
from ..session import release

_BATCH_MARKER = "_last_applied_batch_id"
_BUCKETS_FILE = "_n_buckets"
_POINTER = "_current"
_STAGING = "__staging"


def _current_version(index_path: str) -> str | None:
    """Resolve the live version dir name, or None before bootstrap."""
    pointer = os.path.join(index_path, _POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer) as fh:
        name = fh.read().strip()
    vdir = os.path.join(index_path, name)
    return name if os.path.isdir(vdir) else None


def _read_marker(index_path: str) -> int:
    ver = _current_version(index_path)
    if ver is None:
        return -1
    marker = os.path.join(index_path, ver, _BATCH_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return -1


def _read_n_buckets(index_path: str) -> int | None:
    ver = _current_version(index_path)
    if ver is None:
        return None
    path = os.path.join(index_path, ver, _BUCKETS_FILE)
    with open(path) as fh:
        return int(fh.read().strip())


def read_gram_index(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Read the CURRENT published index version as the (``__gh``,
    ``n_docs``) relation :func:`operators.dedup.incremental_repeated_spans`
    expects. Returns None before the first publish. Safe to call while
    maintenance runs: the pointer flip is atomic and the version read is
    immutable (retained one further publish cycle after being
    superseded)."""
    ver = _current_version(index_path)
    if ver is None:
        return None
    return spark.read.parquet(os.path.join(index_path, ver)).select(
        "__gh", "n_docs"
    )


def _recover(index_path: str) -> None:
    """Heal a crash inside a previous publish. Invariants: a version dir
    is complete (data + marker + bucket config) before the pointer names
    it, so the pointed-to version is always whole. Leftovers are (a) the
    staging dir of an interrupted build, (b) a fully-renamed version the
    pointer never flipped to — its batch will be redelivered and
    rebuilt, so both are safe to drop."""
    if not os.path.isdir(index_path):
        return
    shutil.rmtree(os.path.join(index_path, _STAGING), ignore_errors=True)
    current = _current_version(index_path)
    marker = _read_marker(index_path)
    for name in os.listdir(index_path):
        if not name.startswith("v") or name == current:
            continue
        vdir = os.path.join(index_path, name)
        if not os.path.isdir(vdir):
            continue
        try:
            ver_batch = int(name[1:])
        except ValueError:
            continue
        # An orphan NEWER than the current marker is a crashed publish
        # (renamed, never pointed to): drop it; its batch redelivers.
        if current is None or ver_batch > marker:
            shutil.rmtree(vdir, ignore_errors=True)


def _gc_old_versions(index_path: str, keep: set[str]) -> None:
    """Retain ``keep`` (new current + immediate predecessor — the reader
    grace window); drop everything older."""
    for name in os.listdir(index_path):
        if name.startswith("v") and name not in keep:
            shutil.rmtree(os.path.join(index_path, name), ignore_errors=True)


def _link_or_copy_tree(src: str, dst: str) -> None:
    """Hard-link every file of ``src`` into ``dst`` (parquet files are
    immutable once written, so versions safely share them); fall back to
    a copy across filesystems."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):
            _link_or_copy_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def merge_gram_counts(existing: DataFrame | None, batch_counts: DataFrame) -> DataFrame:
    """Merge per-gram distinct-doc counts (sound for DISJOINT doc sets:
    counts add). ``existing=None`` bootstraps the index."""
    if existing is None:
        return batch_counts
    return (
        existing.unionByName(batch_counts)
        .groupBy("__gh")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def gram_index_applier(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_buckets: int = 16,
):
    """Build the ``foreachBatch`` function maintaining the index at
    ``index_path``. Exactly-once via the batch-id marker inside the
    published version: a redelivered batch id is a no-op (tested).
    Crash contract: the new version is staged COMPLETE (touched buckets
    written, untouched buckets hard-linked, marker + bucket config) and
    renamed into place before the atomic ``_current`` pointer flip, so a
    crash at any point leaves the previous version live and whole —
    never a half-merged index, and never a moment with no readable
    index (``_recover`` only sweeps unreferenced leftovers).

    ``n_buckets`` is pinned at bootstrap (persisted per version): the
    modulus decides which physical bucket each gram lives in, so an
    existing index's value always wins over the argument — changing it
    requires a rebuild, exactly like re-sharding any hash-partitioned
    store.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _recover(index_path)
        if batch_id <= _read_marker(index_path):
            return  # redelivery of an applied batch — drop it
        buckets = _read_n_buckets(index_path) or n_buckets
        bucket_of = lambda c: F.pmod(F.col(c), F.lit(buckets)).cast("int")  # noqa: E731
        # Batch-sized; cached because it feeds both the touched-bucket
        # probe and the merge.
        batch_counts = (
            gram_support_index(batch_df, id_col, text_col, k)
            .withColumn("__bucket", bucket_of("__gh"))
            .cache()
        )
        current = _current_version(index_path)
        if current is not None:
            touched = sorted(
                r["__bucket"]
                for r in batch_counts.select("__bucket").distinct().collect()
            )
            cur_dir = os.path.join(index_path, current)
            existing = spark.read.parquet(cur_dir)
            # Partition-pruned: only the touched buckets' files are read.
            merged = merge_gram_counts(
                existing.filter(F.col("__bucket").isin(touched)).select(
                    "__gh", "n_docs"
                ),
                batch_counts.select("__gh", "n_docs"),
            ).withColumn("__bucket", bucket_of("__gh"))
        else:
            touched = None  # bootstrap: everything is new
            cur_dir = None
            merged = batch_counts
        staging = os.path.join(index_path, _STAGING)
        merged.write.mode("overwrite").partitionBy("__bucket").parquet(staging)
        if cur_dir is not None:
            # Untouched buckets: hard-link the previous version's files —
            # zero rewrite, byte-identical (tested).
            touched_dirs = {f"__bucket={b}" for b in touched}
            for entry in os.listdir(cur_dir):
                if entry.startswith("__bucket=") and entry not in touched_dirs:
                    _link_or_copy_tree(
                        os.path.join(cur_dir, entry), os.path.join(staging, entry)
                    )
        # Marker + bucket config go INTO the staged version: a version is
        # only ever visible complete.
        with open(os.path.join(staging, _BATCH_MARKER), "w") as fh:
            fh.write(str(batch_id))
        with open(os.path.join(staging, _BUCKETS_FILE), "w") as fh:
            fh.write(str(buckets))
        new_version = f"v{batch_id:010d}"
        os.rename(staging, os.path.join(index_path, new_version))
        # Atomic publish: readers resolve the pointer and never observe a
        # missing or partial index.
        pointer_tmp = os.path.join(index_path, _POINTER + ".tmp")
        with open(pointer_tmp, "w") as fh:
            fh.write(new_version)
        os.replace(pointer_tmp, os.path.join(index_path, _POINTER))
        keep = {new_version} | ({current} if current else set())
        _gc_old_versions(index_path, keep)
        release(batch_counts)

    return apply


def maintain_gram_index(
    stream_docs: DataFrame,
    index_path: str,
    spark: SparkSession,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_buckets: int = 16,
) -> None:
    """Drain the available document stream into the persisted index
    (availableNow — the bounded-replay termination contract; a live
    deployment drops the trigger). ``checkpoint_path`` MUST be durable
    and dedicated to this index: it is what makes batch ids monotone
    across runs (so the marker guard sees true redeliveries, not id
    collisions) and what stops the file source re-reading already-
    processed files on the next invocation."""
    q = (
        stream_docs.select(id_col, text_col)
        .writeStream.foreachBatch(
            gram_index_applier(spark, index_path, id_col, text_col, k, n_buckets)
        )
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
