"""Persisted-store core: the one owner of every bucketed store's lifecycle.

A store is a catalog table bucketed by the key its screens join on, so
those joins read it without a corpus-side Exchange. Every store family
(band, hash, member, cluster, containment, benchmark, IVF-PQ, count,
OHLC, edge) creates, opens, appends, forgets and compacts through the
helpers here; the families keep only their bucket columns, id column and
genuinely family-specific logic. The metadata-sized sketch stores (CMS,
HLL, bloom) are unbucketed and share :func:`merge_small`.

Metadata, named after the store table and formatted only here:

* ``{table}__tombstones`` — a side table of forgotten ids. :func:`live`
  anti-joins it on every read (broadcast: the set is deletion-sized), so
  a forget takes effect immediately with no store rewrite; appends of an
  id already tombstoned are harmless duplicates. :func:`create` drops it.
* ``{warehouse}/{table}.manifest.json`` — beside, not inside, the data
  directory an overwrite or DROP deletes: ``bucket_cols`` and
  ``num_buckets``, which appends and rewrites restate (Spark validates
  the spec); ``max_batch_id``, the O(1) replay screen of the
  non-idempotent batch-id stores (count, OHLC, and the streaming
  containment and benchmark loops); and ``compacted_through``, the
  watermark at or below which batches were folded and collapsed.
  :func:`write_bucketed` publishes it fresh (temp file, ``os.replace``)
  after each data write. It is read only for a table the catalog knows,
  so a file left by a dropped table never screens out a new store's
  batches.

Appends and rewrites repartition to one partition per bucket first, so
each write emits at most one file per bucket.

No write here is atomic across tables, so each multi-write operation
uses the one ordering under which a crash between its writes leaves a
store that still reads correctly:

* **rewrite-then-clear** (:func:`compact`): rewrite the live rows, THEN
  drop the tombstones. A crash between leaves tombstones whose rows are
  already gone, and anti-joining an absent id is a no-op; the reverse
  order would resurrect forgotten rows.
* **watermark-before-rewrite** (:func:`compact_batches`): publish
  ``compacted_through``, THEN rewrite the collapsed rows. A crash between
  leaves an uncompacted store (the read-side collapse is idempotent)
  whose ids at or below the watermark screen as folded, which they are;
  the reverse order would leave a compacted store whose old ids
  presence-scan as absent and re-fold as duplicates.
* **append-then-record** (:func:`fold_batch`): append the batch, THEN
  publish the raised ``max_batch_id``. A crash between only re-admits
  the same batch on replay, and the read side collapses its duplicate
  rows with MAX (identical by construction); the reverse order would
  record a batch whose rows never landed and drop it forever.

Single-writer contract: the batch-id screen assumes one monotone id
sequence per table, which is what one Structured Streaming query with a
stable checkpoint provides. Give concurrent writers their own tables.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tombstone_table(table: str) -> str:
    return table + "__tombstones"


def _warehouse(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:").rstrip("/")


def _manifest_path(spark: SparkSession, table: str) -> str:
    return f"{_warehouse(spark)}/{table.lower()}.manifest.json"


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP the table, its managed location and its manifest — a previous
    session may have left the directory behind without a catalog entry
    (fresh metastore, persistent warehouse dir), which makes saveAsTable
    fail with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"{_warehouse(spark)}/{table.lower()}", ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(_manifest_path(spark, table))


# ---------------------------------------------------------------------------
# the manifest
# ---------------------------------------------------------------------------


def _publish(spark: SparkSession, table: str, manifest: dict) -> None:
    """Replace ``table``'s manifest in one step: write a temp file in the
    warehouse dir, then ``os.replace`` it over the old one, so a reader
    sees the old manifest or the new one, never a torn write."""
    path = _manifest_path(spark, table)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)


def _manifest(spark: SparkSession, table: str) -> dict | None:
    """``table``'s manifest, or None when the catalog has no ``table``.
    A catalog table without one raises: every bucketed table is written
    by :func:`write_bucketed`."""
    if not spark.catalog.tableExists(table):
        return None
    path = _manifest_path(spark, table)
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        raise RuntimeError(f"bucketed table {table} has no manifest at {path}") from None


def _store_manifest(spark: SparkSession, table: str) -> dict:
    """:func:`_manifest` of a table that must exist."""
    m = _manifest(spark, table)
    if m is None:
        raise ValueError(f"no bucketed table {table}")
    return m


def _raise_mark(spark: SparkSession, table: str, key: str, value: int) -> None:
    """Publish ``max(old, value)`` as the manifest's ``key`` — monotone,
    so an out-of-order fold never LOWERS a watermark (every batch between
    it and the true max would otherwise re-screen as new)."""
    m = _store_manifest(spark, table)
    m[key] = int(value) if m[key] is None else max(int(value), m[key])
    _publish(spark, table, m)


def max_batch(spark: SparkSession, table: str) -> int | None:
    """The max batch id folded into ``table``, or None when the table is
    absent or has folded no batch yet."""
    m = _manifest(spark, table)
    return None if m is None else m["max_batch_id"]


def _record_max_batch(spark: SparkSession, table: str, batch_id: int) -> None:
    """Raise ``max_batch_id`` AFTER the store append commits
    (append-then-record)."""
    _raise_mark(spark, table, "max_batch_id", batch_id)


# ---------------------------------------------------------------------------
# bucketed writes
# ---------------------------------------------------------------------------


def bucket_partitioned(df: DataFrame, num_buckets: int, bucket_cols: list[str]) -> DataFrame:
    """One shuffle partition per bucket id ahead of a bucketed write:
    Spark's bucket writer splits each input TASK's rows by bucket id, so
    an unpartitioned write emits up to ``input_partitions × num_buckets``
    files — measured 256-272 part files for KB-sized store tables, paying
    per-file commit on the write and per-file open on every later scan.
    ``repartition``'s HashPartitioning is the same murmur3-pmod the
    writer assigns bucket ids with, so partition i holds exactly bucket i
    and the write emits ONE file per non-empty bucket; ``num_buckets``
    stays the caller's scale knob for target file size."""
    return df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins and
    aggregations keyed on bucket_cols read it without a shuffle. The
    input is repartitioned to one partition per bucket id so the table
    is one file per bucket (see :func:`bucket_partitioned`). A fresh
    manifest, with no watermarks, is published after the data write."""
    spark = df.sparkSession
    _drop_table_and_location(spark, table)
    writer = (
        bucket_partitioned(df, num_buckets, bucket_cols)
        .write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
    spec = {"bucket_cols": list(bucket_cols), "num_buckets": int(num_buckets)}
    _publish(spark, table, {**spec, "max_batch_id": None, "compacted_through": None})


def _write_through_spec(df: DataFrame, table: str, mode: str) -> None:
    m = _store_manifest(df.sparkSession, table)
    nb, cols = m["num_buckets"], m["bucket_cols"]
    bucket_partitioned(df, nb, cols).write.mode(mode).bucketBy(nb, *cols).format(
        "parquet"
    ).saveAsTable(table)


def append(df: DataFrame, table: str) -> None:
    """Append rows through the table's bucket spec, one file per bucket.
    A caller whose rows are derived from ``table`` itself must freeze
    them first (localCheckpoint): Spark invalidates cached plans over a
    written table, and a lazy plan would re-read it."""
    _write_through_spec(df, table, "append")


def rewrite(df: DataFrame, table: str) -> None:
    """Overwrite the table's rows through its bucket spec, one file per
    bucket; the manifest, outside the data directory, survives. ``df``
    must already be frozen if it reads ``table``."""
    _write_through_spec(df, table, "overwrite")


def create(df: DataFrame, table: str, bucket_cols: list[str], num_buckets: int) -> None:
    """Write a store FRESH: drop its tombstones (a stale side table from a
    dead incarnation would hide the new rows), then write ``df`` bucketed
    by ``bucket_cols`` into ``num_buckets`` buckets — the one moment the
    bucket spec is chosen — under a fresh manifest."""
    _drop_table_and_location(df.sparkSession, _tombstone_table(table))
    write_bucketed(df, table, bucket_cols, num_buckets)


# ---------------------------------------------------------------------------
# tombstones: forget, live reads, compaction
# ---------------------------------------------------------------------------


def tombstones(spark, table: str) -> DataFrame | None:
    """The ids forgotten from ``table`` (one column), or None if nothing
    was forgotten since the store was created or last compacted."""
    tt = _tombstone_table(table)
    return spark.table(tt) if spark.catalog.tableExists(tt) else None


def clear_tombstones(spark, table: str) -> None:
    """Drop ``table``'s tombstones, location included, so the next
    forget can create the side table afresh."""
    _drop_table_and_location(spark, _tombstone_table(table))


def _append_tombstones(ids: DataFrame, table: str) -> None:
    ids.write.mode("append").format("parquet").saveAsTable(_tombstone_table(table))


def forget(ids: DataFrame, table: str) -> None:
    """Tombstone a one-column frame of ids: :func:`live` anti-joins them
    out of every later read. Idempotent — duplicate tombstones change
    nothing under the anti-join. The first forget clears a stale
    location left by a dead incarnation, on which the append-create would
    fail. A caller whose ids are derived from ``table``'s tombstones
    (e.g. through :func:`live`) must freeze them first, as for
    :func:`append`."""
    spark = ids.sparkSession
    if not spark.catalog.tableExists(_tombstone_table(table)):
        clear_tombstones(spark, table)
    _append_tombstones(ids.distinct(), table)


def live(spark, table: str, rows: DataFrame | None = None) -> DataFrame:
    """``rows`` (default: the table itself) minus the ids tombstoned in
    ``table``'s side table — a broadcast left-anti join on the tombstone
    column, so a bucketed scan keeps planning with no Exchange."""
    rows = spark.table(table) if rows is None else rows
    dead = tombstones(spark, table)
    if dead is None:
        return rows
    return rows.join(F.broadcast(dead.distinct()), dead.columns[0], "left_anti")


def compact(spark, table: str) -> None:
    """Physically remove tombstoned rows: freeze the live rows, rewrite
    them through the table's bucket spec, then drop the tombstones
    (rewrite-then-clear). Reads are identical before and after — the
    rewritten table IS the anti-joined view. No-op without tombstones."""
    if not spark.catalog.tableExists(_tombstone_table(table)):
        return
    rewrite(live(spark, table).localCheckpoint(eager=True), table)
    clear_tombstones(spark, table)


# ---------------------------------------------------------------------------
# batch-id stores: replay screen, fold, compaction
# ---------------------------------------------------------------------------


def _fold_screen(spark, table: str, manifest: dict, batch_id: int) -> bool:
    """O(1) replay screen for the non-idempotent batch-id stores. In the
    steady state — Structured Streaming's strictly increasing batch ids —
    a new batch satisfies ``batch_id > max_batch_id`` and the probe never
    touches the store. ``batch_id <= max`` does NOT prove "already
    folded": the folds are also public batch APIs, and a direct caller
    folding an out-of-order id (backfill) would be silently dropped by a
    pure <=-screen. So a <=-max id falls back to the exact-presence
    column scan, which only runs in that rare case.

    A compacted store no longer carries per-batch presence rows, so ids
    at or below ``compacted_through`` screen as folded unconditionally —
    compaction SEALS the store against backfill below its watermark."""
    mx, through = manifest["max_batch_id"], manifest["compacted_through"]
    if mx is not None and int(batch_id) > mx:
        return False
    if through is not None and int(batch_id) <= through:
        return True
    return (
        spark.table(table)
        .where(F.col("batch_id") == int(batch_id))
        .limit(1)
        .count()
        > 0
    )


def fold_batch(
    inc: DataFrame, table: str, batch_id: int, bucket_cols: list[str], num_buckets: int
) -> DataFrame:
    """Fold one batch's pre-aggregated rows (a ``batch_id`` column first)
    into an append-only batch-id store: screen a replay out with
    :func:`_fold_screen`, else append and record the id
    (append-then-record); a missing store is created fresh from the
    batch. Only table-absent creates — a transient read error propagates
    rather than resetting the store. Returns the maintained table.
    A caller whose rows are derived from ``table`` itself must freeze
    them first (localCheckpoint), as for :func:`append`."""
    spark = inc.sparkSession
    m = _manifest(spark, table)
    if m is None:
        create(inc, table, bucket_cols, num_buckets)
    elif _fold_screen(spark, table, m, batch_id):
        return spark.table(table)
    else:
        append(inc, table)
    _record_max_batch(spark, table, batch_id)
    return spark.table(table)


def compact_batches(spark, table: str, collapse) -> None:
    """Collapse an append-only batch-id store to the rows of one batch:
    ``collapse(store_df)`` must return the table's columns minus
    ``batch_id`` with reads over it identical to reads over the store.
    The rows are stamped with the max folded batch id, frozen, and
    rewritten after ``compacted_through`` is published
    (watermark-before-rewrite). No-op on a store with no folded batch.
    Seals the store against backfill at or below the watermark (see
    :func:`_fold_screen`)."""
    mx = _store_manifest(spark, table)["max_batch_id"]
    if mx is None:
        return
    collapsed = (
        collapse(spark.table(table))
        .select(F.lit(int(mx)).cast("long").alias("batch_id"), "*")
        # eager materialization truncates lineage so the overwrite below
        # never reads the table it replaces
        .localCheckpoint(eager=True)
    )
    _raise_mark(spark, table, "compacted_through", mx)
    rewrite(collapsed, table)


# ---------------------------------------------------------------------------
# metadata-sized stores (CMS, HLL, bloom)
# ---------------------------------------------------------------------------


def replace_small(df: DataFrame, table: str) -> DataFrame:
    """Freeze → drop → overwrite for a metadata-sized, unbucketed store:
    the frozen (localCheckpoint) rows are written as a plain parquet
    table, so a merge whose lineage reads the table never reads its own
    target. Returns the frozen rows."""
    frozen = df.localCheckpoint(eager=True)
    _drop_table_and_location(frozen.sparkSession, table)
    frozen.write.mode("overwrite").format("parquet").saveAsTable(table)
    return frozen


def merge_small(inc: DataFrame, table: str, merge) -> DataFrame:
    """Fold an increment into a metadata-sized store:
    ``merge(existing, inc)`` when the table exists, else ``inc`` alone,
    then :func:`replace_small`. Only table-absent falls back to the bare
    increment — a swallowed transient read error would replace the
    accumulated state with one batch's. Returns the merged rows."""
    spark = inc.sparkSession
    merged = merge(spark.table(table), inc) if spark.catalog.tableExists(table) else inc
    return replace_small(merged, table)
