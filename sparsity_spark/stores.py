"""Persisted-store core: the one owner of every bucketed store's lifecycle.

A store is a catalog table bucketed by the key its screens join on, so
those joins read it without a corpus-side Exchange. Every store family
(band, hash, member, cluster, containment, benchmark, IVF-PQ, count,
OHLC, edge) creates, opens, appends, forgets and compacts through the
helpers here; the families keep only their bucket columns, id column and
genuinely family-specific logic. The metadata-sized sketch stores (CMS,
HLL, bloom) are unbucketed and share :func:`merge_small`.

Side tables, named after the store table and formatted only here:

* ``{table}__tombstones`` — one column of forgotten ids. :func:`live`
  anti-joins it on every read (broadcast: the set is deletion-sized), so
  a forget takes effect immediately with no store rewrite; appends of an
  id already tombstoned are harmless duplicates.
* ``{table}__maxbatch`` — the one-row max folded batch id, the O(1)
  replay screen of the non-idempotent batch-id stores (count, OHLC, and
  the streaming containment and benchmark loops).
* ``{table}__compacted`` — the one-row compaction watermark: batch ids
  at or below it were folded and their per-batch rows collapsed.

A fresh :func:`create` drops all three: a stale side table from a dead
incarnation would hide the new store's rows or screen out its batches.
Appends and rewrites restate the table's own bucket spec (Spark
validates it) and repartition to one partition per bucket first, so
each write emits at most one file per bucket.

No write here is atomic across tables, so each multi-write operation
uses the one ordering under which a crash between its writes leaves a
store that still reads correctly:

* **rewrite-then-clear** (:func:`compact`): rewrite the live rows, THEN
  drop the tombstones. A crash between leaves tombstones whose rows are
  already gone, and anti-joining an absent id is a no-op; the reverse
  order would resurrect forgotten rows.
* **watermark-before-rewrite** (:func:`compact_batches`): record the
  compaction watermark, THEN rewrite the collapsed rows. A crash between
  leaves an uncompacted store (the read-side collapse is idempotent)
  whose ids at or below the watermark screen as folded, which they are;
  the reverse order would leave a compacted store whose old ids
  presence-scan as absent and re-fold as duplicates.
* **append-then-record** (:func:`fold_batch`): append the batch, THEN
  raise ``__maxbatch``. A crash between only re-admits the same batch on
  replay, and the read side collapses its duplicate rows with MAX
  (identical by construction); the reverse order would record a batch
  whose rows never landed and drop it forever.

Single-writer contract: the batch-id screen assumes one monotone id
sequence per table, which is what one Structured Streaming query with a
stable checkpoint provides. Give concurrent writers their own tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tombstone_table(table: str) -> str:
    return table + "__tombstones"


def _meta_table(table: str) -> str:
    return table + "__maxbatch"


def _compacted_table(table: str) -> str:
    return table + "__compacted"


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP the table AND its managed location — a previous session may
    have left the directory behind without a catalog entry (fresh
    metastore, persistent warehouse dir), which makes saveAsTable fail
    with LOCATION_ALREADY_EXISTS."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[5:]
    if warehouse:
        shutil.rmtree(f"{warehouse.rstrip('/')}/{table.lower()}", ignore_errors=True)


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
    is one file per bucket (see :func:`bucket_partitioned`)."""
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


def _table_bucket_count(spark, table: str) -> int:
    """Bucket count of an existing bucketed table (appends must restate
    the exact spec — Spark validates it)."""
    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if r["col_name"] == "Num Buckets":
            return int(r["data_type"])
    raise ValueError(f"{table} is not a bucketed table")


def _write_through_spec(df: DataFrame, table: str, bucket_cols: list[str], mode: str) -> None:
    nb = _table_bucket_count(df.sparkSession, table)
    bucket_partitioned(df, nb, bucket_cols).write.mode(mode).bucketBy(
        nb, *bucket_cols
    ).format("parquet").saveAsTable(table)


def append(df: DataFrame, table: str, bucket_cols: list[str]) -> None:
    """Append rows through the existing table's own bucket spec, one file
    per bucket. A caller whose rows are derived from ``table`` itself
    must freeze them first (localCheckpoint): Spark invalidates cached
    plans over a written table, and a lazy plan would re-read it."""
    _write_through_spec(df, table, bucket_cols, "append")


def rewrite(df: DataFrame, table: str, bucket_cols: list[str]) -> None:
    """Overwrite the table's rows through its own bucket spec, one file
    per bucket. ``df`` must already be frozen if it reads ``table``."""
    _write_through_spec(df, table, bucket_cols, "overwrite")


def create(df: DataFrame, table: str, bucket_cols: list[str], num_buckets: int) -> None:
    """Write a store FRESH: drop its tombstones and watermarks (a stale
    side table from a dead incarnation would hide the new rows, force
    every fold through the presence-scan fallback, or screen out live
    batches), then write ``df`` bucketed by ``bucket_cols`` into
    ``num_buckets`` buckets — the one moment the bucket count is chosen."""
    spark = df.sparkSession
    for side in (_tombstone_table(table), _meta_table(table), _compacted_table(table)):
        _drop_table_and_location(spark, side)
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
    fail."""
    spark = ids.sparkSession
    if not spark.catalog.tableExists(_tombstone_table(table)):
        clear_tombstones(spark, table)
    _append_tombstones(ids.distinct().localCheckpoint(eager=True), table)


def live(spark, table: str, rows: DataFrame | None = None) -> DataFrame:
    """``rows`` (default: the table itself) minus the ids tombstoned in
    ``table``'s side table — a broadcast left-anti join on the tombstone
    column, so a bucketed scan keeps planning with no Exchange."""
    rows = spark.table(table) if rows is None else rows
    dead = tombstones(spark, table)
    if dead is None:
        return rows
    return rows.join(F.broadcast(dead.distinct()), dead.columns[0], "left_anti")


def compact(spark, table: str, bucket_cols: list[str]) -> None:
    """Physically remove tombstoned rows: freeze the live rows, rewrite
    them through the table's bucket spec, then drop the tombstones
    (rewrite-then-clear). Reads are identical before and after — the
    rewritten table IS the anti-joined view. No-op without tombstones."""
    if not spark.catalog.tableExists(_tombstone_table(table)):
        return
    rewrite(live(spark, table).localCheckpoint(eager=True), table, bucket_cols)
    clear_tombstones(spark, table)


# ---------------------------------------------------------------------------
# batch-id stores: replay screen, watermarks, fold, compaction
# ---------------------------------------------------------------------------

# sentinel for "the watermark was not read": None is a real value (empty
# meta table), so absence needs its own marker
_UNREAD = object()


def _read_watermark(spark, side: str, col: str):
    return spark.table(side).agg(F.max(col)).collect()[0][0]


def _raise_watermark(spark, side: str, col: str, value: int, known=_UNREAD) -> None:
    """Write ``greatest(old, value)`` into a one-row watermark table —
    monotone, so an out-of-order fold never LOWERS it (every batch
    between it and the true max would otherwise re-screen as new).
    ``known`` is the old value if the caller already read it this fold."""
    if spark.catalog.tableExists(side):
        old = known if known is not _UNREAD else _read_watermark(spark, side, col)
        new = max(int(value), int(old)) if old is not None else int(value)
        # one-row data-only rewrite — INSERT OVERWRITE skips the
        # drop/recreate catalog round-trip a saveAsTable overwrite pays
        spark.sql(f"INSERT OVERWRITE {side} VALUES (CAST({new} AS BIGINT))")
        return
    # a stale managed LOCATION without a catalog entry fails saveAsTable
    _drop_table_and_location(spark, side)
    spark.createDataFrame([(int(value),)], f"{col} long").write.mode(
        "overwrite"
    ).saveAsTable(side)


def _record_max_batch(spark, table: str, batch_id: int, known_max=_UNREAD) -> None:
    """Raise the max-batch watermark AFTER the store append commits
    (append-then-record). ``known_max`` comes from :func:`_fold_screen`
    in the same fold and saves re-reading the watermark."""
    _raise_watermark(spark, _meta_table(table), "max_batch_id", batch_id, known_max)


def _recorded_max_batch(spark, table: str):
    """The max batch id recorded for ``table`` (None when the side table
    is empty), or ``_UNREAD`` when the store or its side table is absent:
    a stale side table from a dropped incarnation must not swallow the
    new store's seeding batch."""
    meta = _meta_table(table)
    if spark.catalog.tableExists(meta) and spark.catalog.tableExists(table):
        return _read_watermark(spark, meta, "max_batch_id")
    return _UNREAD


def _fold_screen(spark, table: str, batch_id: int):
    """O(1) replay screen for the non-idempotent batch-id stores. In the
    steady state — Structured Streaming's strictly increasing batch ids —
    a new batch satisfies ``batch_id > max folded id`` and the probe
    never touches the store (one one-row side-table read). ``batch_id <=
    max`` does NOT prove "already folded": the folds are also public
    batch APIs, and a direct caller folding an out-of-order id (backfill)
    would be silently dropped by a pure <=-screen. So a <=-max id falls
    back to the exact-presence column scan, which only runs in that rare
    case. Stores without the side table take the scan too;
    :func:`_record_max_batch` creates it on the next fold.

    A compacted store no longer carries per-batch presence rows, so ids
    at or below the compaction watermark screen as folded unconditionally
    — compaction SEALS the store against backfill below its watermark.

    Returns ``(folded, known_max)`` — known_max is the max-batch
    watermark read during this screen (None = empty meta table) or
    ``_UNREAD`` when the meta table does not exist, for the caller to
    pass on to :func:`_record_max_batch`."""
    meta = _meta_table(table)
    known = _UNREAD
    if spark.catalog.tableExists(meta):
        known = _read_watermark(spark, meta, "max_batch_id")
        if known is not None and int(batch_id) > int(known):
            return False, known
    ct = _compacted_table(table)
    if spark.catalog.tableExists(ct):
        through = _read_watermark(spark, ct, "compacted_through")
        if through is not None and int(batch_id) <= int(through):
            return True, known
    return (
        spark.table(table)
        .where(F.col("batch_id") == int(batch_id))
        .limit(1)
        .count()
        > 0
    ), known


def fold_batch(
    inc: DataFrame, table: str, batch_id: int, bucket_cols: list[str], num_buckets: int
) -> DataFrame:
    """Fold one batch's pre-aggregated rows (a ``batch_id`` column first)
    into an append-only batch-id store: screen a replay out with
    :func:`_fold_screen`, else append and record the id
    (append-then-record); a missing store is created fresh from the
    batch. Only table-absent creates — a transient read error propagates
    rather than resetting the store. Returns the maintained table."""
    spark = inc.sparkSession
    if spark.catalog.tableExists(table):
        folded, known_max = _fold_screen(spark, table, batch_id)
        if not folded:
            append(inc.localCheckpoint(eager=True), table, bucket_cols)
            _record_max_batch(spark, table, batch_id, known_max)
    else:
        create(inc.localCheckpoint(eager=True), table, bucket_cols, num_buckets)
        _record_max_batch(spark, table, batch_id)
    return spark.table(table)


def compact_batches(spark, table: str, bucket_cols: list[str], collapse) -> None:
    """Collapse an append-only batch-id store to the rows of one batch:
    ``collapse(store_df)`` must return the table's columns minus
    ``batch_id`` with reads over it identical to reads over the store.
    The rows are stamped with the max folded batch id, frozen, and
    rewritten after the compaction watermark (watermark-before-rewrite).
    No-op on an empty store. Seals the store against backfill at or below
    the watermark (see :func:`_fold_screen`)."""
    meta = _meta_table(table)
    mx = None
    if spark.catalog.tableExists(meta):
        mx = _read_watermark(spark, meta, "max_batch_id")
    if mx is None:  # a store older than its side table
        mx = _read_watermark(spark, table, "batch_id")
    if mx is None:
        return
    collapsed = (
        collapse(spark.table(table))
        .select(F.lit(int(mx)).cast("long").alias("batch_id"), "*")
        # eager materialization truncates lineage so the overwrite below
        # never reads the table it replaces
        .localCheckpoint(eager=True)
    )
    _raise_watermark(spark, _compacted_table(table), "compacted_through", mx)
    rewrite(collapsed, table, bucket_cols)


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
