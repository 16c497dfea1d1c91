package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** MVCC visibility, tombstone deletes, TTL, and upsert semantics.
  *
  * Mirrors the reference's read path (reference:
  * internal/core/src/exec/operator/MvccNode.cpp:35-46 — visibility bitset
  * = insert_ts ≤ read_ts, minus (pk,ts) delete tombstones with ts ≤
  * read_ts, minus TTL-expired rows; segcore/DeletedRecord.h:49-76) and
  * the upsert path (internal/proxy/task_upsert.go:382-404 — last writer
  * by timestamp wins).
  *
  * Scale notes: visibility is a pushdown-friendly `_ts <= readTs`
  * predicate (Parquet zone-maps prune whole row groups once data is
  * laid out by time) plus ONE conditional left-anti join against the
  * tombstone set (`pk = t.pk ∧ ts ≤ t.ts ≤ readTs`), with no aggregate
  * over the tombstones — they are usually tiny relative to data, so AQE
  * broadcasts them on its own. Upsert LWW uses `max_by` aggregation
  * (partial+final), not a window, so there is no single-reducer sort at
  * 100 TB, and the collapse emits the pk from its grouping key, so a pk
  * predicate above it reaches the scans' `PushedFilters`.
  */
/** Consistency levels (reference: proxy/util.go:1301-1320 — the level
  * picks the `guarantee_ts` a read waits for / filters at).
  */
object ConsistencyLevel extends Enumeration {
  val Strong, BoundedStaleness, Session, Eventually = Value
}

object Mvcc {

  /** Resolve the MVCC read timestamp for a consistency level:
    * Strong reads at the latest committed write; BoundedStaleness lags
    * `now` by a fixed window; Session reads at the caller's last write;
    * Eventually takes whatever is current (here: now).
    *
    * All arguments share the timestamp column's domain — `staleness` is
    * deliberately unit-agnostic (ns for a nanosecond ts column, ms for
    * an epoch-millis one) and has no default: a unit-suffixed name with
    * a "5000" default silently meant 5 µs on ns-domain tables.
    */
  def resolveReadTs(
      level: ConsistencyLevel.Value,
      latestCommittedTs: => Long,
      now: => Long,
      staleness: Long,
      sessionTs: Long = 0L): Long = level match {
    case ConsistencyLevel.Strong           => latestCommittedTs
    case ConsistencyLevel.BoundedStaleness => now - staleness
    case ConsistencyLevel.Session          => math.max(sessionTs, now - staleness)
    case ConsistencyLevel.Eventually       => now
  }

  /** Rows of `data` visible at `readTs`.
    *
    * @param tombstones (pkCol, tsCol) delete markers; a row is invisible
    *                   if a tombstone for its pk exists with
    *                   data.ts <= tomb.ts <= readTs.
    * @param ttl        optional time-to-live: rows expire when
    *                   `tsCol + ttl < readTs` (reference: collection TTL,
    *                   docs/user_guides/collection_ttl.md).
    */
  def visible(
      data: DataFrame,
      pkCol: String,
      tsCol: String,
      readTs: Column,
      tombstones: Option[DataFrame] = None,
      ttl: Option[Column] = None): DataFrame = {
    val alive = data.filter(col(tsCol) <= readTs)
    val unexpired = ttl match {
      // For a FIXED-DURATION ttl (day-time interval or a numeric offset
      // in the ts column's own domain), `ts + ttl > readTs ⟺
      // ts > readTs - ttl` EXACTLY, and the right side constant-folds to
      // a literal — so the TTL bound is attribute-vs-literal and reaches
      // the parquet scan's PushedFilters (row-group pruning on the
      // hottest read path). Calendar intervals (months) are NOT
      // shift-invariant (month-end clamping), so they keep the
      // `ts + ttl > readTs` form and stay post-scan — same property as
      // the reference's calendar TIMESTAMPTZ arithmetic.
      case Some(t) =>
        // resolve the ttl's type via a trivial analyzed projection
        // (Spark 4 Columns are lazy nodes with no dataType of their own)
        val fixedDuration = scala.util.Try(
          data.sparkSession.range(1).select(t).schema.head.dataType match {
            case _: org.apache.spark.sql.types.DayTimeIntervalType => true
            case _: org.apache.spark.sql.types.NumericType => true
            case _ => false
          }).getOrElse(false)
        if (fixedDuration) alive.filter(col(tsCol) > readTs - t)
        else alive.filter(col(tsCol) + t > readTs)
      case None => alive
    }
    tombstones.fold(unexpired)(dropDeleted(unexpired, _, pkCol, tsCol, readTs))
  }

  /** The delete rule: rows of `data` that no tombstone at or below
    * `readTs` covers — a row is dropped when a tombstone for its pk has
    * data.ts <= tomb.ts <= readTs. ONE conditional left-anti join, no
    * aggregate over the tombstones. Reads apply it per query
    * ([[visible]]); a compaction applies it once, at its compaction ts.
    */
  def dropDeleted(data: DataFrame, tombstones: DataFrame, pkCol: String,
      tsCol: String, readTs: Column): DataFrame = {
    val active = tombstones.filter(col(tsCol) <= readTs)
      .select(col(pkCol).as("_tomb_pk"), col(tsCol).as("_tomb_ts"))
    // no broadcast hint: tombstones are usually tiny and AQE picks a
    // broadcast join on its own, but a delete-heavy table (tombstones
    // ≈ data) must be allowed to fall back to a shuffle join instead
    // of OOMing the driver on a forced broadcast.
    data.join(active,
      col(pkCol) === col("_tomb_pk") && col("_tomb_ts") >= col(tsCol),
      "left_anti")
  }

  /** Last-writer-wins collapse: one row per pk (per pk and `keyCols`
    * value, for a collapse within a scope such as a partition) — the one
    * with the highest (ts, tiebreak) — via partial-aggregating max_by.
    * The key comes out of the grouping key, not the payload, so a pk
    * predicate above the collapse is pushed below it.
    */
  def latestByPk(data: DataFrame, pkCol: String, tsCol: String,
      tiebreakCol: String, keyCols: Seq[String] = Nil): DataFrame = {
    val key = pkCol +: keyCols
    val payload = struct(data.columns.filterNot(key.contains).map(col): _*)
    data
      .groupBy(key.map(col): _*)
      .agg(max_by(payload, struct(col(tsCol), col(tiebreakCol))).as("_row"))
      .select(data.columns.map(c =>
        if (key.contains(c)) col(c) else col(s"_row.$c")): _*)
  }

  /** Apply a batch of upserts to a base snapshot: rows in `updates`
    * replace base rows with the same pk; both sides may carry multiple
    * versions — highest ts wins overall.
    */
  def upsert(base: DataFrame, updates: DataFrame, pkCol: String, tsCol: String,
      tiebreakCol: String): DataFrame =
    latestByPk(base.unionByName(updates), pkCol, tsCol, tiebreakCol)

  /** Partial-update upsert (reference: task_upsert_partial_op.go — an
    * upsert that sets only some fields reads the current row and carries
    * the untouched fields forward): NULL in an update's `partialCols`
    * means "keep the current value". One hash-agg to collapse the base,
    * one pk join to merge — both partial+final, no windows.
    */
  def partialUpsert(base: DataFrame, updates: DataFrame, pkCol: String,
      tsCol: String, tiebreakCol: String, partialCols: Seq[String]): DataFrame = {
    val current = latestByPk(base, pkCol, tsCol, tiebreakCol)
    val cur = current.select(
      col(pkCol) +: partialCols.map(c => col(c).as(s"_cur_$c")): _*)
    val merged = updates
      .join(cur, Seq(pkCol), "left")
      .select(base.columns.map {
        case c if partialCols.contains(c) => coalesce(col(c), col(s"_cur_$c")).as(c)
        case c                            => col(c)
      }: _*)
    latestByPk(current.unionByName(merged), pkCol, tsCol, tiebreakCol)
  }

  /** Per-field update operation for [[partialUpsertOps]] (reference:
    * `FieldOp` in the partial-update array-op client surface —
    * tests/python_client/milvus_client/test_milvus_client_partial_update_array_op.py):
    * `Set` replaces the value (null carries the old one forward, like
    * [[partialUpsert]]); `ArrayAppend` concatenates the update's
    * elements onto the current array; `ArrayRemove` deletes every
    * occurrence of the update's elements from it.
    */
  sealed trait FieldOp
  case object SetOp extends FieldOp
  case object ArrayAppend extends FieldOp
  case object ArrayRemove extends FieldOp

  /** Partial upsert with per-field ops — same merge shape as
    * [[partialUpsert]] (one join against the current version, LWW
    * resolve), the op only changing the merged column expression. A
    * missing current row treats the current array as empty.
    */
  def partialUpsertOps(base: DataFrame, updates: DataFrame, pkCol: String,
      tsCol: String, tiebreakCol: String, fieldOps: Map[String, FieldOp]): DataFrame = {
    val current = latestByPk(base, pkCol, tsCol, tiebreakCol)
    val cols = fieldOps.keys.toSeq
    val cur = current.select(
      col(pkCol) +: cols.map(c => col(c).as(s"_cur_$c")): _*)
    val merged = updates
      .join(cur, Seq(pkCol), "left")
      .select(base.columns.map { c =>
        def empty = array().cast(base.schema(c).dataType)
        fieldOps.get(c) match {
          case Some(SetOp) => coalesce(col(c), col(s"_cur_$c")).as(c)
          case Some(ArrayAppend) =>
            concat(coalesce(col(s"_cur_$c"), empty), coalesce(col(c), empty)).as(c)
          case Some(ArrayRemove) =>
            filter(coalesce(col(s"_cur_$c"), empty),
              e => !array_contains(coalesce(col(c), empty), e)).as(c)
          case None => col(c)
        }
      }: _*)
    latestByPk(current.unionByName(merged), pkCol, tsCol, tiebreakCol)
  }
}
