package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** L0 / delete-merge compaction — fold accumulated delete tombstones
  * into sealed data by rewriting it, so later reads stop paying the
  * per-query anti-join for old deletes (reference:
  * internal/datacoord/compaction_l0_view.go — L0 segments hold deltalog
  * deletes; an L0 compaction pushes them down into the sealed segments
  * they cover; compaction_task_l0.go executes the rewrite).
  *
  * Spark-first shape: ONE pk join of data against the folded tombstone
  * set (AQE broadcasts it when small), rewrite the parquet, and keep
  * only the residual tombstones (ts > compactTs) for the read path.
  * At 100 TB the join is the same cost a single read would pay — paid
  * once instead of per query, and the rewrite can ride along with a
  * clustering compaction's shuffle.
  */
object Compaction {

  /** Execute the L0 compaction: rewrite `data` with the tombstones at
    * or below `compactTs` folded by the read path's delete rule
    * ([[Mvcc.dropDeleted]], evaluated once here instead of per read),
    * persist the residual tombstones (ts > compactTs) next to it, and
    * record the compaction watermark in a `watermark` dir (no leading
    * underscore: Spark's file source skips hidden paths and warns that
    * the read ignored them) — reads below it would be WRONG
    * (folded deletes are physically gone, so a row deleted at ts ∈
    * (readTs, compactTs] could not be resurrected) and must be rejected.
    */
  def writeCompacted(data: DataFrame, tombstones: DataFrame, pkCol: String,
      tsCol: String, compactTs: Column, path: String): Unit = {
    Mvcc.dropDeleted(data, tombstones, pkCol, tsCol, compactTs)
      .write.mode("overwrite").parquet(s"$path/data")
    val spark = data.sparkSession
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    sized(tombstones.filter(col(tsCol) > compactTs), split)
      .write.mode("overwrite").parquet(s"$path/tombstones")
    sized(spark.range(1).select(compactTs.cast("long").as("compact_ts")), split)
      .write.mode("overwrite").parquet(s"$path/watermark")
  }

  /** Read a compacted layout at `readTs`: only the residual tombstones
    * are re-applied — the folded ones are physically gone, which is why
    * readTs must be ≥ the recorded compaction watermark (the reference
    * enforces the same rule as the collection's truncated MVCC horizon).
    */
  def readCompacted(spark: SparkSession, path: String, pkCol: String,
      tsCol: String, readTs: Column): DataFrame = {
    val watermark = spark.read.parquet(s"$path/watermark")
      .head().getLong(0)
    val readTsVal = spark.range(1).select(readTs.cast("long")).head().getLong(0)
    require(readTsVal >= watermark,
      s"readTs $readTsVal predates the compaction watermark $watermark — " +
        "deletes folded at compaction cannot be un-applied; read an " +
        "un-compacted layout for time travel below the watermark")
    val data = spark.read.parquet(s"$path/data")
    val residual = spark.read.parquet(s"$path/tombstones")
    Mvcc.visible(data, pkCol, tsCol, readTs, tombstones = Some(residual))
  }

  /** Mix compaction (reference: the datacoord "mix" policy — merge many
    * small sealed segments into ~maxSize ones, no delete folding):
    * coalesce a fragmented layout into files of ≈`targetFileBytes`,
    * optionally keeping/establishing a sort by `sortCol` so zone-map
    * pruning survives the merge. Returns the output file count: the
    * rule of [[fileCount]] over the input's on-disk (compressed) bytes,
    * so the merge stays proportional at any scale; `coalesce` avoids a
    * shuffle entirely in the unsorted case.
    */
  def mergeSmallFiles(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCol: Option[String] = None): Int = {
    val data = spark.read.parquet(inPath)
    val nFiles = fileCount(data, targetFileBytes).getOrElse(data.rdd.getNumPartitions)
    val merged = sortCol match {
      case Some(c) => data.repartitionByRange(nFiles, col(c)).sortWithinPartitions(col(c))
      case None    => data.coalesce(nFiles)
    }
    merged.write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** The sizing rule for every file the engine writes (the reference
    * seals binlogs by its segment size policy, not by how the client
    * batched its inserts): `ceil(estimated bytes / targetFileBytes)`
    * files, at least one, from the optimized plan's size estimate.
    * None when the plan has no estimate — an RDD-backed frame reports
    * `spark.sql.defaultSizeInBytes` — so such a write keeps its own
    * partitioning.
    *
    * The estimate is Spark's, not the bytes on disk: a parquet scan
    * reports its files' compressed length, but a local relation counts
    * an array as ONE element, so a 64-d vector row is estimated at ~80 B
    * against ~280 B written, and a string at 20 B whatever its length.
    * The rule under-counts such rows, so their files run larger than one
    * split: a few splits for vectors, more for a LOB payload delta. A
    * read still splits a large file by row group, so only the write's
    * parallelism drops.
    */
  def fileCount(df: DataFrame, targetFileBytes: Long): Option[Int] = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= df.sparkSession.sessionState.conf.defaultSizeInBytes) None
    else Some(math.max(1, ((bytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt))
  }

  /** `df` coalesced (no shuffle) to [[fileCount]] partitions, so a write
    * of it lands one file per `targetFileBytes` (per hive partition
    * value, under `partitionBy`); untouched when the estimate is
    * unknown. A count at or above the frame's own partitions is a no-op
    * (a coalesce never adds partitions). The coalesce also runs the
    * frame's lineage in that many tasks.
    */
  def sized(df: DataFrame, targetFileBytes: Long): DataFrame =
    fileCount(df, targetFileBytes).fold(df)(df.coalesce)
}
