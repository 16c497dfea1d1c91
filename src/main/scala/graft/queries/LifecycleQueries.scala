package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.operators.PartitionKey
import graft.sources.{BulkImport, Npy, SchemaEvolution}
import graft.streaming.Streaming

/** Driver-gated queries for the collection lifecycle surfaces that were
  * ScalaTest-only in round 1/2: streaming ingest end-to-end, numpy bulk
  * import, schema evolution (add-field + default_value), partition-key
  * routing, and external-table field mapping. Each runs the real
  * machinery (a live StreamingQuery, a real .npy file, a real
  * partitioned/merged parquet layout) and lands on a DuckDB-checkable
  * result over the standard tables.
  */
object LifecycleQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  private def tag(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  private def deleteRecursively(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** Per-invocation scratch directory. A FIXED /tmp path lets a stale or
    * concurrent JVM (the driver interleaves verify/bench runs) race
    * overwrite-vs-read and produce a torn result — this was the one red
    * CORRECTNESS row in round 3 (q_rls_read). Unique dirs are immune by
    * construction; a shutdown hook reclaims the space once the JVM (and
    * therefore every lazy read over the dir) is done.
    */
  private[queries] def scratchDir(prefix: String): String = {
    val p = Files.createTempDirectory(s"graft_${prefix}_")
    sys.addShutdownHook { try deleteRecursively(p.toString) catch { case _: Throwable => () } }
    p.toString
  }

  /** Streaming insert end-to-end (SURVEY §2.7: WAL → dedup →
    * flush/seal): a MemoryStream WAL carrying each event TWICE (an
    * at-least-once WAL replay), watermark + pk dedup
    * (Streaming.dedupedIngest), idempotent parquet flush
    * (Streaming.flushToParquet), then a read of the sealed layout —
    * counts must equal exactly-once semantics over the original rows.
    * The WAL fixture is bounded (event_id < 2000) because a MemoryStream
    * feeds from the driver; the dedup/flush plan is the unbounded path.
    */
  def streamIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val base = scratchDir("stream")
    val path = s"$base/data"
    val ck = s"$base/ck"
    val rows = t(s, dir, "events")
      .filter(col("event_id") < 2000)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .collect().toSeq
    // stateful stream: run under a state-sized shuffle-partition count
    // (see Streaming.stateScoped — AQE can't right-size streaming state)
    implicit val sqlCtx = Streaming.stateScoped(s).sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    input.addData(rows ++ rows) // duplicated WAL delivery
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts_event", (col("ts") / lit(1000000000L)).cast("timestamp"))
    val deduped = Streaming.dedupedIngest(stream, "event_id", "ts_event")
    val q = Streaming.flushToParquet(deduped, path, ck)
    q.processAllAvailable()
    q.stop()
    s.read.parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Numpy bulk import round trip (importutilv2/numpy): export the first
    * 100 embeddings to a real .npy (v1 header, <f4), re-import through
    * the distributed reader, and emit every element — content equality
    * with the source table, element by element.
    */
  def npyRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratchDir("npy")}/data.npy"
    val vecs = t(s, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .orderBy(col("vec_id"))
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
      .toSeq
    Npy.write(path, vecs)
    BulkImport.read(s, "npy", path)
      .select(col("row_idx"), posexplode(col("vec")).as(Seq("_p", "_v")))
      .select(col("row_idx"), (col("_p") + 1).cast("long").as("pos"),
        round(col("_v").cast("double"), 5).as("val"))
      .orderBy(col("row_idx"), col("pos"))
  }

  /** Schema evolution (AddCollectionField + default_value): segment 1
    * sealed before the DDL (no `o_orderpriority` column), segment 2
    * after; a mergeSchema read + default fill serves the union without
    * rewriting segment 1.
    */
  def addField(s: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("evolve")
    val o = t(s, dir, "orders")
    o.filter(col("o_orderkey") <= 7500)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$path/seg1")
    o.filter(col("o_orderkey") > 7500)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$path/seg2")
    SchemaEvolution.readMerged(s, Seq(s"$path/seg1", s"$path/seg2"),
        defaults = Map("o_orderpriority" -> lit("0-NONE")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Partition-key routing (is_partition_key): events hash-partitioned
    * on user_id into 8 directory partitions; `user_id == 42` prunes to
    * one directory (PartitionFilters in the scan) before reading a row.
    */
  def partitionKey(s: SparkSession, dir: String): DataFrame = {
    val path = s"${scratchDir("partkey")}/data"
    PartitionKey.write(
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value")),
      "user_id", numPartitions = 8, path)
    PartitionKey.readKeyEquals(s, path, "user_id", lit(42L), numPartitions = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Partition-key upsert re-route (reference issue #30607: upsert
    * into an is_partition_key collection must route the new version by
    * its — possibly CHANGED — key value and keep the pk uniquely
    * visible; the engine's upsert is delete+insert on these
    * collections, task_upsert.go's WAL shape). Pins: global uniqueness,
    * re-keyed visibility, the new-key bucket holding the rows under a
    * partition-scoped read (pre and post flush — the flushed case rides
    * directory PartitionFilters), and zero resurrection of the
    * superseded version under the old key's bucket scope.
    */
  def partitionKeyUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      partitionKeyField = Some("lang"), numPartitions = 8))
    c.insert(docs)
    c.upsert(docs.filter(col("doc_id") < 40).withColumn("lang", lit("zz")))
    // PARTIAL upsert re-keys too: only (pk, lang) provided — carried
    // fields survive and the row moves to the new key's bucket
    c.upsertPartial(docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
      .select(col("doc_id"), lit("zz").as("lang")))
    def bucketOf(v: String): String = s.range(1)
      .select(concat(lit("_pk_"), pmod(xxhash64(lit(v)), lit(8L))))
      .head().getString(0)
    val zzB = bucketOf("zz")
    val enB = bucketOf("en")
    val preFlush = Seq(
      ("total_unique", c.count("")),
      ("rekeyed_visible", c.count("lang == \"zz\"")),
      ("new_bucket_scoped", c.query("lang == \"zz\"", Seq("doc_id"),
        partitionNames = Seq(zzB)).count()),
      // collision-robust: even if en and zz share a bucket, a
      // superseded en-version of a re-keyed pk must be gone
      ("old_bucket_no_resurrect", c.query("doc_id < 40 and lang == \"en\"",
        Seq("doc_id"), partitionNames = Seq(enB)).count()),
      ("en_remaining", c.count("lang == \"en\"")),
      ("partial_rekey_scoped", c.query("doc_id >= 40 and doc_id < 50",
        Seq("doc_id"), partitionNames = Seq(zzB)).count()),
      ("partial_rekey_carry",
        c.count("lang == \"zz\" and doc_id >= 40 and n_chars > 0")))
    c.flush(s"${scratchDir("pkupsert")}/segs")
    val postFlush = Seq(
      ("new_bucket_scoped_flushed", c.query("lang == \"zz\"", Seq("doc_id"),
        partitionNames = Seq(zzB)).count()))
    (preFlush ++ postFlush).toDF("case_id", "cnt").orderBy(col("case_id"))
  }

  /** Partition-key isolation (reference: the partitionkey.isolation
    * collection property — test_milvus_client_partition_key_isolation.py:
    * with isolation ON every filter must pin the partition key with ONE
    * top-level equality conjunct; missing keys, OR/NOT branches over
    * the key, ranges, and IN lists are rejected at validation time).
    * Accepted filters route to exactly the key's directory partition
    * (the q_partition_key pruning) and return normal results; rejection
    * markers pin the validator's decisions.
    */
  def partitionIsolation(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.ExprCompiler
    val path = s"${scratchDir("partiso")}/data"
    PartitionKey.write(
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      "event_type", numPartitions = 8, path)
    def isolatedCount(filterExpr: String): Long = {
      val valueNode = PartitionKey.isolationKeyEquality(filterExpr, "event_type")
      val keyVal = ExprCompiler.compile(valueNode,
        ExprCompiler.Ctx(s.read.parquet(path).schema)) // a literal: context-free
      val routed = PartitionKey.readKeyEquals(s, path, "event_type", keyVal, 8)
      routed.filter(ExprCompiler.compile(filterExpr, routed)).count()
    }
    def rejected(filterExpr: String): String =
      try { isolatedCount(filterExpr); "unexpected-allow" }
      catch { case _: IllegalArgumentException => "rejected" }
    import s.implicits._
    Seq(
      ("eq_click", isolatedCount("event_type == \"click\"").toString),
      ("eq_click_and_value",
        isolatedCount("event_type == \"click\" and value > 50").toString),
      ("in_on_key", rejected("event_type in [\"click\", \"view\"]")),
      ("missing_key", rejected("value > 50")),
      ("not_branch", rejected("not (event_type == \"click\")")),
      ("or_branch", rejected("event_type == \"click\" or event_type == \"view\"")),
      ("range_on_key", rejected("event_type == \"click\" and event_type > \"a\"")),
      ("two_equalities", rejected(
        "event_type == \"click\" and event_type == \"view\"")))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** Force-merge compaction end-to-end (reference: compact(target_size)
    * → compaction_policy_forcemerge.go; test_milvus_client_force_merge.py):
    * three small sealed segments consolidate into one under a 2 GB
    * target, validations reject non-positive targets and targets below
    * the segment max size, reads are unchanged by construction, and the
    * compaction id reports Completed with the before/after counts.
    */
  def forceMergeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    val base = scratchDir("forcemerge")
    // 3×300 rows, bounded under event_id 900 — present at every sf
    (0 until 3).foreach { i =>
      c.insert(ev.filter(col("event_id") >= i * 300 && col("event_id") < (i + 1) * 300))
      c.flush(s"$base/seg$i")
    }
    val three = c.getQuerySegmentInfo.map(i => s"${i.state}:${i.rows}").mkString(",")
    def rejected(target: Long): String =
      try { c.forceMerge(s"$base/bad", target); "unexpected-allow" }
      catch { case _: IllegalArgumentException => "rejected" }
    val negative = rejected(-1L)
    val belowMax = rejected(512L)
    val id = c.forceMerge(s"$base/merge", targetSizeMb = 2048L)
    val st = c.getCompactionState(id)
    val after = c.getQuerySegmentInfo.map(i => s"${i.state}:${i.rows}").mkString(",")
    import s.implicits._
    Seq(
      ("after_merge", after),
      ("before_merge", three),
      ("count_preserved", c.count().toString),
      ("merge_state", s"${st.state}:${st.segmentsBefore}->${st.segmentsAfter}"),
      ("target_below_max", belowMax),
      ("target_negative", negative))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** Partition-scoped load/release end-to-end (reference: impl.go
    * LoadPartitions / ReleasePartitions / GetLoadingProgress;
    * test_milvus_client_partition.py): with only some partitions
    * loaded, unscoped reads serve the loaded partitions ONLY; a
    * partition_names read naming an unloaded partition is rejected
    * ("partition not loaded"); loads are additive and idempotent;
    * releasing under a full load narrows it; unknown names error; the
    * count markers pin every visibility transition against an SQL
    * recompute of the same modulo split.
    */
  def loadPartitionsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 3000) // present at every sf
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.createPartition("hot")
    c.createPartition("cold")
    c.insertInto("hot", ev.filter(col("event_id") % 3 === 0))
    c.insertInto("cold", ev.filter(col("event_id") % 3 === 1))
    c.insert(ev.filter(col("event_id") % 3 === 2)) // _default
    def rejected(f: => Unit): String =
      try { f; "unexpected-allow" }
      catch { case _: IllegalArgumentException => "rejected" }
    c.loadPartitions(Seq("hot"))
    val hotOnly = c.count()
    val coldUnloaded = rejected(
      c.query("", Seq("event_id"), partitionNames = Seq("cold")).count())
    c.loadPartitions(Seq("cold"))
    c.loadPartitions(Seq("cold")) // idempotent
    val hotCold = c.count()
    c.load() // full load supersedes the partial scope
    val full = c.count()
    c.releasePartitions(Seq("hot")) // narrows the full load
    val afterReleaseHot = c.count()
    val loadUnknown = rejected(c.loadPartitions(Seq("nope")))
    val releaseUnknown = rejected(c.releasePartitions(Seq("nope")))
    c.releasePartitions(Seq("hot")) // releasing an unloaded partition: ok
    val idempotent = c.count()
    val state = s"${c.loadState}:${c.getLoadingProgress}"
    c.releasePartitions(Seq("cold", Collection.DefaultPartition))
    val released = s"${c.loadState}:${c.getLoadingProgress}"
    import s.implicits._
    Seq(
      ("count_after_release_hot", afterReleaseHot.toString),
      ("count_full", full.toString),
      ("count_hot_cold", hotCold.toString),
      ("count_hot_loaded", hotOnly.toString),
      ("load_unknown", loadUnknown),
      ("query_unloaded_cold", coldUnloaded),
      ("release_idempotent", idempotent.toString),
      ("release_unknown", releaseUnknown),
      ("released_all_state", released),
      ("state_partial", state))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** File-level pk segment pruning (reference MEP
    * 20260324-segment_filter_pk_predicate_pruning.md: the delegator
    * drops whole segments from the dispatch list via pk min/max before
    * any kernel runs). A pk-anchored filter over a three-segment
    * collection dispatches to the overlapping segment FILES only —
    * engine-fact dispatch counts are pinned as marker rows; the data
    * answers (including a cross-segment upsert and a tombstone) match
    * the DuckDB truth. At 100 TB a point get opens one segment's
    * footers instead of every footer in the collection.
    */
  def pkPrunedLookup(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 900) // present at every sf
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    val path = s"/tmp/graft_q_pkprune_${System.nanoTime()}"
    Seq((0L, 300L), (300L, 600L), (600L, 900L)).foreach { case (lo, hi) =>
      c.insert(ev.filter(col("event_id") >= lo && col("event_id") < hi))
      c.flush(path)
    }
    val dispatchFull = c.plannedSegments("").size
    val dispatchPoint = c.plannedSegments("event_id == 450").size
    val dispatchIn = c.plannedSegments("event_id in [10, 800]").size
    val dispatchRange = c.plannedSegments("300 <= event_id < 420").size
    val dispatchMiss = c.plannedSegments("event_id == 5000").size
    val dispatchNonPk = c.plannedSegments("event_type == \"click\"").size
    val pointType = c.query("event_id == 450", Seq("event_type"))
      .head().getString(0)
    val countIn = c.count("event_id in [10, 800]")
    val countRange = c.count("300 <= event_id < 420")
    // a newer version of pk 450 seals into a FOURTH segment whose pk
    // range covers it: the point lookup dispatches to both holders and
    // LWW serves the new row
    import s.implicits._
    c.upsert(Seq((450L, "patched", 0.0))
      .toDF("event_id", "event_type", "value"))
    c.flush(path)
    val dispatchAfter = c.plannedSegments("event_id == 450").size
    val typeAfter = c.query("event_id == 450", Seq("event_type"))
      .head().getString(0)
    // tombstones live OUTSIDE segments — a pruned read still applies them
    c.delete("event_id == 10")
    val countInAfter = c.count("event_id in [10, 800]")
    Seq(
      ("count_in", countIn.toString),
      ("count_in_after_delete", countInAfter.toString),
      ("count_range", countRange.toString),
      ("dispatch_full", dispatchFull.toString),
      ("dispatch_in", dispatchIn.toString),
      ("dispatch_miss", dispatchMiss.toString),
      ("dispatch_nonpk", dispatchNonPk.toString),
      ("dispatch_point", dispatchPoint.toString),
      ("dispatch_point_after_upsert", dispatchAfter.toString),
      ("dispatch_range", dispatchRange.toString),
      ("point_type", pointType),
      ("point_type_after_upsert", typeAfter))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** Segment summary statistics (reference MEP
    * 20260602-segment_summary_metadata.md: per-segment aggregates
    * extracted at data generation, consumed by scheduling and
    * introspection with no re-scan). Three range-sealed segments with
    * deterministic nulls; the oracle recomputes row/null counters from
    * the raw table, while engine facts (ts-prune dispatch width, the
    * quantile expiry lower bound) pin as marker rows. Also pins the
    * MEP's ts-range consumer: a time-travel read at the first seal's
    * ts answers from ONE segment's files.
    */
  def segmentStatsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    import graft.operators.ConsistencyLevel
    val ev = t(s, dir, "events")
      .filter(col("event_id") < 900)
      .select(col("event_id"), col("event_type"),
        // every 10th row carries a NULL value — the null-count fixture
        when(col("event_id") % 10 === 0, lit(null)).otherwise(col("value"))
          .as("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    val path = s"/tmp/graft_q_segstats_${System.nanoTime()}"
    val sealTs = Seq((0L, 300L), (300L, 600L), (600L, 900L)).map { case (lo, hi) =>
      val ts = c.insert(ev.filter(col("event_id") >= lo && col("event_id") < hi))
      c.flush(path)
      ts
    }
    val stats = c.segmentStatistics
    val rowsSorted = stats.values.map(_.rows).toSeq.sorted
    val nullValue = stats.values.map(_.nullCounts.getOrElse("value", -1L)).sum
    val quantOk = stats.values.forall(_.tsQuantiles.size == 5)
    // time-travel read at the FIRST seal's ts: only segment 1 is on the
    // file list (MEP ts-range prune) and only its rows are visible
    val tt = c.readView(ConsistencyLevel.BoundedStaleness,
      staleness = sealTs.last - sealTs.head)
    val ttCount = tt.count()
    val ttDirs = tt.inputFiles
      .map(_.replaceAll(".*/(seg-[0-9]+)/.*", "$1")).distinct.length
    // quantile expiry fractions (one-bucket-down lower bound)
    val now = c.allocTimestamp()
    val expNone = c.expiredFraction(sealTs.head, ttlTicks = sealTs.head)
    val expAll = c.expiredFraction(now + 1000L, ttlTicks = 0L)
    val expOne = c.expiredFraction(sealTs(1),
      ttlTicks = sealTs(1) - sealTs.head - 1)
    import s.implicits._
    Seq(
      ("effective_value_rows", c.effectiveRows("value").toString),
      ("expired_all", f"$expAll%.3f"),
      ("expired_none", f"$expNone%.3f"),
      ("expired_one_segment", f"$expOne%.3f"),
      ("null_value_rows", nullValue.toString),
      ("quantiles_five", quantOk.toString),
      ("rows_max", rowsSorted.last.toString),
      ("rows_min", rowsSorted.head.toString),
      ("rows_total", rowsSorted.sum.toString),
      ("tt_count", ttCount.toString),
      ("tt_dispatch_dirs", ttDirs.toString))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** Segment-mode order permutation (reference
    * test_filter_regressions.py:1070 test_segment_mode_order_permutation
    * + insert_by_segment_mode): the SAME rows laid out sealed-only,
    * growing-only, and mixed (half flushed, half tail) must answer an
    * order-sensitive expression pair identically — flushed-vs-unflushed
    * parity in one oracle query. The fixture is the reference's
    * build_order_rows table (shared with q_regression_matrix); DuckDB
    * recomputes the single truth, which every (mode, side) row must hit.
    */
  def segmentModeParity(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    import s.implicits._
    val rows = MatrixQueries.RegressionRows.filter(_._6 == "multi")
      .map { case (id, age, score, active, tag, _, _) =>
        (id, age, score, active, tag)
      }
    val exprs = Seq(
      ("expr_l", "age > 10 and score <= 90"),
      ("expr_r", "score <= 90 and age > 10"))
    val out = Seq("growing", "mixed", "sealed").flatMap { mode =>
      val c = Collection.create(s, CollectionSchema(pkField = "id"))
      val path = s"/tmp/graft_q_segmode_${mode}_${System.nanoTime()}"
      val df = rows.toDF("id", "age", "score", "active", "tag")
      mode match {
        case "sealed"  => c.insert(df); c.flush(path)
        case "growing" => c.insert(df)
        case "mixed" =>
          c.insert(df.filter(col("id") <= 5)); c.flush(path)
          c.insert(df.filter(col("id") > 5))
      }
      exprs.map { case (side, e) =>
        val ids = c.query(e, Seq("id")).as[Long].collect()
        (mode, side, ids.length.toLong, ids.sum)
      }
    }
    out.toDF("mode", "side", "cnt", "id_sum")
      .orderBy(col("mode"), col("side"))
  }

  /** Materialized-view partition-key-isolated ANN search (reference:
    * tests/integration/materialized_view/materialized_view_test.go —
    * with EnableMaterializedView, a search whose filter pins the
    * partition key touches only that key's physical partition).
    * Spark-first shape: the collection layout is directory-partitioned
    * on the key, so `label == 3` becomes Catalyst partition pruning
    * (PartitionFilters on `_part`) BEFORE any vector bytes are read;
    * brute-force top-k then runs over the 1/8 slice only. At 100 TB the
    * search scans one directory partition, not the corpus.
    */
  def mvSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Metric
    import graft.operators.VectorSearch
    val path = s"${scratchDir("mv")}/data"
    PartitionKey.write(
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label")),
      "label", numPartitions = 8, path)
    val pruned = PartitionKey.readKeyEquals(s, path, "label", lit(3), numPartitions = 8)
    val qs = t(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    VectorSearch.topK(pruned, "vec_id", "embedding", qs, "qid", "qvec",
        Metric.L2, k = 10, roundTo = Some(4))
      .select(col("qid"), col("rank"), col("_score").as("score"), col("vec_id"))
      .orderBy(col("qid"), col("rank"))
  }

  /** External table field mapping (external_table.md `external_field`):
    * the collection schema (name, price, brand) is served query-in-place
    * from the differently-named columns of the external parquet.
    */
  def externalMap(s: SparkSession, dir: String): DataFrame = {
    BulkImport.readExternal(s, "parquet", s"$dir/part.parquet",
        fieldMapping = Map(
          "name" -> "p_name", "price" -> "p_retailprice", "brand" -> "p_brand"))
      .filter(col("price") > 950)
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("price")), 2).as("sum_price"))
      .orderBy(col("brand"))
  }

  /** Snapshot read (datacoord/snapshot.go): manifest the current file
    * set, append more segments to the SAME directory afterwards, then a
    * snapshot read serves exactly the manifested files — time travel by
    * construction, no data copy, immune to later appends.
    */
  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshot
    val path = scratchDir("snap")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") < 5000).write.parquet(s"$path/data")
    Snapshot.create(s, s"$path/data", s"$path/snaps", "s1")
    ev.filter(col("event_id") >= 5000).write.mode("append").parquet(s"$path/data")
    Snapshot.read(s, s"$path/snaps", "s1")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** CDC replication: the primary takes an insert, a delete-by-expr,
    * and an upsert; the replica applies the change feed with original
    * timestamps and must serve the same MVCC view — which the oracle
    * recomputes from the write sequence (upsert at ts3 wins over the
    * ts2 delete for user-2 rows, read-your-writes LWW).
    */
  def cdcReplica(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val schema = CollectionSchema(pkField = "event_id")
    val ev = t(s, dir, "events").filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val primary = Collection.create(s, schema)
    primary.insert(ev)
    primary.delete("""event_type == "error"""")
    primary.upsert(ev.filter(col("user_id") === 2)
      .select(col("event_id"), col("user_id"), lit("upd").as("event_type"),
        (col("value") + 500).as("value")))
    val replica = Collection.create(s, schema)
    replica.applyChanges(primary.changesSince(0L))
    replica.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Snapshot export/restore (20260609-external-snapshot-export-restore
    * .md): export copies the manifested files into a self-contained
    * directory; the SOURCE collection then mutates (append) and is
    * dropped entirely — restore must still serve exactly the snapshot's
    * rows. Self-containment is proven by deletion, not asserted.
    */
  def snapshotExport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshot
    val path = scratchDir("snapexp")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") < 4000).write.parquet(s"$path/data")
    Snapshot.create(s, s"$path/data", s"$path/snaps", "s1")
    Snapshot.export(s, s"$path/snaps", "s1", s"$path/exp")
    ev.filter(col("event_id") >= 4000).write.mode("append").parquet(s"$path/data")
    deleteRecursively(s"$path/data") // drop the source collection
    Snapshot.restore(s, s"$path/exp")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Event-time windowed aggregation over a live stream (the Spark-
    * native streaming upgrade the reference lacks): tumbling 6-hour
    * windows with a watermark, complete-mode memory sink, compared
    * against the oracle's bucket arithmetic over the same rows.
    */
  def windowedAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val rows = t(s, dir, "events")
      .filter(col("event_id") < 3000)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[(Long, Long, String, Double)]
      .collect().toSeq
    // stateful stream: state-sized shuffle partitions (Streaming.stateScoped);
    // the memory sink registers on the session that runs the query
    val scoped = Streaming.stateScoped(s)
    implicit val sqlCtx = scoped.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    input.addData(rows)
    val stream = input.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("ts_event", (col("ts") / lit(1000000000L)).cast("timestamp"))
    val windowed = Streaming.windowedCounts(
      stream, "ts_event", "event_type", "6 hours", "6 hours", "1 hour")
    val sink = s"winagg_${tag(dir)}"
    val q = windowed.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    scoped.table(sink)
      .select(col("window.start").cast("long").as("win"), col("event_type"),
        col("cnt"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("win"), col("event_type"))
  }

  /** LOB externalize → delete → GC → resolve round trip
    * (storagev2 LobFileInfo + garbage_collector_lob.go): payloads live
    * in a content-addressed blob store; deleting the 'zh' docs and
    * GC'ing must leave every surviving row resolvable byte-for-byte
    * (a wrongly GC'd blob surfaces as a null payload here).
    */
  def lobGc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Lob
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), encode(col("text"), "UTF-8").as("payload"))
    val (data, blobs) = Lob.externalize(docs, "payload")
    val live = data.filter(col("lang") =!= "zh")
    val kept = Lob.gc(blobs, live)
    Lob.resolve(live, kept)
      .select(col("doc_id"), col("_lob_ref").as("digest"),
        col("_lob_bytes").as("lob_bytes"),
        octet_length(col("payload")).cast("long").as("bytes"))
      .orderBy(col("doc_id"))
  }

  /** TEXT-LOB as a fully queryable field
    * (test_milvus_client_text_lob.py:821-1659): a collection declares
    * `text` as a TEXT field (enable_analyzer + enable_match); every 7th
    * document grows past the 64 KiB inline threshold — those payloads
    * externalize into the content-addressed blob store at write and
    * resolve transparently on every read. The battery pins, in one
    * result frame:
    *   - match_growing: text_match over GROWING (un-flushed) LOB rows
    *     (:1340 growing→sealed visibility — same answers as sealed);
    *   - match: the same text_match after flush + upsert + delete +
    *     compaction + GC (byte length and md5 of each resolved payload
    *     — a wrongly resolved or lost payload breaks the hash);
    *   - boundary: the 64 KiB −1/at/+1 round trip, byte-exact via
    *     octet_length + md5 (:1609);
    *   - upsert: the 128 KiB-class re-uploaded payload readback (:1631);
    *   - gc_live / gc_orphans: threshold classification (below-64 KiB
    *     payloads never enter the store) and orphan collection (the
    *     deleted and the upserted-over payloads — exactly 2) after
    *     compact + lobGc;
    *   - null_text: no surviving row lost its payload to a bad resolve.
    * The r15 query-semantics depth sections (msm/template/BM25) live in
    * [[textLobDepth]] — split before this fixture crossed the ~5 s
    * orchestration bar. The fixture is value-bounded (doc_id < 260 —
    * the q_import_2pc device for contract gates); the resolve join
    * itself is the unbounded path (digest-keyed left join, payloads
    * move once).
    */
  def textLob(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val path = s"${scratchDir("textlob")}/data"
    val docs = t(s, dir, "documents").filter(col("doc_id") < 260)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // deterministic ASCII filler derived from the doc's own text: one
    // 67200-byte hex blob pushes the row well past the 64 KiB threshold
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      textFields = Map("text" -> TextFieldSpec(
        enableAnalyzer = true, enableMatch = true))))
    c.insert(grown)
    def matchSection(tag: String): DataFrame = c.query(
        "text_match(text, 'filter window', minimum_should_match = 2)",
        Seq("doc_id", "text"))
      .select(lit(tag).as("section"), col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"),
        lit(null).cast("double").as("x"), md5(col("text")).as("s"))
    // captured NOW (growing only), evaluated lazily with the rest —
    // the plan closes over the pre-flush growing tail and blob delta
    val matchGrowing = matchSection("match_growing")
    // 64 KiB boundary rows: exactly threshold−1 / threshold / threshold+1
    // bytes of pure ASCII (md5-hex repeat, substring to the byte)
    val bounds = s.range(1, 4)
      .select((col("id") + 9000000L).as("doc_id"),
        repeat(md5((col("id") + 9000000L).cast("string")), 2049)
          .substr(lit(1), (lit(65534) + col("id")).cast("int")).as("text"),
        lit("en").as("lang"), lit("bound").as("source"))
    c.insert(bounds)
    c.flush(path)
    // upsert doc 7 with a NEW oversized payload; delete doc 14 (both
    // were LOB-backed) — the superseded and deleted payloads become
    // orphans once compaction rewrites their versions away
    c.upsert(grown.filter(col("doc_id") === 7)
      .withColumn("text", concat(lit("upserted "),
        repeat(md5(concat(col("text"), lit("v2"))), 2100))))
    c.deletePks(Seq(14L))
    c.flush(path)
    c.compact(path)
    val orphans = c.lobGc(path)
    val live = c.lobBlobCount
    val readback = c.query("doc_id == 7 or doc_id >= 9000000", Seq("doc_id", "text"))
      .select(
        when(col("doc_id") >= 9000000L, lit("boundary"))
          .otherwise(lit("upsert")).as("section"),
        col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"),
        lit(null).cast("double").as("x"), md5(col("text")).as("s"))
    val nullText = c.readView().filter(col("text").isNull)
      .agg(count(lit(1)).as("n"))
      .select(lit("null_text").as("section"), lit(0L).as("id"), col("n"),
        lit(null).cast("double").as("x"), lit(null).cast("string").as("s"))
    import s.implicits._
    val gc = Seq(("gc_live", live), ("gc_orphans", orphans))
      .toDF("section", "n")
      .select(col("section"), lit(0L).as("id"), col("n"),
        lit(null).cast("double").as("x"), lit(null).cast("string").as("s"))
    matchGrowing
      .unionByName(matchSection("match"))
      .unionByName(readback)
      .unionByName(nullText)
      .unionByName(gc)
      .orderBy(col("section"), col("id"), col("n"))
  }

  /** TEXT-LOB query-semantics depth, split out of [[textLob]] before
    * the combined fixture crossed the ~5 s orchestration bar (the
    * q_lob_restore / q_namespace_compaction precedent): the r15 depth
    * sections — minimum_should_match thresholds (:947), template-filter
    * parity (:981), and BM25 ranking (:1033) — over the same CHURNED
    * corpus shape the combined gate used (flush + upsert + delete +
    * compact + lobGc), so a sealed/compacted-resolve regression feeding
    * stale payload text into these operators still breaks a gate.
    * Value-bounded fixture (doc_id < 150).
    */
  def textLobDepth(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val path = s"${scratchDir("textlobdepth")}/data"
    val docs = t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id"), col("text"))
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      textFields = Map("text" -> TextFieldSpec(
        enableAnalyzer = true, enableMatch = true))))
    c.insert(grown)
    c.flush(path)
    c.upsert(grown.filter(col("doc_id") === 7)
      .withColumn("text", concat(lit("upserted "),
        repeat(md5(concat(col("text"), lit("v2"))), 2100))))
    c.deletePks(Seq(14L))
    c.flush(path)
    c.compact(path)
    c.lobGc(path)
    // minimum_should_match over LOB (:947): thresholds climb to the
    // full token set, and an impossible threshold answers EMPTY
    val msm3 = c.query(
        "text_match(text, 'filter window stream', minimum_should_match = 3)",
        Seq("doc_id", "text"))
      .select(lit("msm3").as("section"), col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"),
        lit(null).cast("double").as("x"), md5(col("text")).as("s"))
    val msmNone = c.query(
        "text_match(text, 'filter window', minimum_should_match = 5)",
        Seq("doc_id"))
      .agg(count(lit(1)).as("n"))
      .select(lit("msm_none").as("section"), lit(0L).as("id"), col("n"),
        lit(null).cast("double").as("x"), lit(null).cast("string").as("s"))
    // template filter over LOB (:981): the templated text_match answers
    // identically to the literal — encoded as the symmetric difference
    // (must be 0) plus the match count (so the pin can't pass vacuously)
    val literalIds = c.query("text_match(text, 'filter window')", Seq("doc_id"))
    val templatedIds = c.query("text_match(text, {q})", Seq("doc_id"),
      params = Map("q" -> "filter window"))
    val tmpl = literalIds.exceptAll(templatedIds)
      .unionAll(templatedIds.exceptAll(literalIds))
      .agg(count(lit(1)).as("n"))
      .select(lit("template_xor").as("section"), lit(0L).as("id"), col("n"),
        lit(null).cast("double").as("x"), lit(null).cast("string").as("s"))
      .unionByName(templatedIds.agg(count(lit(1)).as("n"))
        .select(lit("template_n").as("section"), lit(0L).as("id"), col("n"),
          lit(null).cast("double").as("x"), lit(null).cast("string").as("s")))
    val bm25 = {
      val model = graft.operators.Bm25.build(
        c.readView().select(col("doc_id"), col("text")), "doc_id", "text")
      graft.operators.Bm25.search(model, "filter window stream",
          k = 10, roundTo = Some(4))
        .select(lit("bm25").as("section"), col("doc_id").as("id"),
          col("rank").cast("long").as("n"), col("_score").as("x"),
          lit(null).cast("string").as("s"))
    }
    bm25
      .unionByName(msm3)
      .unionByName(msmNone)
      .unionByName(tmpl)
      .orderBy(col("section"), col("id"), col("n"))
  }

  /** Snapshot × TEXT-LOB (reference: datacoord/snapshot.go — a snapshot
    * manifests the segment files live at snapshot time;
    * garbage_collector_lob.go:214-258 — LOB GC's used-set includes
    * snapshot-protected segments' refs, so a snapshot keeps its
    * payloads alive; the 20260609 export design). The battery pins, in
    * one frame:
    *   - snap: the snapshot read AFTER the live side deleted every
    *     14th doc, upserted doc 21's payload, compacted, and lobGc'd —
    *     every original payload must still resolve byte-exact (a
    *     wrongly collected blob surfaces as a broken md5 here);
    *   - live: the post-churn live read (deletes applied, doc 21 = the
    *     new payload, the orphan gone);
    *   - gc_reclaimed: exactly 1 — the post-snapshot orphan payload;
    *     snapshot-pinned blobs are excluded from the reclaim;
    *   - gc_live: the store keeps every snapshot payload plus the
    *     upserted one.
    * Value-bounded fixture (doc_id < 150, the contract-gate device);
    * the pin itself is an ids-only union into the GC semi-join.
    */
  def lobSnapshot(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val path = s"${scratchDir("lobsnap")}/data"
    val docs = t(s, dir, "documents").filter(col("doc_id") < 150)
      .select(col("doc_id"), col("text"), col("lang"))
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      textFields = Map("text" -> TextFieldSpec(
        enableAnalyzer = true, enableMatch = true))))
    c.insert(grown)
    c.createSnapshot(path, "s1")
    // live-side churn the snapshot must not see: delete every 14th doc
    // (all LOB-backed), re-upload doc 21's payload, and land a
    // post-snapshot orphan (insert + delete a fresh oversized payload —
    // the ONLY blob GC may reclaim, everything else is pinned)
    c.deletePks((0L until 150L by 14L))
    c.upsert(grown.filter(col("doc_id") === 21)
      .withColumn("text", concat(lit("upserted "),
        repeat(md5(concat(col("text"), lit("v2"))), 2100))))
    import s.implicits._
    c.insert(Seq((9000001L, "orphan", "en")).toDF("doc_id", "text", "lang")
      .withColumn("text", concat(col("text"), lit(" "),
        repeat(md5(col("text")), 2100))))
    c.deletePks(Seq(9000001L))
    c.flush(path)
    c.compact(path)
    val reclaimed = c.lobGc(path)
    val liveBlobs = c.lobBlobCount
    def shape(df: DataFrame, tag: String) = df
      .select(lit(tag).as("section"), col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"), md5(col("text")).as("s"))
    val snap = shape(c.readSnapshot("s1"), "snap")
    val live = shape(c.query("doc_id >= 0", Seq("doc_id", "text")), "live")
    val gc = Seq(("gc_reclaimed", reclaimed), ("gc_live", liveBlobs))
      .toDF("section", "n")
      .select(col("section"), lit(0L).as("id"), col("n").cast("long").as("n"),
        lit(null).cast("string").as("s"))
    snap.unionByName(live).unionByName(gc)
      .orderBy(col("section"), col("id"))
  }

  /** RestoreSnapshot (snapshot_manager.go:177-206), its own gate so the
    * snapshot battery stays under the fixture-cost bar: restore a
    * LOB-bearing snapshot into a NEW collection, churn + GC the source,
    * and pin that the restored collection re-serves every payload
    * byte-exact from its OWN re-externalized store. Value-bounded
    * fixture (doc_id < 100).
    */
  def lobRestore(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val path = s"${scratchDir("lobrestore")}/data"
    val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      textFields = Map("text" -> TextFieldSpec(
        enableAnalyzer = true, enableMatch = true))))
    c.insert(grown)
    c.createSnapshot(path, "s1")
    // restore through the JOB registry (snapshot_manager.go's
    // RestoreSnapshotJob surface): named target, poll record, and the
    // duplicate-target rejection (test_milvus_client_snapshot.py:628)
    val targetName = "restored_" + new java.io.File(path).getParentFile.getName
    val jobId = c.restoreSnapshotAs("s1", targetName)
    val r = Collection.getCollection(targetName)
    val jobState = Collection.getRestoreSnapshotState(jobId)
    val existsRejected =
      try { c.restoreSnapshotAs("s1", targetName); -1L }
      catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("duplicate collection") => 1L
      }
    // source-side churn the restore must be immune to: delete, compact,
    // UNPIN, and collect — the restored collection owns its layout
    c.deletePks((0L until 100L by 14L))
    c.flush(path)
    c.compact(path)
    c.dropSnapshot("s1")
    c.lobGc(path)
    // materialize the tiny result frame, then UNREGISTER the target: a
    // repeated run (bench RUNS>1, verify re-runs in one JVM) must not
    // accumulate restored corpora in the global collection registry
    val restored = r.query("doc_id >= 0", Seq("doc_id", "text"))
      .select(lit("restored").as("section"), col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"), md5(col("text")).as("s"))
      .localCheckpoint(true)
    import s.implicits._
    val counts = Seq(("restored_blobs", r.lobBlobCount),
        ("source_live", c.query("doc_id >= 0", Seq("doc_id")).count()),
        ("restore_exists_rejected", existsRejected),
        ("restore_job_state",
          if (jobState.state == "RestoreSnapshotCompleted") jobState.progress.toLong
          else -1L))
      .toDF("section", "n")
      .select(col("section"), lit(0L).as("id"), col("n").cast("long").as("n"),
        lit(null).cast("string").as("s"))
    Collection.dropCollection(targetName)
    restored.unionByName(counts).orderBy(col("section"), col("id"))
  }

  /** Physical retention sweep honoring snapshot pins (reference:
    * datacoord/garbage_collector.go recycleDroppedSegments +
    * garbage_collector_lob.go:214-258 — dropped/compacted files are
    * DELETED from storage unless a snapshot protects them). The battery
    * pins, in one frame:
    *   - sweep1 (snapshot registered): deletes exactly the superseded
    *     post-snapshot segment dir and LOB delta; the snapshot-pinned
    *     pre-churn dirs and the live run/snap dirs survive;
    *   - snap / live: both reads stay byte-exact AFTER the sweep (a
    *     wrongly deleted dir surfaces as a missing row or broken md5);
    *   - sweep2 (snapshot dropped): the formerly pinned dirs and the
    *     `_snapshots` artifacts reclaim;
    *   - reopen: a fresh open() of the swept root resolves to the same
    *     live answer (reopen_xor = 0 — the sweep never strands a
    *     future open).
    * Value-bounded fixture (doc_id < 80, the contract-gate device);
    * the sweep itself is O(dirs) listings + set math, no data reads.
    */
  def retentionSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val path = s"${scratchDir("retention")}/data"
    val docs = t(s, dir, "documents").filter(col("doc_id") < 80)
      .select(col("doc_id"), col("text"))
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val schema = CollectionSchema(pkField = "doc_id",
      textFields = Map("text" -> TextFieldSpec(
        enableAnalyzer = true, enableMatch = true)))
    val c = Collection.create(s, schema)
    c.insert(grown)
    c.createSnapshot(path, "keep") // flushes: seg-a + gen-a manifested
    // post-snapshot churn producing superseded dirs: an unpinned orphan
    // (insert + delete oversized), an upsert, a flush (seg-b + gen-b),
    // a compaction (run), and a lobGc (snap; reclaims ONLY the orphan)
    import s.implicits._
    c.insert(Seq((9000001L, "orphan")).toDF("doc_id", "text")
      .withColumn("text", concat(col("text"), lit(" "),
        repeat(md5(col("text")), 2100))))
    c.deletePks(Seq(9000001L))
    c.deletePks((0L until 80L by 14L))
    c.upsert(grown.filter(col("doc_id") === 21)
      .withColumn("text", concat(lit("upserted "),
        repeat(md5(concat(col("text"), lit("v2"))), 2100))))
    c.flush(path)
    c.compact(path)
    val reclaimed = c.lobGc(path)
    val sweep1 = c.retentionSweep(path)
    def shape(df: DataFrame, tag: String) = df
      .select(lit(tag).as("section"), col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("n"), md5(col("text")).as("s"))
    // both reads AFTER the sweep — the pinned dirs must still serve.
    // Materialized NOW (localCheckpoint): sweep2 below deletes the very
    // dirs these plans read, so lazy evaluation at dump time would read
    // past the drop
    val snap = shape(c.readSnapshot("keep"), "snap").localCheckpoint(true)
    val liveDf = c.query("doc_id >= 0", Seq("doc_id", "text"))
      .localCheckpoint(true)
    val live = shape(liveDf, "live")
    c.dropSnapshot("keep")
    val sweep2 = c.retentionSweep(path)
    val reopened = Collection.open(s, schema, path)
      .query("doc_id >= 0", Seq("doc_id", "text"))
    val reopenXor = reopened.exceptAll(liveDf)
      .unionAll(liveDf.exceptAll(reopened)).count()
    val marks = Seq(
      ("gc_reclaimed", reclaimed),
      ("sweep1_data_deleted", sweep1("data_deleted")),
      ("sweep1_data_kept", sweep1("data_kept")),
      ("sweep1_lob_deleted", sweep1("lob_deleted")),
      ("sweep1_lob_kept", sweep1("lob_kept")),
      ("sweep1_snap_deleted", sweep1("snapshots_deleted")),
      ("sweep2_data_deleted", sweep2("data_deleted")),
      ("sweep2_data_kept", sweep2("data_kept")),
      ("sweep2_lob_deleted", sweep2("lob_deleted")),
      ("sweep2_lob_kept", sweep2("lob_kept")),
      ("sweep2_snap_deleted", sweep2("snapshots_deleted")),
      ("reopen_xor", reopenXor),
      ("reopen_n", reopened.count()))
      .toDF("section", "n")
      .select(col("section"), lit(0L).as("id"), col("n").cast("long").as("n"),
        lit(null).cast("string").as("s"))
    snap.unionByName(live).unionByName(marks)
      .orderBy(col("section"), col("id"))
  }

  /** Declared-analyzer match semantics through the facade (reference:
    * text_match evaluates over the FIELD's analyzer_params — the
    * TextMatchIndex tokenizes docs AND queries with the declared
    * pipeline): two TEXT fields carry the same corpus under different
    * analyzers — char_group+lowercase (token equality + phrase) and
    * ngram(3) (substring-by-gram). Every 11th doc is LOB-externalized,
    * so a hit on one also pins analyzer-over-LOB resolution; identical
    * payloads in both columns land ONCE in the content-addressed store.
    * The oracle recomputes each analyzer's tokenization independently
    * in SQL. Value-bounded fixture (doc_id < 400, the contract-gate
    * device); the match itself is a map-side scan.
    */
  def textAnalyzerMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, TextFieldSpec}
    val docs = t(s, dir, "documents").filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"))
    val grown = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"), lit(" tail "), repeat(md5(col("text")), 2100)))
        .otherwise(col("text")))
    val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
      textFields = Map(
        "text_cg" -> TextFieldSpec(enableAnalyzer = true, enableMatch = true,
          analyzerParams = Map("tokenizer" -> "char_group",
            "delims" -> " .,;:!?", "filters" -> "lowercase")),
        "text_ng" -> TextFieldSpec(enableAnalyzer = true, enableMatch = true,
          analyzerParams = Map("tokenizer" -> "ngram",
            "min_gram" -> "3", "max_gram" -> "3")))))
    c.insert(grown.select(col("doc_id"),
      col("text").as("text_cg"), col("text").as("text_ng")))
    val base = scratchDir("textanalyzer")
    c.flush(s"$base/data")
    def section(tag: String, expr: String, field: String): DataFrame =
      c.query(expr, Seq("doc_id", field))
        .select(lit(tag).as("section"), col("doc_id").as("id"),
          octet_length(col(field)).cast("long").as("n"))
    section("cg_match",
        "text_match(text_cg, 'filter window', minimum_should_match = 2)",
        "text_cg")
      .unionByName(section("cg_phrase",
        "phrase_match(text_cg, 'the fast')", "text_cg"))
      .unionByName(section("ng_contains",
        "text_match(text_ng, 'ect')", "text_ng"))
      .orderBy(col("section"), col("id"))
  }

  private val textAnalyzerOracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      |grown AS (SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0
      |         THEN text || ' tail ' || repeat(md5(text), 2100)
      |         ELSE text END AS text
      |  FROM base),
      |cg AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n,
      |    list_filter(string_split_regex(lower(text), '[ .,;:!?]+'),
      |      x -> x <> '') AS toks
      |  FROM grown)
      |SELECT * FROM (
      |  SELECT 'cg_match' AS section, doc_id AS id, n FROM cg
      |  WHERE len(list_intersect(toks, ['filter', 'window'])) >= 2
      |  UNION ALL
      |  SELECT 'cg_phrase', doc_id, n FROM cg
      |  WHERE (' ' || array_to_string(toks, ' ') || ' ') LIKE '% the fast %'
      |  UNION ALL
      |  SELECT 'ng_contains', doc_id, CAST(strlen(text) AS BIGINT) FROM grown
      |  WHERE text LIKE '%ect%')
      |ORDER BY section, id""".stripMargin

  /** The full client lifecycle through the [[graft.Collection]] facade
    * (reference integration flow: open → insert → delete-by-expr →
    * upsert → read): replay-insert new pks, delete the clicks, upsert
    * every user-1 row (newer ts beats the click tombstones —
    * read-your-writes LWW), then aggregate the MVCC view. The oracle
    * recomputes the same lifecycle in plain SQL.
    */
  def collectionE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val c = Collection.open(s,
      CollectionSchema(pkField = "event_id", tsField = "ts"), s"$dir/events.parquet")
    val ev = t(s, dir, "events")
    c.insert(ev.filter(col("event_id") < 500)
      .select((col("event_id") + 10000000L).as("event_id"), col("user_id"),
        lit("replay").as("event_type"), col("value"), col("props")))
    c.delete("""event_type == "click"""")
    c.upsert(ev.filter(col("user_id") === 1)
      .select(col("event_id"), col("user_id"), lit("upd").as("event_type"),
        (col("value") + 1000).as("value"), col("props")))
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Collection TTL (reference: docs/user_guides/collection_ttl.md +
    * exec/expression/EntityTTLTest.cpp — rows older than the
    * collection's ttl relative to the read timestamp are invisible to
    * every read, enforced in the MVCC visibility pass, not by a
    * background purge): open events as a collection, read with a 7-day
    * TTL, aggregate the surviving rows. The oracle recomputes the same
    * horizon cut in SQL. The TTL predicate is `ts + ttl > readTs` — a
    * pushdown-friendly range filter, so at 100 TB the scan prunes whole
    * time-ordered row groups.
    */
  def ttlVisibility(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val c = Collection.open(s,
      CollectionSchema(pkField = "event_id", tsField = "ts"), s"$dir/events.parquet")
    val ttlNs = 7L * 86400L * 1000000000L // 7 days in the ts column's ns domain
    c.readView(ttl = Some(lit(ttlNs)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Row-level security enforced through the facade (reference: design
    * doc 20250610-rls_design.md — per-collection policies whose
    * using_expr filters every read, `$current_user_name` /
    * `$current_user_tags['k']` resolved from the caller's context):
    * two policies — a tag-scoped `lang` restriction and an
    * identity-gated clause — both must pass (AND fold). The oracle pins
    * the exact visible-row set for the caller's scope, making RLS a
    * hard driver gate rather than a ScalaTest assertion.
    */
  def rlsRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, Rls}
    val path = s"${scratchDir("rls")}/data"
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), lit(1L).as("_ts"))
      .write.mode("overwrite").parquet(path)
    val c = Collection.open(s,
      CollectionSchema(pkField = "doc_id", tsField = "_ts"), path)
    c.enableRls(Seq(
      """lang == $current_user_tags['lang_scope']""",
      """$current_user_name != "blocked""""))
    c.setUser(Rls.UserContext("alice", Map("lang_scope" -> "en")))
    c.readView()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"), sum(length(col("text"))).as("sum_len"))
      .orderBy(col("lang"))
  }

  /** Truncate (reference: 20260129-truncate_collection.md — clear all
    * rows, keep schema/config; a metadata ts-horizon cut, no rewrite):
    * open events, truncate, then re-insert a bounded slice; the read
    * view must contain EXACTLY the post-truncate inserts — pre-truncate
    * rows gone, new writes unaffected. Oracle recomputes the insert
    * slice alone.
    */
  def truncateCut(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val c = Collection.open(s,
      CollectionSchema(pkField = "event_id", tsField = "ts"), s"$dir/events.parquet")
    c.truncate()
    val ev = t(s, dir, "events")
    c.insert(ev.filter(col("event_id") < 1000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props")))
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Filter-result cache (ExprCache.cpp analogue): the same compiled
    * filter runs twice through queryCached — the second read must be a
    * cache hit (asserted in-query; a miss fails the whole entry) and
    * the returned rows must equal the plain SQL filter.
    */
  def exprCacheRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val c = Collection.open(s,
      CollectionSchema(pkField = "event_id", tsField = "ts"), s"$dir/events.parquet")
    val expr = """value >= 50.0 and event_type == "click""""
    val out = Seq("event_id", "user_id", "value")
    c.queryCached(expr, out).write.format("noop").mode("overwrite").save() // warm
    val r = c.queryCached(expr, out) // must hit
    val (hits, misses) = c.filterCacheStats
    require(hits == 1L && misses == 1L,
      s"filter cache did not hit: hits=$hits misses=$misses")
    r.select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Indexed search over post-build rows end to end: seal the
    * embeddings table, build an IVF index, then insert a shifted copy of
    * the first 200 vectors as post-build tail (rows the build's cluster
    * map does not hold, assigned at search time); searchIndexed at
    * nprobe = nlist is exact, so the hits must equal brute-force top-k
    * over the sealed ∪ tail union — which the oracle recomputes. Ties
    * (each tail vector duplicates a sealed one) break by pk ascending on
    * both sides.
    */
  def interimSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    import graft.functions.Metric
    val path = s"${scratchDir("interim")}/data"
    val emb = t(s, dir, "embeddings")
    emb.select(col("vec_id"), col("embedding"), lit(1L).as("_ts"))
      .write.mode("overwrite").parquet(path)
    val c = Collection.open(s,
      CollectionSchema(pkField = "vec_id", vectorFields = Map("embedding" -> 0)), path)
    c.createIndex("embedding", nlist = 8, trainSample = 2000)
    c.insert(emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    c.searchIndexed("embedding", qs, k = 10, nprobe = 8,
        metric = Metric.L2, roundTo = Some(4))
      .select(col("qid"), col("rank"), col("_score").as("score"), col("vec_id"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Partial-update array field ops (FieldOp.array_append /
    * array_remove, test_milvus_client_partial_update_array_op.py): base
    * rows carry each user's pre-cutoff event types twice; one upsert per
    * user APPENDS their post-cutoff types to `tags` and REMOVES
    * click/error from `kept` — both resolved by the one-join LWW merge.
    */
  def upsertArrayOps(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Mvcc
    val cutoffNs = 1705708800000000000L // 2024-01-20 UTC (ts reads as long nanos)
    val ev = t(s, dir, "events")
    val pre = ev.filter(col("ts") <= cutoffNs).groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("event_type"))).as("t"))
    val post = ev.filter(col("ts") > cutoffNs).groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("event_type"))).as("t"))
    val base = pre.select(col("user_id"), lit(1L).as("_v"),
      col("t").as("tags"), col("t").as("kept"))
    val updates = post.select(col("user_id"), lit(2L).as("_v"),
      col("t").as("tags"), array(lit("click"), lit("error")).as("kept"))
    Mvcc.partialUpsertOps(base, updates, "user_id", "_v", "user_id",
        Map("tags" -> Mvcc.ArrayAppend, "kept" -> Mvcc.ArrayRemove))
      .select(col("user_id"), array_join(col("tags"), ",").as("tags"),
        array_join(col("kept"), ",").as("kept"))
      .orderBy(col("user_id"))
  }

  /** Binlog-format bulk import end-to-end (reference
    * `internal/util/importutilv2/binlog/reader.go` + the v1 event
    * layout of `internal/storage/binlog_writer.go`): 4000 event rows
    * split across four binlog SEGMENTS (one insert-log file per field,
    * little-endian magic/descriptor/event framing, zstd parquet
    * payloads), each segment carrying a delta-log of tombstoned pks
    * (value < 10). The import reads one task per segment, zips the
    * field columns positionally, masks the delta-log, and the
    * aggregate must equal DuckDB over the logically-surviving rows.
    */
  def binlogImport(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Binlog
    val base = s"${scratchDir("binlog")}/segments"
    val ev = t(s, dir, "events").filter(col("event_id") < 4000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    (0 until 4).foreach { segNo =>
      val part = ev.filter(col("event_id") % 4 === segNo)
      Binlog.writeSegment(part, s"$base/seg-$segNo", collectionId = 1L,
        partitionId = 1L, segmentId = segNo.toLong, orderCol = "event_id",
        deletes = Some(part.filter(col("value") < 10).select(col("event_id"))))
    }
    Binlog.readSegments(s, base)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Capacity seal policy end-to-end (reference
    * `datacoord/segment_allocation_policy.go` sealL1SegmentByCapacity +
    * `tests/integration/sealpolicies`): five batches under a capacity
    * policy each auto-seal into their own `seg-N` parquet directory; a
    * sixth inserted after the policy is cleared stays growing. The read
    * must serve sealed ∪ growing transparently, and the segment count
    * proves the policy actually tripped per batch (a silent no-op
    * policy would read identically but leave zero segments).
    */
  def sealPolicyRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, SealPolicy}
    val segs = s"${scratchDir("seal")}/segs"
    val ev = t(s, dir, "events").filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.setSealPolicy(SealPolicy(path = segs, maxRows = 1))
    (0 until 5).foreach(b => c.insert(ev.filter(col("event_id") % 6 === b)))
    c.clearSealPolicy()
    c.insert(ev.filter(col("event_id") % 6 === 5)) // stays in the growing tail
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("n_segments", lit(c.sealedSegmentCount(segs).toLong))
      .orderBy(col("event_type"))
  }

  /** RBAC end-to-end (reference `impl.go` CreateRole/OperatePrivilege,
    * privilege groups in `pkg/util/constant.go`): a writer role loads
    * the data, a reader role (CollectionReadOnly) aggregates it —
    * phase 1. Phase 2 revokes the reader's grant mid-session: the same
    * query must now throw, recorded as a `denied` marker row the
    * oracle pins. Proves grants gate operations and revocation takes
    * effect immediately, not at next session.
    */
  def rbacRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema, Rbac, Rls}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val reg = new Rbac.Registry
    reg.createRole("reader"); reg.createRole("writer")
    reg.addUserToRole("w", "writer"); reg.addUserToRole("r", "reader")
    reg.grant("writer", "CollectionReadWrite", "events")
    reg.grant("reader", "CollectionReadOnly", "events")
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.setUser(Rls.UserContext("w"))
    c.enableRbac(reg, "events")
    c.insert(ev.filter(col("event_id") < 2500))
    c.setUser(Rls.UserContext("r"))
    val phase1 = c.query("", Seq("event_type", "value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("phase", lit(1L))
    val p1 = phase1.localCheckpoint(true) // evaluate UNDER the live grant
    reg.revoke("reader", "CollectionReadOnly", "events")
    val denied =
      try { c.count(); "unexpected-allow" }
      catch { case _: SecurityException => "denied" }
    import s.implicits._
    val phase2 = Seq((denied, 0L, 0.0, 2L))
      .toDF("event_type", "cnt", "sum_value", "phase")
    p1.unionByName(phase2).orderBy(col("phase"), col("event_type"))
  }

  /** Mutable columns under oracle (reference
    * 20260709-mutable-columns.md — in-place partial update via
    * merge-on-read patches): two overlapping value patches (LWW among
    * patches), a second-field patch, and a later full-row upsert that
    * supersedes older patches on its pks; the aggregate over the final
    * view must equal DuckDB applying the same overlay as CASE
    * expressions. Proves patch precedence (later patch > earlier patch;
    * row version > older patch) end to end through the facade read path.
    */
  def mutableColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 3000)
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.insert(ev)
    c.setField("value", ev.filter(col("event_id") < 1000)
      .select(col("event_id"), lit(111.0).as("value")))
    c.setField("value", ev.filter(col("event_id") < 250)
      .select(col("event_id"), (col("event_id") * 0.5).as("value")))
    c.setField("event_type",
      ev.filter(col("event_id") >= 500 && col("event_id") < 1500)
        .select(col("event_id"), lit("patched").as("event_type")))
    c.upsert(ev.filter(col("event_id") < 100).withColumn("value", lit(-1.0)))
    c.query("", Seq("event_type", "value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Three-valued logic through the compiled filter language (reference
    * test_milvus_client_three_valued_logic.py — NULL propagation under
    * NOT/AND/OR, De Morgan, double/triple negation, NOT(IS NOT NULL)):
    * a nullable fixture inserted through the facade, one marker row per
    * predicate with the matched id set; the oracle evaluates the SAME
    * predicates in SQL over the same VALUES rows — pinning the expr
    * compiler's 3VL to the SQL standard's.
    */
  def threeValued(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    import s.implicits._
    val c = Collection.create(s, CollectionSchema(pkField = "pk"))
    c.insert(Seq(
      (1L, Option(10L), Option("x")),
      (2L, Option.empty[Long], Option("y")),
      (3L, Option(5L), Option.empty[String]),
      (4L, Option.empty[Long], Option.empty[String]),
      (5L, Option(7L), Option("x"))).toDF("pk", "a", "b"))
    val predicates = Seq(
      "a_is_null" -> "a is null",
      "not_is_not_null" -> "not (a is not null)",
      "double_not" -> "not (not (a is null))",
      "gt" -> "a > 6",
      "not_gt" -> "not (a > 6)",
      "and_value" -> """a > 6 and b == "x"""",
      "or_value" -> """a > 6 or b == "y"""",
      "demorgan_not_and" -> """not (a > 6 and b == "x")""",
      "demorgan_not_or" -> """not (a > 6 or b == "y")""",
      "and_null_fields" -> "a is null and b is null",
      "or_null_fields" -> "a is null or b is null")
    predicates.map { case (label, expr) =>
      val ids = c.query(expr, Seq("pk")).select(col("pk")).as[Long]
        .collect().sorted.mkString(",")
      (label, ids)
    }.toDF("predicate", "ids").orderBy(col("predicate"))
  }

  /** Credential lifecycle under oracle (reference impl.go
    * CreateCredential / UpdateCredential / DeleteCredential /
    * ListCredUsers; PBKDF2 digests in Rbac.Registry): every transition's
    * observable outcome — verify true/false, update-requires-old,
    * duplicate-create rejection, delete effect, ListCredUsers — emitted
    * as deterministic marker rows and pinned against a VALUES oracle
    * (the q_load_state pattern for pure-metadata RPCs).
    */
  def credentials(s: SparkSession, dir: String): DataFrame = {
    import graft.Rbac
    val reg = new Rbac.Registry
    reg.createCredential("alice", "secret1")
    reg.createCredential("bob", "hunter2")
    reg.createCredential("carol", "pw3")
    val dupRejected =
      try { reg.createCredential("alice", "again"); "unexpected-allow" }
      catch { case _: IllegalArgumentException => "rejected" }
    val wrongOldRejected =
      try { reg.updateCredential("bob", "wrong", "hunter3"); "unexpected-allow" }
      catch { case _: IllegalArgumentException => "rejected" }
    reg.updateCredential("bob", "hunter2", "hunter3")
    reg.deleteCredential("carol")
    import s.implicits._
    Seq(
      ("create_dup_alice", dupRejected),
      ("delete_carol_verify", reg.verifyCredential("carol", "pw3").toString),
      ("list_users", reg.listCredUsers.mkString(",")),
      ("update_bob_wrong_old", wrongOldRejected),
      ("verify_alice_bad", reg.verifyCredential("alice", "nope").toString),
      ("verify_alice_good", reg.verifyCredential("alice", "secret1").toString),
      ("verify_bob_new", reg.verifyCredential("bob", "hunter3").toString),
      ("verify_bob_old", reg.verifyCredential("bob", "hunter2").toString))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** CalcDistance (reference: impl.go CalcDistance — pairwise distances
    * between two request-sized vector sets, no collection involved).
    * The vectors come from the embeddings table so the oracle recomputes
    * the same squared-L2 matrix in SQL.
    */
  def calcDistanceQ(s: SparkSession, dir: String): DataFrame = {
    import graft.Collection
    import graft.functions.Metric
    val rows = t(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0)) // request-sized: 8 vectors
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    Collection.calcDistance(s, vecs.take(4).toSeq, vecs.drop(4).toSeq, Metric.L2)
      .select(col("left_idx"), col("right_idx"),
        round(col("distance"), 4).as("distance"))
      .orderBy(col("left_idx"), col("right_idx"))
  }

  /** Segment/flush/compaction introspection end-to-end (reference:
    * impl.go GetQuerySegmentInfo / GetFlushState / ManualCompaction /
    * GetCompactionState): two flushed segments report their raw rows
    * and states, the flush state flips with the growing tail, and a
    * manual compaction folds tombstones into one segment with a
    * Completed state record. Marker rows pin every step against a
    * VALUES oracle (the q_credentials device).
    */
  def segmentIntrospection(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    // bounded to event_id < 1000 — present at EVERY scale factor, so
    // the fixture (and its VALUES oracle) is sf-independent
    val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    val base = scratchDir("seginfo")
    c.insert(ev.filter(col("event_id") < 500))
    c.flush(s"$base/seg1")
    val flushedAfterSeal = c.getFlushState()
    c.insert(ev.filter(col("event_id") >= 500 && col("event_id") < 1000))
    val flushStateGrowing = c.getFlushState()
    val infoGrowing = c.getQuerySegmentInfo
    c.flush(s"$base/seg2")
    val two = c.getQuerySegmentInfo
    c.deletePks((0L until 100L).map(_.asInstanceOf[Any]))
    val compId = c.manualCompaction(s"$base/compact")
    val st = c.getCompactionState(compId)
    val after = c.getQuerySegmentInfo
    val badId =
      try { c.getCompactionState(compId + 999L); "unexpected-found" }
      catch { case _: NoSuchElementException => "rejected" }
    import s.implicits._
    Seq(
      ("compaction_state", s"${st.state}:${st.segmentsBefore}->${st.segmentsAfter}"),
      ("compaction_unknown_id", badId),
      ("flushstate_growing", flushStateGrowing.toString),
      ("flushstate_sealed", flushedAfterSeal.toString),
      ("growing_entry", infoGrowing.map(i => s"${i.state}:${i.rows}").mkString(",")),
      ("postcompact", after.map(i => s"${i.state}:${i.rows}:${i.residency}").mkString(",")),
      ("two_segments", two.map(i => s"${i.state}:${i.rows}").mkString(",")))
      .toDF("step", "result").orderBy(col("step"))
  }

  /** Named partitions end-to-end (reference `impl.go` CreatePartition /
    * DropPartition; Search/Query with partition_names): events split
    * into `hot` / `cold` partitions plus untagged default-partition
    * rows; phase 1 queries scoped to `hot` only, phase 2 reads
    * everything AFTER dropPartition("cold") — cold's rows must be gone,
    * hot + default must remain. The oracle recomputes both phases from
    * the driving predicates.
    */
  def partitionNamesRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.createPartition("hot")
    c.createPartition("cold")
    c.insertInto("hot", ev.filter(col("event_id") < 1500))
    c.insertInto("cold", ev.filter(col("event_id") >= 1500 && col("event_id") < 3000))
    c.insert(ev.filter(col("event_id") >= 3000 && col("event_id") < 3500)) // _default
    val scoped = c.query("", Seq("event_type", "value"),
        partitionNames = Seq("hot"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("phase", lit(1L))
    c.dropPartition("cold")
    val after = c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("phase", lit(2L))
    scoped.unionByName(after).orderBy(col("phase"), col("event_type"))
  }

  /** Zero-downtime alias swap (reference `impl.go`
    * CreateAlias/AlterAlias): clients address the alias; phase 1 reads
    * v1 through it, the alias is re-pointed, phase 2 reads v2 — and the
    * phase-1 plan, resolved before the swap, is unaffected by it
    * (resolution happens at call time, exactly the reference's
    * in-flight-reader contract).
    */
  def aliasSwap(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val v1 = Collection.create(s, CollectionSchema(pkField = "event_id"))
    v1.insert(ev.filter(col("event_id") < 2000))
    val v2 = Collection.create(s, CollectionSchema(pkField = "event_id"))
    v2.insert(ev.filter(col("event_id") >= 2000 && col("event_id") < 4000))
    val name = s"prod_${System.nanoTime()}" // registry is JVM-global; stay unique
    Collection.createAlias(name, v1)
    def readThrough(phase: Long): DataFrame =
      Collection.resolve(name).readView() // resolve binds NOW, not at execute
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("phase", lit(phase))
    val before = readThrough(1L)
    Collection.alterAlias(name, v2)
    val after = readThrough(2L)
    Collection.dropAlias(name)
    before.unionByName(after).orderBy(col("phase"), col("event_type"))
  }

  /** Nullable fields + default_value on the insert path (reference:
    * FieldSchema nullable/default_value `Types.h:114`,
    * tests/integration/null_data): batch A inserts explicit nulls into
    * the nullable `value` field (one per error row); batch B omits
    * `event_type` entirely — the schema default "unknown" fills it.
    * Comparison filters exclude null rows, `is null` selects exactly
    * them (counted through the expression language), and aggregates
    * skip nulls (`cnt_val` vs `cnt`). The oracle recomputes the fill +
    * null semantics in SQL.
    */
  def nullableField(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
    val c = Collection.create(s, CollectionSchema(pkField = "event_id",
      fieldDefaults = Map("event_type" -> "unknown"),
      nonNullable = Set("user_id")))
    c.insert(ev.filter(col("event_id") < 1500)
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")).as("value")))
    c.insert(ev.filter(col("event_id") >= 1500 && col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("value"))) // no event_type
    val nNull = c.query("value is null", Seq("event_id")).count()
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), count(col("value")).as("cnt_val"),
        round(coalesce(sum(col("value")), lit(0.0)), 2).as("sum_value"))
      .withColumn("n_null", lit(nNull))
      .orderBy(col("event_type"))
  }

  /** GetCollectionStatistics + DescribeIndex stats end-to-end (reference
    * `impl.go GetCollectionStatistics` → row_count; `DescribeIndex` →
    * `indexpb.IndexInfo{IndexedRows, TotalRows, PendingIndexRows}`;
    * integration suite tests/integration/indexstat). Batch 1 is indexed,
    * batch 2 lands after the build (pending), then a delete punches
    * tombstones into the indexed half: indexed_rows stays at the
    * persisted build size, pending counts only the post-build tail, and
    * total/row_count reflect the visible view. The oracle recomputes
    * every counter from the driving predicates.
    */
  def collectionStats(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val c = Collection.create(s,
      CollectionSchema(pkField = "vec_id", vectorFields = Map("embedding" -> 0)))
    c.insert(emb.filter(col("vec_id") < 300))
    c.createIndex("embedding", nlist = 8, trainSample = 2000)
    c.insert(emb.filter(col("vec_id") >= 300 && col("vec_id") < 450))
    c.delete("(vec_id % 7) == 0 and vec_id < 300")
    val d = c.describeIndex("embedding")
    val rowCount = c.statistics("row_count").toLong
    import s.implicits._
    Seq((d.indexType, d.nlist, d.indexedRows, d.pendingRows, d.totalRows, rowCount))
      .toDF("index_type", "nlist", "indexed_rows", "pending_rows", "total_rows",
        "row_count")
  }

  /** Database namespaces end-to-end (reference `impl.go` CreateDatabase /
    * ListDatabases / DropDatabase; rootcoord's two-level db.collection
    * namespace): two tenant databases each register name-addressed
    * collections, phase 1 lists and counts them through the registry,
    * phase 2 re-lists after a DropCollection — the dropped name must be
    * gone while every other (db, collection) is untouched. Registry
    * names carry a per-run nonce (the registry is JVM-global); the
    * emitted rows use fixed tenant labels so the result is deterministic.
    */
  def databaseNs(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val nonce = System.nanoTime()
    val dbA = s"tenant_a_$nonce"
    val dbB = s"tenant_b_$nonce"
    Collection.createDatabase(dbA)
    Collection.createDatabase(dbB)
    val labels = Map(dbA -> "tenant_a", dbB -> "tenant_b")
    def mk(df: DataFrame, pk: String): Collection = {
      val c = Collection.create(s, CollectionSchema(pkField = pk))
      c.insert(df)
      c
    }
    Collection.registerCollection("clicks",
      mk(ev.filter(col("event_type") === "click" && col("event_id") < 4000), "event_id"), dbA)
    Collection.registerCollection("errors",
      mk(ev.filter(col("event_type") === "error" && col("event_id") < 4000), "event_id"), dbA)
    Collection.registerCollection("docs_en",
      mk(docs.filter(col("lang") === "en"), "doc_id"), dbB)
    import s.implicits._
    def listing(phase: Long): DataFrame =
      Seq(dbA, dbB).flatMap { db =>
        Collection.listCollections(db).map { name =>
          (phase, labels(db), name, Collection.getCollection(name, db).count())
        }
      }.toDF("phase", "db", "coll", "cnt")
    val p1 = listing(1L)
    Collection.dropCollection("errors", dbA)
    val p2 = listing(2L)
    // registry hygiene: the nonce databases are transient — empty and drop
    Seq(dbA, dbB).foreach { db =>
      Collection.listCollections(db).foreach(Collection.dropCollection(_, db))
      Collection.dropDatabase(db)
    }
    p1.unionByName(p2).orderBy(col("phase"), col("db"), col("coll"))
  }

  /** Drop-collection-field end-to-end (reference
    * 20260413-drop-collection-field-design.md, AlterCollectionSchema
    * drop path): phase 1 reads after `value` is dropped — the column is
    * gone (value_present pins it) and aggregates run without it; the
    * field is then RE-ADDED with default -1.0 and a second batch
    * inserted. Phase 2's sums prove the no-resurrection contract: every
    * pre-drop row serves the default, never its original value, while
    * the post-re-add batch serves real values. The oracle recomputes
    * both phases from the driving predicates.
    */
  def dropFieldRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.insert(ev.filter(col("event_id") < 2000))
    c.dropField("value")
    val p1 = c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), lit(0.0).as("sum_value"))
      .withColumn("value_present", lit(c.readView().columns.contains("value")))
      .withColumn("phase", lit(1L))
      .localCheckpoint(true) // evaluate while the field is dropped
    c.addCollectionField("value", -1.0)
    c.insert(ev.filter(col("event_id") >= 2000 && col("event_id") < 3000))
    val p2 = c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("value_present", lit(c.readView().columns.contains("value")))
      .withColumn("phase", lit(2L))
    p1.unionByName(p2).orderBy(col("phase"), col("event_type"))
  }

  /** External-table refresh end-to-end (reference
    * 20260526-milvus-table-external-source.md +
    * 20260526-external_table_add_column_refresh.md): fragment 1 is
    * snapshotted at create; fragment 2 lands on disk AFTER the snapshot
    * and must stay invisible to phase 1 (the manifest contract — a live
    * path read would leak it). Refresh diffs the directory (kept=1,
    * added=1 — pinned in the output) and additively maps a new
    * collection field onto an existing external column, so phase 2
    * serves both fragments with real values for the new field and no
    * data was rewritten. The oracle recomputes both phases.
    */
  def externalRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ExternalTable
    val base = scratchDir("extref")
    val ev = t(s, dir, "events")
      .select(col("event_id").as("id"), col("event_type").as("etype"),
        col("value").as("val"))
    ev.filter(col("id") < 2000).write.mode("overwrite").parquet(s"$base/frag1")
    val et = ExternalTable.create(s, "parquet", base,
      Map("event_id" -> "id", "event_type" -> "etype"))
    ev.filter(col("id") >= 2000 && col("id") < 3000)
      .write.mode("overwrite").parquet(s"$base/frag2")
    val p1 = et.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), lit(0.0).as("sum_value"))
      .withColumn("phase", lit(1L))
      .localCheckpoint(true) // evaluate against the pre-refresh snapshot
    val stats = et.refresh(addMappings = Map("value" -> "val"))
    val p2 = et.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("phase", lit(2L))
    p1.unionByName(p2)
      .withColumn("kept", lit(stats.kept.toLong))
      .withColumn("added", lit(stats.added.toLong))
      .orderBy(col("phase"), col("event_type"))
  }

  /** External-table function outputs (reference:
    * 20260521-external-table-function-output.md — BM25/MinHash/
    * TextEmbedding output fields on external collections: source
    * columns referenced in place, derived columns engine-computed, new
    * fragments pick the functions up on refresh). The BM25 tf map's
    * SIZE equals the document's distinct-token count, which the oracle
    * recomputes from the raw text — pinning that the function ran over
    * the mapped external column on every fragment, including the
    * post-refresh one.
    */
  def externalFunction(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.IngestFunctions.{Bm25Function, MinHashFunction}
    import graft.sources.ExternalTable
    val base = scratchDir("extfn")
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"))
    docs.filter(col("id") < 200).write.mode("overwrite").parquet(s"$base/frag1")
    val et = ExternalTable.create(s, "parquet", base,
      Map("doc_id" -> "id", "text" -> "body"),
      functions = Seq(Bm25Function("text", "tf"),
        MinHashFunction("text", "sig", numHashes = 16)))
    docs.filter(col("id") >= 200 && col("id") < 300)
      .write.mode("overwrite").parquet(s"$base/frag2")
    val p1 = et.read()
      .select(col("doc_id"), size(map_keys(col("tf"))).cast("long").as("n_terms"),
        size(col("sig")).cast("long").as("sig_len"))
      .withColumn("phase", lit(1L))
      .localCheckpoint(true) // pre-refresh snapshot
    et.refresh()
    val p2 = et.read()
      .select(col("doc_id"), size(map_keys(col("tf"))).cast("long").as("n_terms"),
        size(col("sig")).cast("long").as("sig_len"))
      .withColumn("phase", lit(2L))
    p1.unionByName(p2).orderBy(col("phase"), col("doc_id"))
  }

  /** Custom per-key streaming state end-to-end
    * (KeyValueGroupedDataset.mapGroupsWithState — the extension point
    * the reference lacks natively, SURVEY §2.7): per-user running event
    * counts accumulate across two micro-batches through
    * [[Streaming.sessionCounts]] state; the LAST update per user must
    * equal the user's total event count, which the oracle recomputes as
    * a plain GROUP BY. Update-mode sink, so intermediate counts also
    * land — the query takes max(count) per key (counts only grow).
    */
  def sessionState(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val rows = t(s, dir, "events").filter(col("event_id") < 3000)
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, Long)].collect().toSeq
    // stateful stream: state-sized shuffle partitions (Streaming.stateScoped);
    // the memory sink registers on the session that runs the query
    val scoped = Streaming.stateScoped(s)
    implicit val sqlCtx = scoped.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = Streaming.sessionCounts(input.toDS())
    val sink = s"sess_${System.nanoTime()}"
    val q = out.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("update").start()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    input.addData(b1.map(r => (r._2, r._3)))
    q.processAllAvailable()
    input.addData(b2.map(r => (r._2, r._3)))
    q.processAllAvailable()
    q.stop()
    scoped.table(sink)
      .groupBy(col("key").as("user_id"))
      .agg(max(col("count")).as("n_events"))
      .select(col("user_id"), col("n_events"))
      .orderBy(col("user_id"))
  }

  /** Growing-segment union read through the live facade (SURVEY §1.1:
    * sealed ∪ growing served transparently): a batch insert seals to
    * parquet via flush, then [[graft.Collection.attachStream]] feeds the
    * growing tail from a live MemoryStream — plus one more DIRECT insert
    * racing the stream's view. The final read must serve sealed +
    * streamed + direct rows as one MVCC view; the oracle recomputes the
    * union from the driving predicates.
    */
  def streamUnion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val base = scratchDir("sunion")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.insert(ev.filter(col("event_id") < 1500))
    c.flush(s"$base/segs") // sealed half
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    val sq = c.attachStream(
      input.toDF().toDF("event_id", "user_id", "event_type", "value"), s"$base/ck")
    val streamed = ev.filter(col("event_id") >= 1500 && col("event_id") < 2500)
      .as[(Long, Long, String, Double)].collect().toSeq
    input.addData(streamed)
    sq.processAllAvailable()
    c.insert(ev.filter(col("event_id") >= 2500 && col("event_id") < 3000)) // direct
    input.addData(streamed.take(50)) // replayed delivery: upsert keeps one
    sq.processAllAvailable()
    sq.stop()
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** 2PC import (reference datacoord/services.go:2981-3042: a staged
    * import is INVISIBLE until CommitImport; AbortImport rolls the
    * uncommitted job back): two staged slices of `events`, one
    * committed and one aborted — the visible aggregate must equal the
    * committed slice exactly, and the pre-commit count pins the
    * invisibility window.
    */
  def import2pc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val base = scratchDir("imp2pc")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") < 1500).write.parquet(s"$base/commit")
    ev.filter(col("event_id") >= 1500 && col("event_id") < 3000)
      .write.parquet(s"$base/abort")
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.insert(Seq((-1L, "__seed", 0.0)).toDF("event_id", "event_type", "value"))
    val idA = c.bulkImportUncommitted("parquet", s"$base/commit")
    val idB = c.bulkImportUncommitted("parquet", s"$base/abort")
    val staged = c.count() // both jobs staged: only the seed is visible
    c.commitImport(idA)
    c.abortImport(idB)
    c.readView()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .unionByName(Seq(("__staged_visible", staged, -1.0))
        .toDF("event_type", "cnt", "sum_value"))
      .orderBy(col("event_type"))
  }

  /** csv + json bulk import round trip (reference
    * importutilv2/{csv,json} readers): the same event slice exports to
    * both wire formats and re-imports through the distributed readers
    * (csv with header + schema inference, json lines); per-format
    * aggregates must equal the source — numeric types must survive both
    * serializations. The oracle recomputes from the source predicate.
    */
  def importFormats(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("impfmt")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 2000)
    ev.write.option("header", "true").csv(s"$base/csv")
    ev.write.json(s"$base/json")
    def agg(fmt: String): DataFrame =
      BulkImport.read(s, fmt, s"$base/$fmt")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("fmt", lit(fmt))
    agg("csv").unionByName(agg("json"))
      .orderBy(col("fmt"), col("event_type"))
  }

  /** Load / Release / GetLoadState end-to-end (reference impl.go
    * LoadCollection → sealed layout pinned resident, ReleaseCollection
    * → on-disk only): the sealed half is flushed, then queried across
    * the NotLoad → Loaded → NotLoad transitions — the load state must
    * track exactly and counts must be identical in every state (load is
    * a residency change, never a visibility change). The oracle pins
    * the state strings and recomputes the counts.
    */
  def loadStateRead(s: SparkSession, dir: String): DataFrame = {
    import graft.{Collection, CollectionSchema}
    import s.implicits._
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val c = Collection.create(s, CollectionSchema(pkField = "event_id"))
    c.insert(ev.filter(col("event_id") < 2000))
    c.flush(s"${scratchDir("loadst")}/segs") // sealed half to pin
    def phase(p: Long): DataFrame =
      Seq((p, c.loadState, c.count())).toDF("phase", "state", "cnt")
    val p1 = phase(1L)
    c.load()
    val p2 = phase(2L)
    c.release()
    val p3 = phase(3L)
    p1.unionByName(p2).unionByName(p3).orderBy(col("phase"))
  }

  /** Multi-tenant namespaces (reference 20260610 shard-split
    * prerequisite: enable_namespace schema flag + `namespace.mode`
    * property + CheckNamespace — common.go:62-67,689-723,961-971,
    * proxy/util.go:2826-2890). Both carrier modes are exercised against
    * the same tenant partitioning of `documents` (tenant = doc_id % 3):
    * per-tenant counts, filter composition within a tenant, cross-tenant
    * isolation (zero leakage), and the named rejection contract.
    */
  def namespaceTenancy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val docs = t(s, dir, "documents")
      .withColumn("tenant", concat(lit("t"), col("doc_id") % 3))
    def tenantRows(n: Int) = docs.filter(col("doc_id") % 3 === n).drop("tenant")

    // key mode (default): hidden $namespace_id column
    val ck = Collection.create(s, CollectionSchema(pkField = "doc_id",
      enableNamespace = true))
    (0 to 2).foreach(n => ck.insert(tenantRows(n), Some(s"t$n")))
    // partition mode: the namespace IS a named partition
    val cp = Collection.create(s, CollectionSchema(pkField = "doc_id",
      enableNamespace = true))
    cp.alterCollection(Map(Collection.NamespaceModeKey ->
      Collection.NamespaceModePartition))
    (0 to 2).foreach(n => cp.insert(tenantRows(n), Some(s"t$n")))

    def err(f: => Any): Long =
      try { f; Long.MaxValue } // a silent accept mismatches the oracle
      catch { case _: IllegalArgumentException => -1L }

    val rows: Seq[(String, Long)] = Seq(
      "k_count_t0" -> ck.count("", namespace = Some("t0")),
      "k_count_t1" -> ck.count("", namespace = Some("t1")),
      "k_filter_scoped" ->
        ck.count("n_chars > 400", namespace = Some("t2")),
      // isolation: a tenant-anchored predicate never leaks cross-tenant
      "k_isolation" ->
        ck.count("doc_id % 3 == 0", namespace = Some("t1")),
      "k_query_rows" -> ck.query("n_chars > 400", Seq("doc_id"),
        namespace = Some("t0")).count(),
      "p_count_t0" -> cp.count("", namespace = Some("t0")),
      "p_filter_scoped" ->
        cp.count("n_chars > 400", namespace = Some("t2")),
      "p_isolation" ->
        cp.count("doc_id % 3 == 0", namespace = Some("t1")),
      // CheckNamespace is strict both ways
      "e_missing_ns" -> err(ck.count("")),
      "e_ns_on_disabled" -> {
        val plain = Collection.create(s, CollectionSchema(pkField = "doc_id"))
        plain.insert(tenantRows(0))
        err(plain.count("", namespace = Some("t0")))
      },
      "e_missing_ns_insert" -> err(ck.insert(tenantRows(0))),
      // partition mode: caller partition list must match the namespace
      "e_partition_mismatch" -> err(cp.query("", Seq("doc_id"),
        partitionNames = Seq("t1"), namespace = Some("t0")).count()),
      // property contract: bad value, case-variant key
      "e_bad_mode" ->
        err(ck.alterCollection(Map("namespace.mode" -> "shard"))),
      "e_bad_mode_key" ->
        err(ck.alterCollection(Map("Namespace.Mode" -> "partition"))))
    rows.toDF("case_id", "cnt").orderBy(col("case_id"))
  }

  /** Namespace × lifecycle interactions (reference: EVERY write/read
    * preExecute runs the namespace resolution — addNamespaceData
    * util.go:2872+, task_upsert.go:1400,1583, task_delete.go:138): the
    * machinery most likely to leak across tenants, each pinned
    * two-sided under both carrier modes — upsert LWW, partial upsert
    * carry-forward, pk-list delete scoping, TTL expiry inside a tenant,
    * the compaction tombstone fold, iterator pagination, and numeric
    * tenant ids surviving a flush (hive partition values stay strings).
    */
  def namespaceLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val docs = t(s, dir, "documents")
    def tenantRows(n: Int) = docs.filter(col("doc_id") % 3 === n)
    def freshKey(): Collection = {
      val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
        enableNamespace = true))
      (0 to 2).foreach(n => c.insert(tenantRows(n), Some(s"t$n")))
      c
    }
    def freshPart(): Collection = {
      val c = Collection.create(s, CollectionSchema(pkField = "doc_id",
        enableNamespace = true))
      c.alterCollection(Map(Collection.NamespaceModeKey ->
        Collection.NamespaceModePartition))
      (0 to 2).foreach(n => c.insert(tenantRows(n), Some(s"t$n")))
      c
    }
    def err(f: => Any): Long =
      try { f; Long.MaxValue }
      catch { case _: IllegalArgumentException => -1L }

    // upsert LWW + pk-delete scoping + iterators, both modes
    def writePaths(c: Collection, tag: String): Seq[(String, Long)] = {
      c.upsert(tenantRows(0).filter(col("doc_id") < 30)
        .withColumn("n_chars", lit(987654L)), Some("t0"))
      // mixed pk list under t2: only t2's pks (2,5,8) may die; 0 and 3
      // belong to t0 and must survive the tenant-scoped tombstones
      c.deletePks(Seq(0L, 2L, 3L, 5L, 8L), Some("t2"))
      Seq(
        s"${tag}_upsert_lww" -> c.count("n_chars == 987654", namespace = Some("t0")),
        s"${tag}_upsert_isolated" -> c.count("n_chars == 987654", namespace = Some("t1")),
        s"${tag}_deletepks_scoped" -> c.count("", namespace = Some("t2")),
        s"${tag}_deletepks_isolated" ->
          c.count("doc_id == 0 or doc_id == 3", namespace = Some("t0")),
        s"${tag}_iter_rows" -> c.queryIterator("", Seq("doc_id"), batch = 200,
          namespace = Some("t1")).count())
    }
    val ck = freshKey()
    val cp = freshPart()
    val shared = writePaths(ck, "k") ++ writePaths(cp, "p")

    // partial upsert: provided field replaces, missing fields carry
    // forward from the TENANT's version (never blanked by the hidden
    // column plumbing); runs on the key-mode collection
    ck.upsertPartial(
      tenantRows(1).filter(col("doc_id") < 30)
        .select(col("doc_id"), lit("zz").as("lang")),
      namespace = Some("t1"))
    val partial = Seq(
      "k_partial_upsert" -> ck.count("lang == \"zz\"", namespace = Some("t1")),
      "k_partial_carry" ->
        ck.count("lang == \"zz\" and n_chars > 0", namespace = Some("t1")))

    // TTL expires within the tenant read: two tick-stamped batches,
    // ttl = 1 tick keeps only the second
    val ct = Collection.create(s, CollectionSchema(pkField = "doc_id",
      enableNamespace = true))
    ct.insert(tenantRows(0).filter(col("doc_id") < 150), Some("t0"))
    ct.insert(tenantRows(0).filter(col("doc_id") >= 150), Some("t0"))
    ct.alterCollection(Map("collection.ttl" -> "1"))
    val ttl = Seq("k_ttl" -> ct.count("", namespace = Some("t0")))

    // CheckNamespace is strict on the write verbs too
    val rejects = Seq(
      "e_upsert_missing_ns" ->
        err(ck.upsert(tenantRows(0).filter(col("doc_id") < 3))),
      "e_deletepks_missing_ns" -> err(ck.deletePks(Seq(1L))))

    (shared ++ partial ++ ttl ++ rejects)
      .toDF("case_id", "cnt").orderBy(col("case_id"))
  }

  /** Namespace × flush/compaction interactions — the DISK half of the
    * namespace lifecycle battery, split out so the in-memory battery
    * above stays cheap (this one builds two collections and pays two
    * hive-layout flushes plus a compaction run): the tenant-scoped
    * tombstone fold must not bleed across tenants, and a NUMERIC tenant
    * id (validatePartitionTag accepts a leading digit, util.go:353-358)
    * must survive the hive-layout flush as a STRING partition value.
    */
  def namespaceCompaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.{Collection, CollectionSchema}
    val docs = t(s, dir, "documents")
    def tenantRows(n: Int) = docs.filter(col("doc_id") % 3 === n)

    // compaction folds tenant-scoped tombstones without cross-tenant bleed
    val cc = Collection.create(s, CollectionSchema(pkField = "doc_id",
      enableNamespace = true))
    (0 to 2).foreach(n => cc.insert(tenantRows(n), Some(s"t$n")))
    cc.delete("doc_id < 9", namespace = Some("t0"))
    val ccBase = scratchDir("nscompact")
    cc.flush(s"$ccBase/segs")
    cc.compact(s"$ccBase/compacted")
    val fold = Seq(
      "k_compact_fold" -> cc.count("", namespace = Some("t0")),
      "k_compact_isolated" -> cc.count("", namespace = Some("t1")))

    // numeric tenant ids: usable in partition mode, and the partition
    // VALUE survives the hive-layout flush byte-exact
    val cn = Collection.create(s, CollectionSchema(pkField = "doc_id",
      enableNamespace = true))
    cn.alterCollection(Map(Collection.NamespaceModeKey ->
      Collection.NamespaceModePartition))
    cn.insert(tenantRows(0), Some("123"))
    val preFlush = cn.count("", namespace = Some("123"))
    cn.flush(s"$ccBase/numeric")
    val numeric = Seq(
      "p_numeric_tenant" -> preFlush,
      "p_numeric_tenant_flushed" -> cn.count("", namespace = Some("123")))

    (fold ++ numeric).toDF("case_id", "cnt").orderBy(col("case_id"))
  }

  private[graft] lazy val namespaceLifecycleOracle: String = {
    val t0 = "SELECT count(*) FROM documents WHERE doc_id % 3 = 0"
    val t1 = "SELECT count(*) FROM documents WHERE doc_id % 3 = 1"
    val t2 = "SELECT count(*) FROM documents WHERE doc_id % 3 = 2"
    def shared(tag: String) = Seq(
      s"${tag}_upsert_lww" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 0 AND doc_id < 30",
      s"${tag}_upsert_isolated" -> "SELECT 0",
      s"${tag}_deletepks_scoped" -> s"($t2) - 3",
      s"${tag}_deletepks_isolated" -> "SELECT 2",
      s"${tag}_iter_rows" -> s"($t1)")
    val accept = shared("k") ++ shared("p") ++ Seq(
      "k_partial_upsert" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 1 AND doc_id < 30",
      "k_partial_carry" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 1 AND doc_id < 30",
      "k_ttl" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 150")
    val reject = Seq("e_upsert_missing_ns", "e_deletepks_missing_ns")
    (accept.map { case (id, sql) =>
      s"SELECT '$id' AS case_id, CAST(($sql) AS BIGINT) AS cnt"
    } ++ reject.map(id =>
      s"SELECT '$id' AS case_id, CAST(-1 AS BIGINT) AS cnt"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY case_id")
  }

  private[graft] lazy val namespaceCompactionOracle: String = {
    val t0 = "SELECT count(*) FROM documents WHERE doc_id % 3 = 0"
    val t1 = "SELECT count(*) FROM documents WHERE doc_id % 3 = 1"
    Seq(
      "k_compact_fold" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 9",
      "k_compact_isolated" -> s"($t1)",
      "p_numeric_tenant" -> s"($t0)",
      "p_numeric_tenant_flushed" -> s"($t0)")
      .map { case (id, sql) =>
        s"SELECT '$id' AS case_id, CAST(($sql) AS BIGINT) AS cnt"
      }
      .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY case_id")
  }

  private[graft] lazy val namespaceTenancyOracle: String = {
    val accept = Seq(
      "k_count_t0" -> "SELECT count(*) FROM documents WHERE doc_id % 3 = 0",
      "k_count_t1" -> "SELECT count(*) FROM documents WHERE doc_id % 3 = 1",
      "k_filter_scoped" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 2 AND n_chars > 400",
      "k_isolation" -> "SELECT 0",
      "k_query_rows" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 0 AND n_chars > 400",
      "p_count_t0" -> "SELECT count(*) FROM documents WHERE doc_id % 3 = 0",
      "p_filter_scoped" ->
        "SELECT count(*) FROM documents WHERE doc_id % 3 = 2 AND n_chars > 400",
      "p_isolation" -> "SELECT 0")
    val reject = Seq("e_missing_ns", "e_ns_on_disabled", "e_missing_ns_insert",
      "e_partition_mismatch", "e_bad_mode", "e_bad_mode_key")
    (accept.map { case (id, sql) =>
      s"SELECT '$id' AS case_id, CAST(($sql) AS BIGINT) AS cnt"
    } ++ reject.map(id =>
      s"SELECT '$id' AS case_id, CAST(-1 AS BIGINT) AS cnt"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY case_id")
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_namespace" -> (namespaceTenancy _),
    "q_namespace_lifecycle" -> (namespaceLifecycle _),
    "q_namespace_compaction" -> (namespaceCompaction _),
    "q_load_state" -> (loadStateRead _),
    "q_import_formats" -> (importFormats _),
    "q_import_2pc" -> (import2pc _),
    "q_stream_union" -> (streamUnion _),
    "q_session_state" -> (sessionState _),
    "q_external_refresh" -> (externalRefresh _),
    "q_drop_field" -> (dropFieldRead _),
    "q_collection_stats" -> (collectionStats _),
    "q_database_ns" -> (databaseNs _),
    "q_nullable_field" -> (nullableField _),
    "q_binlog_import" -> (binlogImport _),
    "q_partition_names" -> (partitionNamesRead _),
    "q_rbac_read" -> (rbacRead _),
    "q_credentials" -> (credentials _),
    "q_calc_distance" -> (calcDistanceQ _),
    "q_segment_info" -> (segmentIntrospection _),
    "q_force_merge" -> (forceMergeQ _),
    "q_partition_isolation" -> (partitionIsolation _),
    "q_load_partitions" -> (loadPartitionsQ _),
    "q_pk_pruned_lookup" -> (pkPrunedLookup _),
    "q_segment_mode_parity" -> (segmentModeParity _),
    "q_segment_stats" -> (segmentStatsQ _),
    "q_external_function" -> (externalFunction _),
    "q_mutable_column" -> (mutableColumn _),
    "q_three_valued" -> (threeValued _),
    "q_seal_policy" -> (sealPolicyRead _),
    "q_alias_swap" -> (aliasSwap _),
    "q_ttl_visibility" -> (ttlVisibility _),
    "q_rls_read" -> (rlsRead _),
    "q_truncate" -> (truncateCut _),
    "q_expr_cache" -> (exprCacheRead _),
    "q_interim_search" -> (interimSearch _),
    "q_snapshot_export" -> (snapshotExport _),
    "q_windowed_agg" -> (windowedAgg _),
    "q_cdc_replica" -> (cdcReplica _),
    "q_upsert_array_ops" -> (upsertArrayOps _),
    "q_collection_e2e" -> (collectionE2e _),
    "q_stream_ingest" -> (streamIngest _),
    "q_npy_roundtrip" -> (npyRoundtrip _),
    "q_add_field" -> (addField _),
    "q_partition_key" -> (partitionKey _),
    "q_partition_key_upsert" -> (partitionKeyUpsert _),
    "q_mv_search" -> (mvSearch _),
    "q_external_map" -> (externalMap _),
    "q_snapshot_read" -> (snapshotRead _),
    "q_lob_gc" -> (lobGc _),
    "q_text_lob" -> (textLob _),
    "q_text_lob_depth" -> (textLobDepth _),
    "q_lob_snapshot" -> (lobSnapshot _),
    "q_lob_restore" -> (lobRestore _),
    "q_retention_sweep" -> (retentionSweep _),
    "q_text_analyzer_match" -> (textAnalyzerMatch _)
  )

  /** DuckDB-side tokenizer identical to TextFunctions.tokenize (the
    * same expression TextQueries uses for the text oracles).
    */
  private val sqlToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private val textLobOracle =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 260),
       |grown AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || repeat(md5(text), 2100)
       |         ELSE text END AS text
       |  FROM base),
       |bounds AS (SELECT CAST(9000000 + i AS BIGINT) AS doc_id,
       |    substr(repeat(md5(CAST(9000000 + i AS VARCHAR)), 2049), 1, 65534 + i) AS text
       |  FROM (SELECT unnest([1, 2, 3]) AS i)),
       |ups AS (SELECT doc_id, 'upserted ' || repeat(md5(text || 'v2'), 2100) AS text
       |  FROM grown WHERE doc_id = 7),
       |final AS (SELECT doc_id, text FROM grown WHERE doc_id NOT IN (7, 14)
       |  UNION ALL SELECT doc_id, text FROM ups
       |  UNION ALL SELECT doc_id, text FROM bounds),
       |m0 AS (SELECT 'match_growing' AS section, doc_id AS id,
       |    CAST(strlen(text) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, md5(text) AS s
       |  FROM grown
       |  WHERE len(list_intersect($sqlToks, ['filter', 'window'])) >= 2),
       |m1 AS (SELECT 'match' AS section, doc_id AS id,
       |    CAST(strlen(text) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, md5(text) AS s
       |  FROM final
       |  WHERE len(list_intersect($sqlToks, ['filter', 'window'])) >= 2),
       |rb AS (SELECT CASE WHEN doc_id >= 9000000 THEN 'boundary'
       |              ELSE 'upsert' END AS section, doc_id AS id,
       |    CAST(strlen(text) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, md5(text) AS s
       |  FROM final WHERE doc_id = 7 OR doc_id >= 9000000),
       |nt AS (SELECT 'null_text' AS section, CAST(0 AS BIGINT) AS id,
       |    (SELECT count(*) FROM final WHERE text IS NULL) AS n,
       |    CAST(NULL AS DOUBLE) AS x, CAST(NULL AS VARCHAR) AS s),
       |gc AS (SELECT 'gc_live' AS section, CAST(0 AS BIGINT) AS id,
       |    (SELECT count(DISTINCT text) FROM final WHERE strlen(text) >= 65536) AS n,
       |    CAST(NULL AS DOUBLE) AS x, CAST(NULL AS VARCHAR) AS s
       |  UNION ALL
       |  SELECT 'gc_orphans', CAST(0 AS BIGINT),
       |    (SELECT count(DISTINCT text) FROM (
       |        SELECT text FROM grown WHERE strlen(text) >= 65536
       |        UNION SELECT text FROM bounds WHERE strlen(text) >= 65536
       |        UNION SELECT text FROM ups WHERE strlen(text) >= 65536) u)
       |    - (SELECT count(DISTINCT text) FROM final WHERE strlen(text) >= 65536),
       |    CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR))
       |SELECT * FROM (
       |  SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL
       |  SELECT * FROM rb UNION ALL SELECT * FROM nt UNION ALL
       |  SELECT * FROM gc)
       |ORDER BY section, id, n""".stripMargin

  /** Oracle for [[textLobDepth]]: the msm/template/BM25 depth sections
    * recomputed over the churned doc_id < 150 corpus (doc 7 upserted,
    * doc 14 deleted — the combined gate's churn shape).
    */
  private val textLobDepthOracle =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
       |grown0 AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || repeat(md5(text), 2100)
       |         ELSE text END AS text
       |  FROM base),
       |grown AS (SELECT doc_id,
       |    CASE WHEN doc_id = 7 THEN 'upserted ' || repeat(md5(text || 'v2'), 2100)
       |         ELSE text END AS text
       |  FROM grown0 WHERE doc_id <> 14),
       |toks AS (SELECT doc_id, $sqlToks AS t FROM grown),
       |dt AS (SELECT doc_id, len(t) * 1.0 AS dl, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) * 1.0 AS tf, any_value(dl) AS dl
       |       FROM dt GROUP BY doc_id, term),
       |stats AS (SELECT term, count(*) * 1.0 AS df FROM tf GROUP BY term),
       |g AS (SELECT count(*) * 1.0 AS n, avg(len(t) * 1.0) AS avgdl FROM toks),
       |q(term) AS (VALUES ('filter'), ('window'), ('stream')),
       |sc AS (SELECT tf.doc_id,
       |        sum(ln(1.0 + (g.n - st.df + 0.5) / (st.df + 0.5)) *
       |            tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / g.avgdl)))
       |          AS score
       |      FROM tf JOIN q USING (term) JOIN stats st USING (term) CROSS JOIN g
       |      GROUP BY tf.doc_id),
       |r AS (SELECT doc_id, round(score, 4) AS score,
       |        row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
       |      FROM sc),
       |bm AS (SELECT 'bm25' AS section, doc_id AS id, CAST(rank AS BIGINT) AS n,
       |    score AS x, CAST(NULL AS VARCHAR) AS s
       |  FROM r WHERE rank <= 10),
       |m3 AS (SELECT 'msm3' AS section, doc_id AS id,
       |    CAST(strlen(text) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, md5(text) AS s
       |  FROM grown
       |  WHERE len(list_intersect($sqlToks, ['filter', 'window', 'stream'])) >= 3),
       |mn AS (SELECT 'msm_none' AS section, CAST(0 AS BIGINT) AS id,
       |    CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, CAST(NULL AS VARCHAR) AS s),
       |tp AS (SELECT 'template_xor' AS section, CAST(0 AS BIGINT) AS id,
       |    CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS x, CAST(NULL AS VARCHAR) AS s
       |  UNION ALL
       |  SELECT 'template_n', CAST(0 AS BIGINT),
       |    (SELECT count(*) FROM grown
       |     WHERE len(list_intersect($sqlToks, ['filter', 'window'])) >= 1),
       |    CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR))
       |SELECT * FROM (
       |  SELECT * FROM bm UNION ALL SELECT * FROM m3 UNION ALL
       |  SELECT * FROM mn UNION ALL SELECT * FROM tp)
       |ORDER BY section, id, n""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_namespace" -> namespaceTenancyOracle,
    "q_namespace_lifecycle" -> namespaceLifecycleOracle,
    "q_namespace_compaction" -> namespaceCompactionOracle,
    "q_partition_key_upsert" ->
      """SELECT * FROM (
        |SELECT 'total_unique' AS case_id,
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS cnt
        |UNION ALL SELECT 'rekeyed_visible',
        |  (SELECT count(*) FROM documents WHERE doc_id < 50)
        |UNION ALL SELECT 'new_bucket_scoped',
        |  (SELECT count(*) FROM documents WHERE doc_id < 50)
        |UNION ALL SELECT 'new_bucket_scoped_flushed',
        |  (SELECT count(*) FROM documents WHERE doc_id < 50)
        |UNION ALL SELECT 'old_bucket_no_resurrect', 0
        |UNION ALL SELECT 'en_remaining',
        |  (SELECT count(*) FROM documents WHERE lang = 'en' AND doc_id >= 50)
        |UNION ALL SELECT 'partial_rekey_scoped',
        |  (SELECT count(*) FROM documents WHERE doc_id >= 40 AND doc_id < 50)
        |UNION ALL SELECT 'partial_rekey_carry',
        |  (SELECT count(*) FROM documents
        |   WHERE doc_id >= 40 AND doc_id < 50 AND n_chars > 0)
        |) ORDER BY case_id""".stripMargin,
    "q_load_state" ->
      """WITH n AS (SELECT count(*) AS cnt FROM events WHERE event_id < 2000)
        |SELECT CAST(1 AS BIGINT) AS phase, 'NotLoad' AS state, cnt FROM n
        |UNION ALL SELECT CAST(2 AS BIGINT), 'Loaded', cnt FROM n
        |UNION ALL SELECT CAST(3 AS BIGINT), 'NotLoad', cnt FROM n
        |ORDER BY phase""".stripMargin,
    "q_import_2pc" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 1500 GROUP BY event_type
        |UNION ALL SELECT '__seed', 1, 0.0
        |UNION ALL SELECT '__staged_visible', 1, -1.0
        |ORDER BY event_type""".stripMargin,
    "q_import_formats" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |  FROM events WHERE event_id < 2000 GROUP BY event_type)
        |SELECT event_type, cnt, sum_value, 'csv' AS fmt FROM a
        |UNION ALL
        |SELECT event_type, cnt, sum_value, 'json' FROM a
        |ORDER BY fmt, event_type""".stripMargin,
    "q_stream_union" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 3000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_session_state" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events WHERE event_id < 3000
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_external_refresh" ->
      """SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS cnt,
        |  0.0 AS sum_value, CAST(1 AS BIGINT) AS kept, CAST(1 AS BIGINT) AS added
        |FROM events WHERE event_id < 2000 GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, count(*), round(sum(value), 2),
        |  CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM events WHERE event_id < 3000 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q_drop_field" ->
      """SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS cnt,
        |  0.0 AS sum_value, false AS value_present
        |FROM events WHERE event_id < 2000 GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, count(*),
        |  round(sum(CASE WHEN event_id < 2000 THEN -1.0 ELSE value END), 2), true
        |FROM events WHERE event_id < 3000 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q_collection_stats" ->
      """SELECT 'IVF_FLAT' AS index_type, CAST(8 AS INTEGER) AS nlist,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 300) AS indexed_rows,
        |  (SELECT count(*) FROM embeddings
        |     WHERE vec_id >= 300 AND vec_id < 450) AS pending_rows,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 450
        |     AND NOT (vec_id % 7 = 0 AND vec_id < 300)) AS total_rows,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 450
        |     AND NOT (vec_id % 7 = 0 AND vec_id < 300)) AS row_count""".stripMargin,
    "q_database_ns" ->
      """WITH l AS (
        |  SELECT 'tenant_a' AS db, 'clicks' AS coll,
        |    (SELECT count(*) FROM events
        |       WHERE event_type = 'click' AND event_id < 4000) AS cnt
        |  UNION ALL
        |  SELECT 'tenant_a', 'errors',
        |    (SELECT count(*) FROM events
        |       WHERE event_type = 'error' AND event_id < 4000)
        |  UNION ALL
        |  SELECT 'tenant_b', 'docs_en',
        |    (SELECT count(*) FROM documents WHERE lang = 'en'))
        |SELECT CAST(1 AS BIGINT) AS phase, db, coll, cnt FROM l
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), db, coll, cnt FROM l WHERE coll <> 'errors'
        |ORDER BY phase, db, coll""".stripMargin,
    "q_nullable_field" ->
      """WITH rows_ AS (
        |  SELECT CASE WHEN event_id >= 1500 THEN 'unknown' ELSE event_type END
        |           AS event_type,
        |         CASE WHEN event_id < 1500 AND event_type = 'error' THEN NULL
        |              ELSE value END AS value
        |  FROM events WHERE event_id < 3000)
        |SELECT event_type, count(*) AS cnt, count(value) AS cnt_val,
        |       round(coalesce(sum(value), 0.0), 2) AS sum_value,
        |       (SELECT count(*) FROM rows_ WHERE value IS NULL) AS n_null
        |FROM rows_ GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_binlog_import" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 4000 AND value >= 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_three_valued" ->
      """WITH t(pk, a, b) AS (VALUES
        |  (1, 10, 'x'), (2, NULL, 'y'), (3, 5, NULL),
        |  (4, NULL, NULL), (5, 7, 'x')),
        |preds(predicate, ids) AS (
        |  SELECT 'a_is_null', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a IS NULL
        |  UNION ALL SELECT 'not_is_not_null', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE NOT (a IS NOT NULL)
        |  UNION ALL SELECT 'double_not', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE NOT (NOT (a IS NULL))
        |  UNION ALL SELECT 'gt', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a > 6
        |  UNION ALL SELECT 'not_gt', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE NOT (a > 6)
        |  UNION ALL SELECT 'and_value', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a > 6 AND b = 'x'
        |  UNION ALL SELECT 'or_value', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a > 6 OR b = 'y'
        |  UNION ALL SELECT 'demorgan_not_and', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE NOT (a > 6 AND b = 'x')
        |  UNION ALL SELECT 'demorgan_not_or', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE NOT (a > 6 OR b = 'y')
        |  UNION ALL SELECT 'and_null_fields', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a IS NULL AND b IS NULL
        |  UNION ALL SELECT 'or_null_fields', coalesce(string_agg(pk, ',' ORDER BY pk), '')
        |    FROM t WHERE a IS NULL OR b IS NULL)
        |SELECT predicate, ids FROM preds ORDER BY predicate""".stripMargin,
    "q_mutable_column" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value FROM events WHERE event_id < 3000),
        |v AS (SELECT
        |  CASE WHEN event_id < 100 THEN -1.0
        |       WHEN event_id < 250 THEN event_id * 0.5
        |       WHEN event_id < 1000 THEN 111.0
        |       ELSE value END AS value,
        |  CASE WHEN event_id >= 500 AND event_id < 1500 THEN 'patched'
        |       ELSE event_type END AS event_type
        |  FROM base)
        |SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_calc_distance" ->
      """WITH l AS (SELECT vec_id AS left_idx, CAST(embedding AS DOUBLE[]) AS lv
        |           FROM embeddings WHERE vec_id < 4),
        |r AS (SELECT vec_id - 4 AS right_idx, CAST(embedding AS DOUBLE[]) AS rv
        |      FROM embeddings WHERE vec_id >= 4 AND vec_id < 8)
        |SELECT l.left_idx, r.right_idx,
        |  round(power(list_distance(l.lv, r.rv), 2), 4) AS distance
        |FROM l CROSS JOIN r ORDER BY left_idx, right_idx""".stripMargin,
    "q_force_merge" ->
      """SELECT * FROM (
        |  SELECT 'after_merge' AS step, 'Sealed:900' AS result
        |  UNION ALL SELECT 'before_merge', 'Sealed:300,Sealed:300,Sealed:300'
        |  UNION ALL SELECT 'count_preserved',
        |    CAST(count(*) AS VARCHAR) FROM events WHERE event_id < 900
        |  UNION ALL SELECT 'merge_state', 'Completed:3->1'
        |  UNION ALL SELECT 'target_below_max', 'rejected'
        |  UNION ALL SELECT 'target_negative', 'rejected')
        |ORDER BY step""".stripMargin,
    "q_partition_isolation" ->
      """SELECT * FROM (
        |  SELECT 'eq_click' AS step, CAST(count(*) AS VARCHAR) AS result
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT 'eq_click_and_value', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_type = 'click' AND value > 50
        |  UNION ALL SELECT 'in_on_key', 'rejected'
        |  UNION ALL SELECT 'missing_key', 'rejected'
        |  UNION ALL SELECT 'not_branch', 'rejected'
        |  UNION ALL SELECT 'or_branch', 'rejected'
        |  UNION ALL SELECT 'range_on_key', 'rejected'
        |  UNION ALL SELECT 'two_equalities', 'rejected')
        |ORDER BY step""".stripMargin,
    "q_external_function" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(len(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')))
        |    AS BIGINT) AS n_terms,
        |    CAST(16 AS BIGINT) AS sig_len
        |  FROM documents)
        |SELECT doc_id, n_terms, sig_len, CAST(1 AS BIGINT) AS phase
        |FROM toks WHERE doc_id < 200
        |UNION ALL
        |SELECT doc_id, n_terms, sig_len, CAST(2 AS BIGINT) AS phase
        |FROM toks WHERE doc_id < 300
        |ORDER BY phase, doc_id""".stripMargin,
    "q_load_partitions" ->
      """SELECT * FROM (
        |  SELECT 'count_after_release_hot' AS step, CAST(count(*) AS VARCHAR) AS result
        |  FROM events WHERE event_id < 3000 AND event_id % 3 >= 1
        |  UNION ALL SELECT 'count_full', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id < 3000
        |  UNION ALL SELECT 'count_hot_cold', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id < 3000 AND event_id % 3 <= 1
        |  UNION ALL SELECT 'count_hot_loaded', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id < 3000 AND event_id % 3 = 0
        |  UNION ALL SELECT 'load_unknown', 'rejected'
        |  UNION ALL SELECT 'query_unloaded_cold', 'rejected'
        |  UNION ALL SELECT 'release_idempotent', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id < 3000 AND event_id % 3 >= 1
        |  UNION ALL SELECT 'release_unknown', 'rejected'
        |  UNION ALL SELECT 'released_all_state', 'NotLoad:0'
        |  UNION ALL SELECT 'state_partial', 'Loaded:100')
        |ORDER BY step""".stripMargin,
    "q_pk_pruned_lookup" ->
      """SELECT * FROM (
        |  SELECT 'count_in' AS step, CAST(count(*) AS VARCHAR) AS result
        |  FROM events WHERE event_id IN (10, 800)
        |  UNION ALL SELECT 'count_in_after_delete', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id = 800
        |  UNION ALL SELECT 'count_range', CAST(count(*) AS VARCHAR)
        |  FROM events WHERE event_id >= 300 AND event_id < 420
        |  UNION ALL SELECT 'dispatch_full', '3'
        |  UNION ALL SELECT 'dispatch_in', '2'
        |  UNION ALL SELECT 'dispatch_miss', '0'
        |  UNION ALL SELECT 'dispatch_nonpk', '3'
        |  UNION ALL SELECT 'dispatch_point', '1'
        |  UNION ALL SELECT 'dispatch_point_after_upsert', '2'
        |  UNION ALL SELECT 'dispatch_range', '1'
        |  UNION ALL SELECT 'point_type',
        |    (SELECT event_type FROM events WHERE event_id = 450)
        |  UNION ALL SELECT 'point_type_after_upsert', 'patched')
        |ORDER BY step""".stripMargin,
    "q_segment_mode_parity" ->
      s"""SELECT m.mode, sd.side, x.cnt, x.id_sum
         |FROM (VALUES ('growing'), ('mixed'), ('sealed')) AS m(mode)
         |CROSS JOIN (VALUES ('expr_l'), ('expr_r')) AS sd(side)
         |CROSS JOIN (
         |  SELECT count(*) AS cnt,
         |    CAST(COALESCE(sum(id), 0) AS BIGINT) AS id_sum
         |  FROM (${MatrixQueries.regressionSql})
         |  WHERE tbl = 'multi' AND age > 10 AND score <= 90) AS x
         |ORDER BY mode, side""".stripMargin,
    "q_segment_stats" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value
        |  FROM events WHERE event_id < 900)
        |SELECT * FROM (
        |  SELECT 'effective_value_rows' AS step,
        |    CAST(count(value) AS VARCHAR) AS result FROM ev
        |  UNION ALL SELECT 'expired_all', '1.000'
        |  UNION ALL SELECT 'expired_none', '0.000'
        |  UNION ALL SELECT 'expired_one_segment', '0.333'
        |  UNION ALL SELECT 'null_value_rows',
        |    CAST(count(*) - count(value) AS VARCHAR) FROM ev
        |  UNION ALL SELECT 'quantiles_five', 'true'
        |  UNION ALL SELECT 'rows_max', CAST(count(*) AS VARCHAR)
        |  FROM ev WHERE event_id < 300
        |  UNION ALL SELECT 'rows_min', CAST(count(*) AS VARCHAR)
        |  FROM ev WHERE event_id >= 600
        |  UNION ALL SELECT 'rows_total', CAST(count(*) AS VARCHAR) FROM ev
        |  UNION ALL SELECT 'tt_count', CAST(count(*) AS VARCHAR)
        |  FROM ev WHERE event_id < 300
        |  UNION ALL SELECT 'tt_dispatch_dirs', '1')
        |ORDER BY step""".stripMargin,
    "q_segment_info" ->
      """SELECT * FROM (VALUES
        |  ('compaction_state', 'Completed:2->1'),
        |  ('compaction_unknown_id', 'rejected'),
        |  ('flushstate_growing', 'false'),
        |  ('flushstate_sealed', 'true'),
        |  ('growing_entry', 'Sealed:500,Growing:500'),
        |  ('postcompact', 'Sealed:900:Disk'),
        |  ('two_segments', 'Sealed:500,Sealed:500')) AS t(step, result)
        |ORDER BY step""".stripMargin,
    "q_credentials" ->
      """SELECT * FROM (VALUES
        |  ('create_dup_alice', 'rejected'),
        |  ('delete_carol_verify', 'false'),
        |  ('list_users', 'alice,bob'),
        |  ('update_bob_wrong_old', 'rejected'),
        |  ('verify_alice_bad', 'false'),
        |  ('verify_alice_good', 'true'),
        |  ('verify_bob_new', 'true'),
        |  ('verify_bob_old', 'false')) AS t(step, result)
        |ORDER BY step""".stripMargin,
    "q_rbac_read" ->
      """SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 2500 GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'denied', CAST(0 AS BIGINT), 0.0
        |ORDER BY phase, event_type""".stripMargin,
    "q_partition_names" ->
      """SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 1500 GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, count(*), round(sum(value), 2)
        |FROM events WHERE event_id < 1500
        |   OR (event_id >= 3000 AND event_id < 3500)
        |GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q_seal_policy" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value,
        |  CAST(5 AS BIGINT) AS n_segments
        |FROM events WHERE event_id < 3000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_alias_swap" ->
      """SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS cnt,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 2000 GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, count(*), round(sum(value), 2)
        |FROM events WHERE event_id >= 2000 AND event_id < 4000 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q_ttl_visibility" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_rls_read" ->
      """SELECT lang, count(*) AS cnt, CAST(sum(length(text)) AS BIGINT) AS sum_len
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_truncate" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 1000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_expr_cache" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 50.0 AND event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "q_snapshot_export" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 4000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_cdc_replica" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT CASE WHEN user_id = 2 THEN 'upd' ELSE event_type END AS event_type,
        |         CASE WHEN user_id = 2 THEN value + 500 ELSE value END AS value
        |  FROM events
        |  WHERE event_id < 3000 AND (user_id = 2 OR event_type <> 'error'))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_windowed_agg" ->
      """SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS win,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 3000
        |GROUP BY 1, 2 ORDER BY win, event_type""".stripMargin,
    "q_interim_search" ->
      """WITH all_v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 200),
        |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
        |      FROM embeddings WHERE vec_id < 5),
        |d AS (SELECT q.qid, a.vec_id,
        |        round(power(list_distance(CAST(a.embedding AS DOUBLE[]), q.qvec), 2), 4)
        |          AS score
        |      FROM q CROSS JOIN all_v a),
        |r AS (SELECT qid, vec_id, score,
        |        row_number() OVER (PARTITION BY qid ORDER BY score ASC, vec_id) AS rank
        |      FROM d)
        |SELECT qid, rank, score, vec_id FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "q_upsert_array_ops" ->
      """WITH pre AS (SELECT user_id, list_sort(list(event_type)) AS t
        |             FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
        |             GROUP BY user_id),
        |post AS (SELECT user_id, list_sort(list(event_type)) AS t
        |         FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
        |         GROUP BY user_id)
        |SELECT COALESCE(pre.user_id, post.user_id) AS user_id,
        |  COALESCE(array_to_string(
        |    list_concat(COALESCE(pre.t, []), COALESCE(post.t, [])), ','), '') AS tags,
        |  CASE WHEN post.user_id IS NULL
        |       THEN COALESCE(array_to_string(COALESCE(pre.t, []), ','), '')
        |       ELSE COALESCE(array_to_string(list_filter(COALESCE(pre.t, []),
        |              x -> x <> 'click' AND x <> 'error'), ','), '') END AS kept
        |FROM pre FULL OUTER JOIN post ON pre.user_id = post.user_id
        |ORDER BY user_id""".stripMargin,
    "q_collection_e2e" ->
      """WITH final AS (
        |  SELECT CASE WHEN user_id = 1 THEN 'upd' ELSE event_type END AS event_type,
        |         CASE WHEN user_id = 1 THEN value + 1000 ELSE value END AS value
        |  FROM events
        |  WHERE user_id = 1 OR event_type <> 'click'
        |  UNION ALL
        |  SELECT 'replay', value FROM events WHERE event_id < 500)
        |SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_ingest" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 2000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_npy_roundtrip" ->
      """SELECT row_idx, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |       round(CAST(unnest(embedding) AS DOUBLE), 5) AS val
        |FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS row_idx, embedding
        |      FROM embeddings WHERE vec_id < 100)
        |ORDER BY row_idx, pos""".stripMargin,
    "q_add_field" ->
      """SELECT CASE WHEN o_orderkey <= 7500 THEN '0-NONE' ELSE o_orderpriority END
        |         AS o_orderpriority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_partition_key" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id = 42
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_mv_search" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE label = 3),
        |d AS (SELECT q.qid, c.vec_id,
        |        round(power(list_distance(q.qvec, c.v), 2), 4) AS score
        |      FROM q CROSS JOIN c),
        |r AS (SELECT qid, vec_id, score,
        |        row_number() OVER (PARTITION BY qid ORDER BY score ASC, vec_id) AS rank
        |      FROM d)
        |SELECT qid, rank, score, vec_id FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,
    "q_external_map" ->
      """SELECT p_brand AS brand, count(*) AS cnt,
        |       round(sum(p_retailprice), 2) AS sum_price
        |FROM part WHERE p_retailprice > 950
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_snapshot_read" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_id < 5000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_lob_gc" ->
      """SELECT doc_id, sha256(text) AS digest,
        |       octet_length(encode(text)) AS lob_bytes,
        |       octet_length(encode(text)) AS bytes
        |FROM documents WHERE lang <> 'zh'
        |ORDER BY doc_id""".stripMargin,
    "q_text_lob" -> textLobOracle,
    "q_text_lob_depth" -> textLobDepthOracle,
    "q_lob_snapshot" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |grown AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || repeat(md5(text), 2100)
        |         ELSE text END AS text
        |  FROM base),
        |snap AS (SELECT 'snap' AS section, doc_id AS id,
        |    CAST(strlen(text) AS BIGINT) AS n, md5(text) AS s FROM grown),
        |live AS (SELECT 'live' AS section, doc_id AS id,
        |    CAST(strlen(t) AS BIGINT) AS n, md5(t) AS s
        |  FROM (SELECT doc_id,
        |      CASE WHEN doc_id = 21
        |           THEN 'upserted ' || repeat(md5(text || 'v2'), 2100)
        |           ELSE text END AS t
        |    FROM grown WHERE doc_id % 14 <> 0)),
        |gc AS (
        |  SELECT 'gc_reclaimed' AS section, CAST(0 AS BIGINT) AS id,
        |         CAST(1 AS BIGINT) AS n, CAST(NULL AS VARCHAR) AS s
        |  UNION ALL
        |  SELECT 'gc_live', 0,
        |         (SELECT count(*) + 1 FROM grown WHERE doc_id % 7 = 0), NULL)
        |SELECT * FROM snap UNION ALL SELECT * FROM live
        |UNION ALL SELECT * FROM gc
        |ORDER BY section, id""".stripMargin,
    "q_lob_restore" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |grown AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || repeat(md5(text), 2100)
        |         ELSE text END AS text
        |  FROM base),
        |restored AS (SELECT 'restored' AS section, doc_id AS id,
        |    CAST(strlen(text) AS BIGINT) AS n, md5(text) AS s FROM grown),
        |counts AS (
        |  SELECT 'restored_blobs' AS section, CAST(0 AS BIGINT) AS id,
        |         (SELECT count(*) FROM grown WHERE doc_id % 7 = 0) AS n,
        |         CAST(NULL AS VARCHAR) AS s
        |  UNION ALL
        |  SELECT 'source_live', 0,
        |         (SELECT count(*) FROM grown WHERE doc_id % 14 <> 0), NULL
        |  UNION ALL
        |  SELECT 'restore_exists_rejected', 0, CAST(1 AS BIGINT), NULL
        |  UNION ALL
        |  SELECT 'restore_job_state', 0, CAST(100 AS BIGINT), NULL)
        |SELECT * FROM restored UNION ALL SELECT * FROM counts
        |ORDER BY section, id""".stripMargin,
    "q_retention_sweep" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
        |grown AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || repeat(md5(text), 2100)
        |         ELSE text END AS text
        |  FROM base),
        |snap AS (SELECT 'snap' AS section, doc_id AS id,
        |    CAST(strlen(text) AS BIGINT) AS n, md5(text) AS s FROM grown),
        |live0 AS (SELECT doc_id,
        |    CASE WHEN doc_id = 21
        |         THEN 'upserted ' || repeat(md5(text || 'v2'), 2100)
        |         ELSE text END AS text
        |  FROM grown WHERE doc_id % 14 <> 0),
        |live AS (SELECT 'live' AS section, doc_id AS id,
        |    CAST(strlen(text) AS BIGINT) AS n, md5(text) AS s FROM live0),
        |marks AS (
        |  SELECT 'gc_reclaimed' AS section, CAST(0 AS BIGINT) AS id,
        |         CAST(1 AS BIGINT) AS n, CAST(NULL AS VARCHAR) AS s
        |  UNION ALL SELECT 'sweep1_data_deleted', 0, 1, NULL
        |  UNION ALL SELECT 'sweep1_data_kept', 0, 2, NULL
        |  UNION ALL SELECT 'sweep1_lob_deleted', 0, 1, NULL
        |  UNION ALL SELECT 'sweep1_lob_kept', 0, 2, NULL
        |  UNION ALL SELECT 'sweep1_snap_deleted', 0, 0, NULL
        |  UNION ALL SELECT 'sweep2_data_deleted', 0, 1, NULL
        |  UNION ALL SELECT 'sweep2_data_kept', 0, 1, NULL
        |  UNION ALL SELECT 'sweep2_lob_deleted', 0, 1, NULL
        |  UNION ALL SELECT 'sweep2_lob_kept', 0, 1, NULL
        |  UNION ALL SELECT 'sweep2_snap_deleted', 0, 1, NULL
        |  UNION ALL SELECT 'reopen_xor', 0, 0, NULL
        |  UNION ALL SELECT 'reopen_n', 0,
        |    (SELECT count(*) FROM live0), NULL)
        |SELECT * FROM snap UNION ALL SELECT * FROM live
        |UNION ALL SELECT * FROM marks
        |ORDER BY section, id""".stripMargin,
    "q_text_analyzer_match" -> textAnalyzerOracle
  )
}
