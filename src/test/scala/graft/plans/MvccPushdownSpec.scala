package graft.plans

import org.apache.spark.sql.functions._

import graft.queries.WriteQueries
import graft.{Collection, CollectionSchema, SparkSpec}

/** End-to-end guard for the engine's hottest predicate: the MVCC
  * visibility bound (`ts <= read_ts`) must reach the PHYSICAL parquet
  * scan's `PushedFilters` — not merely survive [[TsDomainRewrite]] in
  * isolation (TsDomainRewriteSpec covers the rule; this covers the
  * wiring through the real read paths). If a future Spark upgrade or
  * plan change silently un-pushes it, every read at 100 TB becomes a
  * full post-scan evaluation with no row-group pruning, and this spec
  * fails.
  */
class MvccPushdownSpec extends SparkSpec {

  private def pushedFiltersOf(df: org.apache.spark.sql.DataFrame): String = {
    // force real physical planning (AQE finalizes on execute)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("Collection sealed read pushes the normalized ts visibility bound") {
    import spark.implicits._
    val dir = "/tmp/graft_test_mvccpush_" + System.nanoTime()
    // timestamp-typed fixture — the driver-parquet shape that goes
    // through GraftSession.normalizeTs at the load boundary
    (0L until 100L).map(i => (i, s"r$i"))
      .toDF("pk", "payload")
      .withColumn("ts", timestamp_micros(
        unix_micros(to_timestamp(lit("2024-01-10 00:00:00"))) +
          col("pk") * 60000000L))
      .write.parquet(dir)
    val c = Collection.open(spark,
      CollectionSchema(pkField = "pk", tsField = "ts"), dir)
    val df = c.query("", Seq("pk", "payload"))
    val plan = pushedFiltersOf(df)
    assert(plan.matches("(?s).*PushedFilters:[^\\]]*LessThanOrEqual\\(ts,.*"),
      s"MVCC visibility ts bound not pushed to the sealed scan:\n$plan")
  }

  /** Two sealed segments (disjoint pk ranges unless `overlapping`, then
    * the second holds new versions of every pk), tombstones on both, and
    * a growing tail.
    */
  private def writtenCollection(overlapping: Boolean): Collection = {
    import spark.implicits._
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val dir = "/tmp/graft_test_mvccpush_w_" + System.nanoTime()
    val ranges =
      if (overlapping) Seq(0L until 100L, 0L until 100L)
      else Seq(0L until 50L, 50L until 100L)
    ranges.foreach { r =>
      c.insert(r.map(i => (i, s"r$i")).toDF("pk", "payload"))
      c.flush(dir)
    }
    // pk 7's sealed version is deleted, then re-inserted in the tail
    c.deletePks(Seq(3L, 7L, 60L))
    c.insert(Seq((7L, "g7"), (200L, "g200")).toDF("pk", "payload"))
    c.deletePks(Seq(200L))
    c
  }

  /** A pk read's plan: the pk equality pushed to the sealed scan, and
    * the tombstones entering through `antiJoins` anti joins (as built,
    * before the optimizer copies one into each side of a union), with
    * no aggregate over them: the plan's only aggregates are collapses.
    */
  private def checkPkRead(c: Collection, antiJoins: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val df = c.query("pk == 7", Seq("pk", "payload"))
    assert(df.collect().map(_.getString(1)).toList == List("g7"))
    val plan = pushedFiltersOf(df)
    assert(plan.matches("(?s).*PushedFilters:[^\\]]*EqualTo\\(pk,7\\).*"),
      s"pk equality not pushed below the MVCC collapse:\n$plan")
    def tombAntis(p: LogicalPlan) = p.collect {
      case j: Join if j.joinType == LeftAnti &&
        j.condition.exists(_.references.exists(_.name == "_tomb_ts")) => j
    }
    val analyzed = df.queryExecution.analyzed
    assert(tombAntis(analyzed).size == antiJoins, s"tombstone anti joins:\n$analyzed")
    val optimized = df.queryExecution.optimizedPlan
    assert(tombAntis(optimized).nonEmpty, s"tombstones optimized away:\n$optimized")
    assert(optimized.collect { case a: Aggregate => a }.forall(
      _.aggregateExpressions.exists(_.exists(_.isInstanceOf[MaxBy]))),
      s"an aggregate besides the MVCC collapse:\n$optimized")
  }

  test("a pk read over segments, tombstones and a growing tail pushes the pk and anti-joins tombstones once") {
    // disjoint segments: the read prunes to one segment and collapses it
    // with the tail under one visibility cut
    checkPkRead(writtenCollection(overlapping = false), antiJoins = 1)
  }

  test("a pk read through the sealed collapse pushes the pk below it") {
    // segments that both hold the pk prune nothing: the read builds the collapse R
    // and merges the tail on top, one visibility cut per side of the merge
    checkPkRead(writtenCollection(overlapping = true), antiJoins = 2)
  }

  test("q_mvcc_visibility's own plan pushes its ts bound and TTL bound") {
    val df = WriteQueries.mvccVisibility(spark, sfDir)
    val plan = pushedFiltersOf(df)
    // visibility upper bound AND the TTL lower bound both pushdown-able
    // (o_orderdate is timestamp-typed; readTs and ttl fold to literals)
    assert(plan.matches("(?s).*PushedFilters:[^\\]]*LessThanOrEqual\\(o_orderdate,.*"),
      s"visibility bound not pushed on q_mvcc_visibility:\n$plan")
    assert(plan.matches("(?s).*PushedFilters:[^\\]]*GreaterThan\\(o_orderdate,.*"),
      s"TTL bound not pushed on q_mvcc_visibility:\n$plan")
  }
}
