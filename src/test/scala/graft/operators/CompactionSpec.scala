package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val data = Seq(
    (1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"), (4L, 25L, "d")
  ).toDF("pk", "ts", "payload")
  // pk=1 deleted early (foldable at compactTs=15), pk=2 deleted late
  // (residual), pk=4 row written AFTER its tombstone (survives)
  private val tombs = Seq((1L, 12L), (2L, 20L), (4L, 24L)).toDF("pk", "ts")

  test("writeCompacted splits tombstones at compactTs and drops covered rows") {
    val path = "/tmp/graft_test_l0_split"
    Compaction.writeCompacted(data, tombs, "pk", "ts", lit(15L), path)
    def pks(dir: String) =
      spark.read.parquet(s"$path/$dir").select($"pk").as[Long].collect().sorted.toSeq
    assert(pks("data") == Seq(2L, 3L, 4L))
    assert(pks("tombstones") == Seq(2L, 4L))
  }

  test("compacted read equals the uncompacted MVCC read at any later ts") {
    val path = "/tmp/graft_test_l0"
    Compaction.writeCompacted(data, tombs, "pk", "ts", lit(15L), path)
    for (readTs <- Seq(15L, 22L, 30L)) {
      val viaCompaction = Compaction.readCompacted(spark, path, "pk", "ts", lit(readTs))
        .select($"pk").as[Long].collect().sorted.toSeq
      val direct = Mvcc.visible(data, "pk", "ts", lit(readTs), tombstones = Some(tombs))
        .select($"pk").as[Long].collect().sorted.toSeq
      assert(viaCompaction == direct, s"divergence at readTs=$readTs")
    }
    // pk=4: tombstone ts=24 < row ts=25 — the delete does not cover the
    // newer row, at any read ts
    val late = Compaction.readCompacted(spark, path, "pk", "ts", lit(30L))
      .select($"pk").as[Long].collect().toSet
    assert(late.contains(4L))
  }

  test("reads below the compaction watermark are rejected, not silently wrong") {
    val path = "/tmp/graft_test_l0_wm"
    Compaction.writeCompacted(data, tombs, "pk", "ts", lit(15L), path)
    // a row deleted at ts in (readTs, 15] is physically gone — time
    // travel below the watermark cannot be answered from this layout
    val e = intercept[IllegalArgumentException] {
      Compaction.readCompacted(spark, path, "pk", "ts", lit(10L)).collect()
    }
    assert(e.getMessage.contains("watermark"))
  }

  test("mix compaction merges a fragmented layout without changing the data") {
    val in = "/tmp/graft_test_mix_in"
    val out = "/tmp/graft_test_mix_out"
    val df = spark.range(0, 2000).selectExpr("id", "id % 7 AS grp")
    df.repartition(40).write.mode("overwrite").parquet(in) // 40 tiny files
    val nIn = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nIn >= 30)
    Compaction.mergeSmallFiles(spark, in, out, targetFileBytes = 10L * 1024 * 1024)
    val nOut = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nOut < 5, s"expected few merged files, got $nOut")
    val got = spark.read.parquet(out).select($"id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 2000L).toSeq)
  }

  test("sorted mix compaction keeps per-file key ranges near-disjoint") {
    val in = "/tmp/graft_test_mixsort_in"
    val out = "/tmp/graft_test_mixsort_out"
    spark.range(0, 5000).selectExpr("id", "id AS key")
      .repartition(20).write.mode("overwrite").parquet(in)
    Compaction.mergeSmallFiles(spark, in, out,
      targetFileBytes = 20L * 1024, sortCol = Some("key"))
    val stats = Clustering.fileStats(spark, out, "key").collect()
    assert(stats.length > 1)
    // ranges must not overlap (range-partitioned rewrite)
    val ranges = stats.map(r => (r.getAs[Long]("key_min"), r.getAs[Long]("key_max")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $hi1 > $lo2")
      case _ =>
    }
  }
}
