package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

/** Per-query job/stage/task census — tells scheduling overhead apart
  * from compute. SPARK_GRAFT_ONLY selects queries; each runs
  * SPARK_GRAFT_RUNS times (default 2, first run discarded as warmup).
  *
  * Output (one line per query):
  *   name  wall_s  jobs  stages  tasks  task_time_s  gc_ms
  *
  * Local-iteration tool only — not part of the bench contract.
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val extra: Map[String, String] = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }.toMap
    val spark = graft.GraftSession.local(cpus.toInt, extraConf = extra)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val bySite = new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStart.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, site) =>
          val ms = (System.nanoTime() - t0) / 1000000
          bySite.merge(site, (ms, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => taskTimeMs.addAndGet(m.executorRunTime))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"ttime_s"}%8s ${"gc_ms"}%6s")
    selected.foreach { case (name, fn) =>
      val walls = (1 to runs).map { r =>
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
        bySite.clear()
        val g0 = gcMs
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage.take(200)}") }
        val wall = (System.nanoTime() - t0) / 1e9
        // give async listener events a beat to drain
        Thread.sleep(300)
        if (r == runs) {
          println(f"$name%-28s $wall%8.2f ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%7d ${taskTimeMs.get / 1e3}%8.2f ${gcMs - g0}%6d")
          if (sys.env.contains("SPARK_GRAFT_SITES")) {
            import scala.jdk.CollectionConverters._
            bySite.asScala.toSeq.sortBy(-_._2._1).take(15).foreach {
              case (site, (ms, n)) =>
                println(f"    ${ms}%6d ms  ${n}%4d jobs  $site")
            }
          }
        }
        wall
      }
      if (runs >= 3) {
        val m = walls.drop(1).sorted.apply((runs - 1) / 2)
        println(f"$name%-28s median-after-warmup $m%8.2f  all=${walls.map(w => f"$w%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
