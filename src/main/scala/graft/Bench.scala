package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query wall seconds at the
  * scale factor in SPARK_GRAFT_SF_DIR.
  *
  * Queries are fully materialized via a noop-format write (a bare
  * `count()` would let Catalyst prune the projected expressions — e.g.
  * a highlight or distance column — and under-report the work).
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) in interleaved
  * rounds and reports the per-query MEDIAN — single runs on a shared
  * box swing 2-6x on identical code (BENCH_LOCAL.md), so one sample is
  * noise, not a measurement. SPARK_GRAFT_ONLY=a,b,c restricts to named
  * queries for local iteration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // box-contention sentinel: a loaded host inflates every sample the
    // same way (the r10 driver bench read 37% hot purely from load), so
    // the canonical line carries the 1-minute system load at start and
    // end — a reader can tell "regression" from "busy box" without a
    // re-run
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg
    val spark = GraftSession.local(cpus.toInt)

    // cumulative JVM GC milliseconds (all collectors): in local mode
    // every executor thread shares this JVM, so the delta around a query
    // is the query's total GC bill — the signal that separates "plan got
    // slower" from "heap pressure got worse" without a worktree A/B
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val g0 = gcMs
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return (-1.0, -1L) }
      ((System.nanoTime() - t0) / 1e9, gcMs - g0)
    }

    // JVM/session warmup so the first measured query isn't charged for it
    SparkEntry.queries.get("q_count_filter").foreach(run)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // one UNMEASURED warmup round first: queries that persist()
    // intermediates (the dedup/index family) pay a one-time cold cost —
    // pipeline compute + codegen compile — that Spark's CacheManager
    // then amortizes across every later identical plan. Without the
    // warmup, round 1's cold sample lands in the measured set and reads
    // as spread (the r6 q_dedup_survivors [2.5, 6.1] s p25-p75 was
    // exactly cold-vs-warm); with it, all measured samples observe the
    // steady state a resident engine runs in. The round is per-suite, not per-query, so cross-query cache
    // pressure (all ~150 queries' blocks resident at once) is part of
    // what the measured rounds see — same as before.
    selected.foreach { case (_, fn) => run(fn) }
    // interleaved rounds (q1 q2 ... qN, repeated) rather than
    // back-to-back per query: a GC/compaction spike lands in one round's
    // samples, not all of one query's
    val samples: Seq[Seq[(String, (Double, Long))]] =
      (1 to runs).map(_ => selected.map { case (name, fn) => name -> run(fn) })
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    val results = selected.map { case (name, _) =>
      name -> median(samples.map(_.toMap.apply(name)._1))
    }
    val gcTotals: Seq[Long] = samples.map(_.map { case (_, (_, g)) =>
      math.max(0L, g) }.sum)
    val gcByQuery = selected.map { case (name, _) =>
      name -> median(samples.map(_.toMap.apply(name)._2.toDouble))
    }
    // interpolated percentile over the valid samples — with runs=3 this
    // reads as (lo, hi) straddling the median, enough to tell box noise
    // (wide spread) from a real regression (tight spread, high median)
    def pct(xs: Seq[Double], p: Double): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else {
        val idx = p * (ok.size - 1)
        val lo = idx.toInt
        val hi = math.min(lo + 1, ok.size - 1)
        ok(lo) + (idx - lo) * (ok(hi) - ok(lo))
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val spread = selected.map { case (name, _) =>
      val xs = samples.map(_.toMap.apply(name)._1)
      "\"" + name + f"""\":[${pct(xs, 0.25)}%.3f,${pct(xs, 0.75)}%.3f]"""
    }.mkString("{", ",", "}")
    val gcQs = gcByQuery.map { case (k, v) => "\"" + k + f"\":${v}%.0f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // Full detail first (may scroll out of the driver's 2000-char stdout
    // tail), then a compact canonical line LAST: the driver can only
    // read what survives in the tail, and ~140 queries x ~22 chars
    // doesn't fit. The truncated map is named `slowest` (NOT `queries`)
    // so no consumer mistakes it for the full per-query map; failed
    // queries (median -1) are excluded from it and surfaced as a count
    // in `failed` instead. Each slowest entry is [median, p25, p75] so
    // the spread discipline survives on the canonical line too.
    println(f"""{"metric":"total_detail","value":$total%.3f,"unit":"sec","queries":$qs,"spread":$spread,"gc_ms":$gcQs,"sf":"$sfDir","runs":$runs}""")
    // the full per-query map also goes to a stable FILE: only the last
    // ~2000 stdout chars survive to the driver, so round-over-round
    // comparisons were limited to the slowest-25 intersection. Purely
    // additive — the printed canonical line below is unchanged.
    try {
      val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"spread":$spread,"gc_ms":$gcQs,"sf":"$sfDir","runs":$runs}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // best-effort (read-only cwd etc.)
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(25)
      .map { case (k, v) =>
        val xs = samples.map(_.toMap.apply(k)._1)
        "\"" + k + f"""\":[$v%.3f,${pct(xs, 0.25)}%.3f,${pct(xs, 0.75)}%.3f]"""
      }.mkString("{", ",", "}")
    val ncpu = Runtime.getRuntime.availableProcessors
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val gcPerRound = gcTotals.map(_.toString).mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$nFailed,"slowest":$slow,"slowest_note":"[median,p25,p75] for slowest 25 of ${results.size}; full maps on the total_detail line","loadavg":[$loadStart%.2f,$loadAvg%.2f],"ncpu":$ncpu,"heap_mb":$heapMb,"gc_ms_per_round":$gcPerRound,"sf":"$sfDir","runs":$runs}""")
    spark.stop()
  }
}
