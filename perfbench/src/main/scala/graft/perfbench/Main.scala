package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.expr.{ExprCompiler, Parser}
import graft.functions.Metric
import graft.operators.{IvfIndex, VectorSearch}

/** The benchmark driver: one client in a closed loop over the public
  * `Collection` facade.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--census <file>]
  * }}}
  *
  * Set-up (session start excluded) runs twice on fresh roots under
  * `--work`; `setup_s` is their median. With `--trace 0` the second set-up
  * is measured for `--seconds` and the end-to-end metrics are printed.
  * With `--trace 1` the first set-up runs untraced and the second traced,
  * step by step in alternation, each for `--seconds`, and the per-layer
  * metrics are printed; their `ops_per_s` difference is
  * `trace.overhead_frac`. On `mixed_rw` a fixed write sequence then runs
  * on the traced collection for `drift.*`. `--census` writes the
  * traced call sequence (class, jobs, tasks) and per-call recall, which
  * the determinism audit compares across runs, and every span (id, name,
  * start and end in epoch ns, parent). The last stdout line is the result
  * object.
  */
object Main {
  val Setups = 2
  val OpClasses = Seq("search", "search_indexed", "get", "query", "query_cached",
    "count", "query_agg", "insert", "upsert", "delete", "flush", "compact")
  val SparkMetrics = Seq("plan_ms", "jobs", "tasks", "job_ms", "driver_ms",
    "task_ms", "slot_util", "gc_ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.all.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}; have ${Workloads.all.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")

    val cores = Runtime.getRuntime.availableProcessors()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val spark = GraftSession.local(cores, "perfbench")
    try {
      val gen = Gen(seed)
      val prepared = mutable.ArrayBuffer.empty[Prepared]
      val setupS = (1 to Setups).map { k =>
        val model = w.model(gen, w.rows)
        val t0 = System.nanoTime()
        val p = w.setup(spark, model, s"$work/c$k")
        val dt = (System.nanoTime() - t0) / 1e9
        prepared += p
        System.err.println(f"perfbench: set-up $k took $dt%.2f s")
        dt
      }
      // keep only the set-ups a phase measures
      if (!traced) prepared.head.c.close()

      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      val (attempted, failed) =
        if (!traced) {
          val p = prepared.last
          val Seq(rec) = phase(w, Seq(p -> false), spark, seed, seconds, cores)
          val (attempted, failed) = totals(rec +: prepared.map(_.warm))
          metrics("setup_s") = (Stats.median(setupS), "s")
          metrics("ops_per_s") = (opsPerS(rec), "1/s")
          val reads = rec.latencies.toSeq.collect { case (k, v) if w.readClasses(k) => v }.flatten
          metrics("read_ms") = (reads.sum / reads.size, "ms")
          metrics("correct_frac") = (1.0 - failed.toDouble / attempted, "ratio")
          metrics("bytes_per_row") = (dirBytes(new File(p.root)) / p.model.liveCount, "B")
          (attempted, failed)
        } else {
          val p = prepared.last
          val (h0, m0) = p.c.filterCacheStats
          val e0 = p.c.viewCacheEvictions
          val Seq(plain, rec) = phase(w, Seq(prepared.head -> false, p -> true),
            spark, seed, seconds, cores)
          prepared.head.c.close()
          val (h1, m1) = p.c.filterCacheStats
          perLayer(metrics, w, p, rec, spark, cores)
          // drift: on mixed_rw a fixed write sequence after the measured
          // loop, long enough for write latency growth to show
          val driftRec = w match {
            case MixedRw =>
              val r = new Recorder(spark, traced = false, cores)
              MixedRw.driftSequence(p, r, new SplittableRandom(seed ^ 0xd71f7L))
              r
            case _ => rec
          }
          metrics("drift.write_p50_ratio") = (drift(driftRec, w.writeClasses), "ratio")
          metrics("drift.read_p50_ratio") = (drift(driftRec, w.readClasses), "ratio")
          val all = Seq(plain, rec) ++ prepared.map(_.warm) ++
            (if (driftRec eq rec) Nil else Seq(driftRec))
          val (attempted, failed) = totals(all)
          metrics("checks.failed_frac") = (failed.toDouble / attempted, "ratio")
          val lookups = (h1 - h0) + (m1 - m0)
          metrics("cache.filter_hit_ratio") =
            (if (lookups == 0) 0.0 else (h1 - h0).toDouble / lookups, "ratio")
          metrics("cache.view_evictions") = ((p.c.viewCacheEvictions - e0).toDouble, "count")
          metrics("trace.overhead_frac") =
            ((opsPerS(plain) - opsPerS(rec)) / opsPerS(plain), "ratio")
          metrics("host.loadavg") = (os.getSystemLoadAverage, "load")
          opts.get("census").foreach(f => writeCensus(new File(f), rec, p))
          (attempted, failed)
        }

      // host sentinel: what the run actually used, for spotting a busy box
      println("perfbench host " + json(Seq(
        "workload" -> s""""${w.name}"""", "master" -> s""""local[$cores]"""",
        "loadavg_start" -> num(loadStart), "loadavg_end" -> num(os.getSystemLoadAverage),
        "heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0))))
      println(json(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> json(metrics.toSeq.map { case (k, (v, u)) =>
          k -> json(Seq("value" -> num(v), "unit" -> s""""$u""""))
        }))))
    } finally spark.stop()
  }

  /** Run the workload's closed loop for `seconds` per collection, ending
    * only between cycles. Given an untraced and a traced
    * collection, their steps interleave, so both see the same JIT and cache
    * warmth and their throughput difference is the tracing overhead.
    */
  def phase(w: Workload, runs: Seq[(Prepared, Boolean)], spark: SparkSession, seed: Long,
      seconds: Double, cores: Int): Seq[Recorder] = {
    val recs = runs.map { case (_, traced) => new Recorder(spark, traced, cores) }
    val rngs = runs.map(_ => new SplittableRandom(seed))
    val t0 = System.nanoTime()
    var i = 0L
    while (i % w.cycle != 0 || System.nanoTime() - t0 < seconds * runs.size * 1e9) {
      // the same call on the second collection reuses the first one's
      // generated code, so the order flips every step
      val order = if (i % 2 == 0) runs.indices else runs.indices.reverse
      order.foreach(k => w.step(runs(k)._1, recs(k), rngs(k), i))
      i += 1
    }
    recs.foreach { rec =>
      rec.close()
      rec.latencies.foreach { case (k, v) =>
        System.err.println(f"perfbench: ${if (rec.traced) "traced" else "plain"} $k%-14s " +
          f"n=${v.size}%4d p50=${Stats.median(v.toSeq)}%8.1f ms mean=${v.sum / v.size}%8.1f ms")
      }
    }
    recs
  }

  def opsPerS(rec: Recorder): Double = rec.attempted / (rec.opWallNs / 1e9)

  /** Calls attempted and failed over `recs`, warm-up and drift calls
    * included: every checked call counts towards correctness.
    */
  def totals(recs: Iterable[Recorder]): (Long, Long) =
    (recs.map(_.attempted).sum, recs.map(_.failed).sum)

  def perLayer(metrics: mutable.LinkedHashMap[String, (Double, String)], w: Workload,
      p: Prepared, rec: Recorder, spark: SparkSession, cores: Int): Unit = {
    val units = Map("plan_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
      "job_ms" -> "ms", "driver_ms" -> "ms", "task_ms" -> "ms", "slot_util" -> "ratio",
      "gc_ms" -> "ms")
    OpClasses.foreach { op =>
      val m = rec.perClass(op)
      metrics(s"collection.$op.build_ms") = (m("build_ms"), "ms")
      SparkMetrics.foreach(k => metrics(s"spark.$op.$k") = (m(k), units(k)))
    }
    val (parse, compile) = exprMicro(w.filters)
    metrics("expr.parse_us") = (parse, "us")
    metrics("expr.compile_us") = (compile, "us")
    val (topk, ivf) = w match {
      case MixedRw => operatorsMicro(spark, p, MixedRw.nlist, MixedRw.nprobe)
      case _       => (0.0, 0.0)
    }
    metrics("operators.topk_ms") = (topk, "ms")
    metrics("operators.ivf_search_ms") = (ivf, "ms")

    val root = new File(p.root)
    val segs = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("seg-"))
    metrics("storage.segments") = (p.c.getSegmentsInfo.size.toDouble, "count")
    metrics("storage.files") = (files(root).size.toDouble, "count")
    metrics("storage.bytes_per_flush") =
      (if (segs.isEmpty) 0.0 else segs.map(dirBytes).sum / segs.length, "B")
    metrics("storage.cache_mb") =
      (spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, "MB")

    def lat(classes: Set[String]) =
      rec.latencies.collect { case (k, v) if classes(k) => v.toSeq }.flatten.toSeq
    metrics("latency.search_p50_ms") = (Stats.median(lat(Set("search"))), "ms")
    metrics("latency.query_p50_ms") =
      (Stats.median(lat(Set("get", "query", "count", "query_agg"))), "ms")
    metrics("latency.write_p50_ms") = (Stats.median(lat(w.writeClasses)), "ms")
    metrics("maint.maint_s") = (p.maintNs / 1e9, "s")
    metrics("search.recall_at_10") =
      (if (p.recalls.isEmpty) 0.0 else p.recalls.sum / p.recalls.size, "ratio")
  }

  /** Last-quarter p50 over first-quarter p50, each class split by its own
    * call order and the quarters pooled across classes.
    */
  def drift(rec: Recorder, classes: Set[String]): Double = {
    val per = rec.latencies.collect { case (k, v) if classes(k) && v.size >= 4 => v.toSeq }
    val first = per.flatMap(v => v.take(v.size / 4)).toSeq
    val last = per.flatMap(v => v.takeRight(v.size / 4)).toSeq
    if (first.isEmpty) 0.0 else Stats.median(last) / Stats.median(first)
  }

  /** Median per-call µs of Parser.parse and ExprCompiler.compile over the
    * workload's filters, in five timed batches.
    */
  def exprMicro(filters: Seq[Filter]): (Double, Double) = {
    val ctx = ExprCompiler.Ctx(Gen.schema)
    val nodes = filters.map(f => Parser.parse(f.expr))
    val reps = math.max(1, 2000 / filters.size)
    def batch(body: => Unit): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => body)
      (System.nanoTime() - t0) / 1e3 / (reps * filters.size)
    })
    batch(filters.foreach(f => Parser.parse(f.expr))) ->
      batch(nodes.foreach(n => ExprCompiler.compile(n, ctx)))
  }

  /** Median ms of the brute-force and IVF kernels on a persisted copy of
    * the corpus, without the facade's read-view assembly.
    */
  def operatorsMicro(spark: SparkSession, p: Prepared, nlist: Int,
      nprobe: Int): (Double, Double) = {
    val corpus = p.c.readView().select("pk", "emb").persist()
    corpus.count()
    val qs = Gen.queries(spark, (0 until 16).map(i => p.model.gen.query(1000000L + i)))
    def time(body: => Unit): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
    val topk = time(VectorSearch.topK(corpus, "pk", "emb", qs, "qid", "qvec",
      Metric.L2, Workloads.K).collect())
    val model = IvfIndex.trainLocal(corpus, "emb", nlist)
    val clustered = IvfIndex.layout(corpus, "emb", model).persist()
    clustered.count()
    val ivf = time(IvfIndex.search(clustered, "pk", "emb", model, qs, "qid", "qvec",
      Metric.L2, Workloads.K, nprobe).collect())
    clustered.unpersist()
    corpus.unpersist()
    (topk, ivf)
  }

  def writeCensus(f: File, rec: Recorder, p: Prepared): Unit = {
    val out = new java.io.PrintWriter(f)
    try {
      rec.sequence.foreach { case (cls, jobs, tasks) => out.println(s"op $cls $jobs $tasks") }
      p.recalls.foreach(r => out.println(s"recall $r"))
      rec.spans.foreach(s => out.println(s"span ${s.id} ${s.name} ${s.start} ${s.end} ${s.parent}"))
    } finally out.close()
  }

  def files(d: File): Seq[File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def dirBytes(d: File): Double = files(d).map(_.length).sum.toDouble

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
}
