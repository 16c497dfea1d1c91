package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Collection, CollectionSchema}
import graft.functions.Metric

/** One prepared collection and the model of its contents. */
final class Prepared(val c: Collection, val model: Model, val root: String) {
  // calls of the set-up's warm-up pass: their output checks count towards
  // the result, their times do not
  val warm = new Recorder(c.spark, traced = false, 1)
  var flushes = 0
  var maintNs = 0L
  // recall@10 of each checked searchIndexed query, in call order
  val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  var deck: IndexedSeq[Int] = Vector.empty // op kinds still to deal
  // shuffles the decks; not seeded by the run, so every seed deals the same
  // op-kind sequence and a run's cost does not depend on its seed's shuffle
  val dealer = new SplittableRandom(0x5eedL)
  var gets = 0
  val draws = new Array[Long](6) // filters drawn from the pool, per op kind
}

/** A closed-loop workload: one client issuing the next call only after
  * the previous one returned. `step` runs one iteration; the op
  * sequence is a pure function of the RNG, which the run seeds.
  */
trait Workload {
  def name: String
  /** Op classes whose latencies make up `read_ms`. */
  def readClasses: Set[String]
  def writeClasses: Set[String] = Set("insert", "upsert", "delete")
  /** Filters the workload's calls carry (the expr micro-benchmark set). */
  def filters: Seq[Filter]

  /** Rows the collection starts with. */
  def rows: Int
  /** The model of a collection of `rows` rows, built before [[setup]]
    * (not timed); `setup` ingests exactly what it holds.
    */
  def model(gen: Gen, rows: Int): Model
  /** Create, ingest, flush (and index), then warm up. Timed as set-up. */
  def setup(spark: SparkSession, model: Model, root: String): Prepared
  /** Iterations in one cycle (a maintenance cycle, a deck of the op mix);
    * a run stops only between cycles.
    */
  def cycle: Int = 1
  def step(p: Prepared, rec: Recorder, rng: SplittableRandom, i: Long): Unit
}

object Workloads {
  val schema = CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 64))
  val K = 10
  val fields = Seq("pk", "grp", "tag", "price")

  def all: Map[String, Workload] =
    Seq(PointQuery, MixedRw).map(w => w.name -> w).toMap

  /** Ingest pks [0, rows) as `segments` sealed segments. */
  def ingest(spark: SparkSession, gen: Gen, c: Collection, root: String,
      rows: Int, segments: Int): Unit = {
    val per = rows / segments
    (0 until segments).foreach { s =>
      c.insert(Gen.bulk(spark, gen, s.toLong * per, (s + 1).toLong * per,
        spark.sparkContext.defaultParallelism))
      c.flush(root)
    }
  }

  def modelOf(gen: Gen, rows: Int, capacity: Int): Model = {
    val m = new Model(gen, capacity)
    (0 until rows).foreach(m.put(_, 0))
    m
  }

  /** Search with exact-result check on the first query of the batch. */
  def search(p: Prepared, rec: Recorder, qs: Seq[Array[Float]], filter: Option[Filter]): Unit =
    rec.op("search")(p.c.search("emb", Gen.queries(p.c.spark, qs), K, Metric.L2,
      filterExpr = filter.map(_.expr).getOrElse(""), outputFields = Seq("pk")))(
      _.collect()).foreach { rows =>
      val got = hitsOf(rows, 0L)
      val want = p.model.topK(qs.head, K, filter)
      rec.check(got == want,
        s"search ${filter.map(_.expr).getOrElse("")}: got $got want $want")
    }

  /** IVF search; the first query's hits must be live rows, and their
    * overlap with the exact top-k is recorded as recall.
    */
  def searchIndexed(p: Prepared, rec: Recorder, qs: Seq[Array[Float]], nprobe: Int): Unit =
    rec.op("search_indexed")(p.c.searchIndexed("emb", Gen.queries(p.c.spark, qs), K,
      nprobe, Metric.L2))(_.collect()).foreach { rows =>
      val got = hitsOf(rows, 0L)
      val want = p.model.topK(qs.head, K, None)
      rec.check(got.length == K && got.distinct.length == K &&
        got.forall(pk => p.model.isLive(pk.toInt)), s"search_indexed returned $got")
      p.recalls += got.count(want.contains).toDouble / K
    }

  /** pks of query `qid`'s hits, best first. */
  def hitsOf(rows: Array[Row], qid: Long): Seq[Long] =
    rows.filter(_.getAs[Long]("qid") == qid).sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[Long]("pk")).toSeq

  /** Rows a scalar read returned must be live, carry the model's values
    * and satisfy the filter; `expected` is the exact count when known.
    */
  def checkRows(rec: Recorder, m: Model, rows: Array[Row], f: Filter,
      expected: Long, what: String): Unit = {
    val pks = rows.map(_.getAs[Long]("pk"))
    val ok = rows.length == expected && pks.distinct.length == pks.length &&
      rows.forall { r =>
        val pk = r.getAs[Long]("pk").toInt
        m.matches(pk, f) &&
          m.scalarsOf(pk) == ((r.getAs[Int]("grp"), r.getAs[String]("tag"),
            r.getAs[Double]("price")))
      }
    rec.check(ok, s"$what ${f.expr}: ${rows.length} rows, want $expected")
  }

  def query(p: Prepared, rec: Recorder, f: Filter, limit: Int, cached: Boolean): Unit = {
    val cls = if (cached) "query_cached" else "query"
    rec.op(cls)(
      if (cached) p.c.queryCached(f.expr, fields, limit)
      else p.c.query(f.expr, fields, limit))(_.collect()).foreach { rows =>
      val n = p.model.count(f)
      checkRows(rec, p.model, rows, f, if (limit > 0) math.min(n, limit) else n, cls)
    }
  }

  def count(p: Prepared, rec: Recorder, f: Filter): Unit =
    rec.op("count")(p.c.count(f.expr))(identity).foreach { n =>
      val want = p.model.count(f)
      rec.check(n == want, s"count ${f.expr}: got $n want $want")
    }

  def randomLive(m: Model, rng: SplittableRandom): Int = {
    var pk = rng.nextInt(m.size)
    while (!m.isLive(pk)) pk = rng.nextInt(m.size)
    pk
  }
}

import Workloads._

/** Read-only scalar Query over a fragmented collection (16 small
  * sealed segments). Little executor work per call: the wall time is driver
  * planning, job scheduling, pk pruning and read-view assembly. Filters
  * are drawn Zipf-skewed from a pool larger than both facade caches.
  */
object PointQuery extends Workload {
  val name = "point_query"
  val rows = 24000
  val segments = 16
  val poolSize = 256
  val readClasses = Set("get", "query", "query_cached", "count", "query_agg")
  // (op kind, calls per deck of 20): get 15 %, pk query 20 %, filter query
  // 15 %, count 15 %, queryAgg 15 %, queryCached 20 %
  private val Mix = Seq(0 -> 3, 1 -> 4, 2 -> 3, 3 -> 3, 4 -> 3, 5 -> 4)
  private val DeckSize = Mix.map(_._2).sum
  // a run measures whole pairs of decks (~12 s): with every seed dealing
  // the same op kinds and walking the same pool positions, two runs then
  // make the same calls, and a slow host cannot cut a run to one deck
  override def cycle: Int = 2 * DeckSize
  private var pools: IndexedSeq[IndexedSeq[Filter]] = IndexedSeq.empty
  private var cdf: Array[Double] = Array.empty
  def filters: Seq[Filter] = pools.flatten

  /** 256 filters: 64 of each kind (grp equality, tag and grp, price
    * range, pk range), each kind's list in popularity order.
    */
  private def buildPool(seed: Long): Unit = {
    val r = new SplittableRandom(seed ^ 0x9001L)
    val per = poolSize / 4
    pools = IndexedSeq(
      (0 until per).map(_ => Filter.grpEq(r.nextInt(100))),
      (0 until per).map(_ => Filter.tagGrp(r.nextInt(16), 10 + r.nextInt(60))),
      (0 until per).map { _ =>
        val lo = r.nextInt(9000) / 100.0
        Filter.priceIn(lo, lo + 1.5)
      },
      (0 until per).map { _ =>
        val lo = r.nextInt(rows - 500).toLong
        Filter.pkIn(lo, lo + 1 + r.nextInt(400))
      })
    val w = (1 to per).map(k => 1.0 / math.pow(k, 1.1))
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** The next filter for op kind `op`. Filter kinds take turns within each
    * op kind, and popularity is Zipf within a kind, walked by the
    * golden-ratio sequence from a fixed start: every seed draws the same
    * pool positions in the same order (the seed sets the filters' values),
    * so runs of any seed see the same cache hits, misses and evictions.
    */
  private def zipf(p: Prepared, op: Int): Filter = {
    val n = p.draws(op)
    p.draws(op) += 1
    val u = (0.5 + n * 0.6180339887498949) % 1.0
    val i = java.util.Arrays.binarySearch(cdf, u)
    pools((n % 4).toInt)(math.min(cdf.length - 1, if (i >= 0) i else -i - 1))
  }

  def model(gen: Gen, rows: Int): Model = {
    buildPool(gen.seed)
    modelOf(gen, rows, rows)
  }

  def setup(spark: SparkSession, model: Model, root: String): Prepared = {
    val c = Collection.create(spark, schema)
    ingest(spark, model.gen, c, root, model.size, segments)
    val p = new Prepared(c, model, root)
    // warm-up: one deck. The measured loop then continues the filter
    // walk, so its decks are alike, none replaying this one's cached filters
    val rng = new SplittableRandom(model.gen.seed ^ 0x3a7L)
    (0 until DeckSize).foreach(i => step(p, p.warm, rng, i))
    p
  }

  def step(p: Prepared, rec: Recorder, rng: SplittableRandom, i: Long): Unit = {
    val m = p.model
    // op kinds are dealt from shuffled decks holding the mix exactly, so a
    // run of a few dozen calls has the same mix whatever the seed
    if (p.deck.isEmpty) {
      val d = Mix.flatMap { case (kind, n) => Seq.fill(n)(kind) }.toArray
      for (j <- d.indices.reverse) {
        val k = p.dealer.nextInt(j + 1); val t = d(j); d(j) = d(k); d(k) = t
      }
      p.deck = d.toIndexedSeq
    }
    val kind = p.deck.head
    p.deck = p.deck.tail
    if (kind == 0) {
      // 1 to 10 pks, in turn: the number of segments a get touches is
      // what it costs, so it must not vary with the seed
      p.gets += 1
      val pks = (0 until 1 + p.gets % 10).map(_ => rng.nextInt(m.size).toLong).distinct
      rec.op("get")(p.c.get(pks, fields))(_.collect()).foreach { rows =>
        checkRows(rec, m, rows, Filter(s"pk in $pks", (pk, _, _, _) => pks.contains(pk)),
          pks.size.toLong, "get")
      }
    } else if (kind == 1) query(p, rec, Filter.pkEq(randomLive(m, rng).toLong), -1, cached = false)
    else if (kind == 2) query(p, rec, zipf(p, kind), 50, cached = false)
    else if (kind == 3) count(p, rec, zipf(p, kind))
    else if (kind == 4) {
      val f = zipf(p, kind)
      rec.op("query_agg")(p.c.queryAgg(f.expr, Seq("tag", "count(*)"), Seq("tag")))(
        _.collect()).foreach { rows =>
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        rec.check(got == m.countByTag(Some(f)), s"query_agg ${f.expr}: $got")
      }
    } else query(p, rec, zipf(p, kind), 50, cached = true)
  }
}

/** Writes beside reads: each iteration inserts 500 rows, upserts 50,
  * deletes 10, then runs a Strong point query and an nq=1 search (and an
  * IVF search every other iteration); every 2nd iteration flushes and
  * every 2nd flush compacts, so one 4-iteration cycle is the unit a run
  * measures. Reads see the growing tail, sealed segments and tombstones;
  * every write invalidates the facade caches.
  */
object MixedRw extends Workload {
  val name = "mixed_rw"
  val rows = 25000
  val segments = 4
  val flushEvery = 2
  val compactEvery = 2
  val nlist = 32
  val nprobe = 8
  /** Write iterations in the drift sequence. */
  val driftIterations = 24
  override def cycle: Int = flushEvery * compactEvery
  val readClasses = Set("query", "search", "search_indexed", "count")
  def filters: Seq[Filter] = Seq(Filter.pkEq(12345), Filter.grpLt(50))

  def model(gen: Gen, rows: Int): Model = modelOf(gen, rows, rows * 2)

  def setup(spark: SparkSession, model: Model, root: String): Prepared = {
    val c = Collection.create(spark, schema)
    ingest(spark, model.gen, c, root, model.size, segments)
    c.createIndex("emb", nlist)
    val p = new Prepared(c, model, root)
    // warm-up: one write iteration and one flush, so the measured run
    // starts from a sealed state with warm code paths
    step(p, p.warm, new SplittableRandom(model.gen.seed ^ 0x3a7L), flushEvery - 1)
    p.flushes = 0
    p.maintNs = 0L
    p.recalls.clear()
    p
  }

  def step(p: Prepared, rec: Recorder, rng: SplittableRandom, i: Long): Unit = {
    val m = p.model
    val ups = write(p, rec, rng)
    // half the point reads hit a pk written this iteration
    val x = if (rng.nextBoolean()) ups(rng.nextInt(ups.size)) else randomLive(m, rng)
    query(p, rec, Filter.pkEq(x.toLong), -1, cached = false)
    search(p, rec, Seq(m.gen.query(rng.nextLong() & 0xffffffL)), None)
    // IVF search (over sealed, index-masked and interim-assigned rows) on
    // every other iteration, which keeps IvfIndex and recall@10 measured
    if (i % 2 == 1) searchIndexed(p, rec, Seq(m.gen.query(rng.nextLong() & 0xffffffL)), nprobe)
    if (i % flushEvery == flushEvery - 1) maintain(p, rec)
  }

  /** The sequence `drift.*` is measured on: [[driftIterations]] write
    * iterations on one collection, with a Strong point query on an
    * upserted pk every 2nd iteration and a flush (and every 2nd time a
    * compaction) every 4th. Its writes are as many as 6 measured cycles
    * make, at a fraction of their time, since it runs no search.
    */
  def driftSequence(p: Prepared, rec: Recorder, rng: SplittableRandom): Unit =
    (0 until driftIterations).foreach { i =>
      val ups = write(p, rec, rng)
      if (i % 2 == 1) query(p, rec, Filter.pkEq(ups(rng.nextInt(ups.size)).toLong), -1,
        cached = false)
      if (i % 4 == 3) maintain(p, rec)
    }

  /** Insert 500 new rows, upsert 50 live pks and delete 10, in the model
    * too; returns the upserted pks.
    */
  private def write(p: Prepared, rec: Recorder, rng: SplittableRandom): Seq[Int] = {
    val m = p.model
    val gen = m.gen
    val spark = p.c.spark
    val base = m.size
    val ins = (base until base + 500).map(pk => gen.row(pk.toLong, 0))
    rec.op("insert")(p.c.insert(Gen.local(spark, ins)))(identity)
    (base until base + 500).foreach(m.put(_, 0))

    val ups = (0 until 50).map(_ => randomLive(m, rng)).distinct
    val upRows = ups.map(pk => gen.row(pk.toLong, m.versionOf(pk) + 1))
    rec.op("upsert")(p.c.upsert(Gen.local(spark, upRows)))(identity)
    ups.foreach(pk => m.put(pk, m.versionOf(pk) + 1))

    val dels = (0 until 10).map(_ => randomLive(m, rng)).distinct
    rec.op("delete")(p.c.deletePks(dels.map(_.toLong)))(identity)
    dels.foreach(m.delete)
    ups
  }

  /** Flush, compact every [[compactEvery]]th flush, then check the whole
    * visible set with a count.
    */
  private def maintain(p: Prepared, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    rec.op("flush")(p.c.flush(p.root))(identity)
    p.flushes += 1
    if (p.flushes % compactEvery == 0) rec.op("compact")(p.c.compact(p.root))(identity)
    p.maintNs += System.nanoTime() - t0
    count(p, rec, Filter.grpLt(50))
  }
}
