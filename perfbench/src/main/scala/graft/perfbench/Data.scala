package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded input generator. Every row is a pure function of
  * (seed, pk, version), so executors can generate the bulk corpus in
  * parallel while the driver-side [[Model]] regenerates exactly the same
  * values to check results against.
  *
  * Vectors are a Gaussian mixture: 32 seeded centres in 64 dimensions plus
  * per-row noise, so IVF clusters are meaningful and exact top-k has no
  * ties in practice. Scalars: `grp` uniform in [0, 100) (so `grp < g`
  * selects g percent), `tag` one of 16 values, `price` in [0, 100).
  */
final case class Gen(seed: Long) {
  val dim = 64
  val centres = 32
  val tags = 16

  private val centre: Array[Array[Float]] = Array.tabulate(centres) { c =>
    val r = new SplittableRandom(mix(seed, -1L - c))
    Array.fill(dim)((r.nextGaussian() * 2.0).toFloat)
  }

  def rng(pk: Long, version: Int): SplittableRandom =
    new SplittableRandom(mix(seed, pk * 1024L + version))

  def vector(pk: Long, version: Int): Array[Float] = {
    val r = rng(pk, version)
    val c = centre(r.nextInt(centres))
    Array.tabulate(dim)(d => (c(d) + r.nextGaussian() * 0.6).toFloat)
  }

  /** (grp, tag id, price) of one row version; drawn from a stream apart
    * from the vector's so both stay independent.
    */
  def scalars(pk: Long, version: Int): (Int, Int, Double) = {
    val r = new SplittableRandom(mix(seed ^ 0x5ca1a75L, pk * 1024L + version))
    (r.nextInt(100), r.nextInt(tags), r.nextInt(10000) / 100.0)
  }

  def row(pk: Long, version: Int): Row = {
    val (g, t, p) = scalars(pk, version)
    Row(pk, vector(pk, version).toSeq, g, s"t$t", p)
  }

  /** A query vector near the data: a row of the same mixture under a pk
    * no corpus row uses.
    */
  def query(i: Long): Array[Float] = vector(Gen.QueryPkBase + i, 0)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

object Gen {
  val QueryPkBase = 1L << 40

  val schema: StructType = StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false)),
    StructField("grp", IntegerType),
    StructField("tag", StringType),
    StructField("price", DoubleType)))

  /** Rows [lo, hi) at version 0, generated on the executors. */
  def bulk(spark: SparkSession, gen: Gen, lo: Long, hi: Long, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(lo, hi, 1L, parts).map(pk => gen.row(pk, 0))
    spark.createDataFrame(rdd, schema)
  }

  /** A small batch built on the driver, the way a client sends one. */
  def local(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  def queries(spark: SparkSession, vecs: Seq[Array[Float]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false)))))
  }
}

/** A filter with its expression-language text and the same predicate
  * evaluated on the driver model.
  */
final case class Filter(expr: String, pred: (Long, Int, Int, Double) => Boolean)

object Filter {
  def grpLt(g: Int) = Filter(s"grp < $g", (_, gr, _, _) => gr < g)
  def grpEq(g: Int) = Filter(s"grp == $g", (_, gr, _, _) => gr == g)
  def tagGrp(t: Int, g: Int) =
    Filter(s"""tag == "t$t" and grp < $g""", (_, gr, tg, _) => tg == t && gr < g)
  def priceIn(lo: Double, hi: Double) =
    Filter(s"price >= $lo and price < $hi", (_, _, _, p) => p >= lo && p < hi)
  def pkIn(lo: Long, hi: Long) =
    Filter(s"pk >= $lo and pk < $hi", (pk, _, _, _) => pk >= lo && pk < hi)
  def pkEq(x: Long) = Filter(s"pk == $x", (pk, _, _, _) => pk == x)
}

/** The driver-side model of what the benchmark wrote: the live version
  * of every pk, its vector and its scalars. Reads are checked against it.
  */
final class Model(val gen: Gen, capacity: Int) {
  private var cap = capacity
  var size = 0 // pks [0, size) have been written at least once
  private var live = new Array[Boolean](cap)
  private var version = new Array[Int](cap)
  private var grp = new Array[Int](cap)
  private var tag = new Array[Int](cap)
  private var price = new Array[Double](cap)
  private var vecs = new Array[Float](cap * gen.dim)
  var liveCount = 0

  private def grow(n: Int): Unit = if (n > cap) {
    val c = math.max(n, cap * 2)
    live = java.util.Arrays.copyOf(live, c)
    version = java.util.Arrays.copyOf(version, c)
    grp = java.util.Arrays.copyOf(grp, c)
    tag = java.util.Arrays.copyOf(tag, c)
    price = java.util.Arrays.copyOf(price, c)
    vecs = java.util.Arrays.copyOf(vecs, c * gen.dim)
    cap = c
  }

  /** Write version `v` of `pk` (insert when new, upsert otherwise). */
  def put(pk: Int, v: Int): Unit = {
    grow(pk + 1)
    if (!live(pk)) liveCount += 1
    live(pk) = true
    version(pk) = v
    val (g, t, p) = gen.scalars(pk.toLong, v)
    grp(pk) = g; tag(pk) = t; price(pk) = p
    System.arraycopy(gen.vector(pk.toLong, v), 0, vecs, pk * gen.dim, gen.dim)
    size = math.max(size, pk + 1)
  }

  def delete(pk: Int): Unit = if (live(pk)) { live(pk) = false; liveCount -= 1 }

  def isLive(pk: Int): Boolean = pk < size && live(pk)
  def versionOf(pk: Int): Int = version(pk)

  /** The row a read must return for `pk`: (grp, tag, price). */
  def scalarsOf(pk: Int): (Int, String, Double) = (grp(pk), s"t${tag(pk)}", price(pk))

  def matches(pk: Int, f: Filter): Boolean =
    live(pk) && f.pred(pk.toLong, grp(pk), tag(pk), price(pk))

  def count(f: Filter): Long = {
    var n = 0L; var i = 0
    while (i < size) { if (matches(i, f)) n += 1; i += 1 }
    n
  }

  def countByTag(f: Option[Filter]): Map[String, Long] = {
    val c = new Array[Long](gen.tags); var i = 0
    while (i < size) {
      if (live(i) && f.forall(x => matches(i, x))) c(tag(i)) += 1
      i += 1
    }
    c.indices.filter(c(_) > 0).map(t => s"t$t" -> c(t)).toMap
  }

  /** Exact top-k pks by squared L2, ties by ascending pk — the engine's
    * [[graft.operators.VectorSearch.topK]] contract. Distances are summed
    * in double in dimension order, as the engine's kernel does.
    */
  def topK(q: Array[Float], k: Int, f: Option[Filter]): Seq[Long] = {
    val d = gen.dim
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (a: (Double, Int), b: (Double, Int)) =>
        if (a._1 != b._1) java.lang.Double.compare(b._1, a._1)
        else Integer.compare(b._2, a._2))
    var i = 0
    while (i < size) {
      if (live(i) && f.forall(x => x.pred(i.toLong, grp(i), tag(i), price(i)))) {
        var acc = 0.0; var j = 0; val base = i * d
        while (j < d) { val x = vecs(base + j).toDouble - q(j).toDouble; acc += x * x; j += 1 }
        heap.add((acc, i))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    while (!heap.isEmpty) out += heap.poll()
    out.reverse.map(_._2.toLong).toSeq
  }
}
