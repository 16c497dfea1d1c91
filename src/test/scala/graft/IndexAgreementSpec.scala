package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Metric

/** Index-vs-view agreement over generated op interleavings: fixed-seed
  * sequences of writes, seals, compactions, index rebuilds and
  * replicated feeds whose origin timestamps predate the index build.
  * After every op, [[Collection.searchIndexed]] at `nprobe = nlist` must
  * return exactly what [[Collection.search]] returns, and at
  * `nprobe = 1` every hit must be a live row carrying the scalars of a
  * driver-side pk -> row model.
  */
class IndexAgreementSpec extends SparkSpec {
  import spark.implicits._
  import IndexAgreementSpec._

  private val seeds = 1L to 10L

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** A deterministic vector per (pk, version tag). */
  private def vec(pk: Long, tag: String): Seq[Float] = {
    val rng = new scala.util.Random((pk, tag).hashCode.toLong)
    Seq.fill(Dim)(rng.nextFloat())
  }

  private final case class Row(grp: Long, s: String, emb: Seq[Float])

  private def df(rows: Seq[(Long, Row)]): DataFrame =
    rows.map { case (pk, r) => (pk, r.emb, r.grp, r.s) }.toDF("pk", "emb", "grp", "s")

  private def row(pk: Long, grp: Long, tag: String) = pk -> Row(grp, s"$tag$pk", vec(pk, tag))

  /** The primary whose feed the replica applies: fresh pks only (never
    * written by the replica directly), grp outside the replica's range,
    * inserts, deletes and upserts at the primary's own (small) ticks.
    */
  private def primaryFeed(): (Collection, Seq[Long]) = {
    val p = Collection.create(spark, CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> Dim)))
    p.insert(df((1000L until 1006L).map(pk => row(pk, FeedGrp, "f"))))
    p.insert(df((1006L until 1012L).map(pk => row(pk, FeedGrp, "f"))))
    p.deletePks(Seq(1000L, 1006L))
    p.upsert(df(Seq(1001L, 1007L).map(pk => row(pk, FeedGrp + 1, "fu"))))
    p.insert(df((1012L until 1018L).map(pk => row(pk, FeedGrp, "f"))))
    val ticks = p.changesSince(0L).select(col("_ts")).distinct().as[Long].collect().sorted.toSeq
    (p, ticks)
  }

  private def run(seed: Long, ops: List[Op]): Unit = {
    val (primary, feedTicks) = primaryFeed()
    val c = Collection.create(spark, CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> Dim)))
    val path = "/tmp/graft_test_idxagree_" + System.nanoTime()
    var model = Map.empty[Long, Row]
    // six write ticks before the build, so every feed tick predates it
    (0L until 60L).grouped(10).zipWithIndex.foreach { case (r, i) =>
      val rows = r.map(pk => row(pk, pk % Groups, "v"))
      c.insert(df(rows))
      model ++= rows
      if (i == 3) c.flush(path)
    }
    c.createIndex("emb", Nlist)
    assert(feedTicks.max < c.describeIndex("emb").buildTs)
    var built = model.keySet
    var applied = 0 // feed ticks applied so far
    var nextPk = 60L
    val rng = new scala.util.Random(seed)
    ops.zipWithIndex.foreach { case (op, step) =>
      val own = model.keys.filter(_ < 1000L).toVector.sorted
      def picked(ps: List[Int]): Seq[Long] =
        if (own.isEmpty) Nil else ps.map(p => own(p % own.size)).distinct
      op match {
        case Insert(n) =>
          val rows = (nextPk until nextPk + n).map(pk => row(pk, pk % Groups, s"i$step-"))
          nextPk += n
          c.insert(df(rows))
          model ++= rows
        case Upsert(p) =>
          // one version of a pk the current build mapped, one of a pk it
          // never saw, and a fresh pk
          val pre = own.filter(built.contains)
          val post = own.filterNot(built.contains)
          val pks = (pre.lift(p % math.max(pre.size, 1)).toSeq ++
            post.lift(p % math.max(post.size, 1)).toSeq) :+ nextPk
          nextPk += 1
          val rows = pks.map(pk => row(pk, (pk + step) % Groups, s"u$step-"))
          c.upsert(df(rows))
          model ++= rows
        case DeletePks(ps) =>
          val pks = picked(ps)
          c.deletePks(pks)
          model --= pks
        case DeleteExpr(g) =>
          c.delete(s"grp == $g")
          model = model.filterNot(_._2.grp == g)
        case SetField(ps, v) =>
          val pks = picked(ps)
          c.setField("grp", pks.map(pk => (pk, v.toLong)).toDF("pk", "grp"))
          model ++= pks.map(pk => pk -> model(pk).copy(grp = v.toLong))
        case Flush =>
          c.flush(path)
        case Compact =>
          c.flush(path) // compaction needs a sealed tail
          c.compact(path)
        case ApplyFeed =>
          if (applied < feedTicks.size) {
            val since = if (applied == 0) 0L else feedTicks(applied - 1)
            val chunk = primary.changesSince(since)
              .filter(col("_ts") <= feedTicks(applied)).cache()
            c.applyChanges(chunk)
            val entries = chunk.select("_op", "pk", "emb", "grp", "s")
              .as[(String, Long, Option[Seq[Float]], Option[Long], Option[String])].collect()
            chunk.unpersist()
            // an upsert is a delete and an insert at one tick: deletes first
            model --= entries.collect { case ("delete", pk, _, _, _) => pk }
            model ++= entries.collect {
              case ("insert", pk, Some(e), Some(g), Some(s)) => pk -> Row(g, s, e)
            }
            applied += 1
          }
        case Rebuild =>
          c.createIndex("emb", Nlist)
          built = model.keySet
      }
      val at = s"seed $seed, step $step ($op)"
      assert(c.count() == model.size.toLong, at)
      val live = model.keys.toVector.sorted
      val near = if (live.isEmpty) Seq.fill(Dim)(rng.nextFloat())
                 else model(live(rng.nextInt(live.size))).emb
      val qs = Seq((0L, near), (1L, Seq.fill(Dim)(rng.nextFloat()))).toDF("qid", "qvec")
      val out = Seq("pk", "grp", "s")
      def hits(d: DataFrame) =
        d.select("qid", "rank", "pk", "grp", "s").as[(Long, Long, Long, Long, String)]
          .collect().sorted.toList
      val exact = hits(c.search("emb", qs, k = K, metric = Metric.L2, outputFields = out))
      val indexed = hits(c.searchIndexed("emb", qs, k = K, nprobe = Nlist,
        metric = Metric.L2, outputFields = out))
      assert(indexed == exact, at)
      val probed = hits(c.searchIndexed("emb", qs, k = K, nprobe = 1,
        metric = Metric.L2, outputFields = out))
      assert(probed.nonEmpty || live.isEmpty, at)
      probed.foreach { case (_, _, pk, g, s) =>
        assert(model.get(pk).map(r => (r.grp, r.s)).contains((g, s)), s"$at: hit $pk")
      }
    }
  }

  test("the generated sequences cover every op kind") {
    val kinds = seeds.flatMap(s => sample(opsGen, s)).map(_.productPrefix).toSet
    assert(kinds == Set("Insert", "Upsert", "DeletePks", "DeleteExpr",
      "SetField", "Flush", "Compact", "ApplyFeed", "Rebuild"))
  }

  seeds.foreach { seed =>
    test(s"indexed search agrees with search after every op (seed $seed)") {
      run(seed, sample(opsGen, seed))
    }
  }
}

object IndexAgreementSpec {
  val Dim = 8
  val Nlist = 4
  val K = 10
  /** Replica rows have grp in 0 until Groups; feed rows FeedGrp or above. */
  val Groups = 6L
  val FeedGrp = 100L

  sealed trait Op extends Product
  /** `n` fresh pks. */
  final case class Insert(n: Int) extends Op
  /** New versions of a pk the current build mapped, a pk it did not, and a fresh pk. */
  final case class Upsert(pick: Int) extends Op
  final case class DeletePks(picks: List[Int]) extends Op
  /** delete("grp == g"). */
  final case class DeleteExpr(g: Int) extends Op
  /** setField("grp") of the picked pks to `v`. */
  final case class SetField(picks: List[Int], v: Int) extends Op
  case object Flush extends Op
  case object Compact extends Op
  /** Applies the primary's next feed tick; every feed tick predates the first build. */
  case object ApplyFeed extends Op
  /** createIndex again over the current view. */
  case object Rebuild extends Op

  private val picks = Gen.listOfN(2, Gen.choose(0, 1000))
  private val grp = Gen.choose(0, Groups.toInt - 1)

  val opGen: Gen[Op] = Gen.frequency(
    2 -> Gen.choose(1, 6).map(Insert(_)),
    2 -> Gen.choose(0, 1000).map(Upsert(_)),
    1 -> picks.map(DeletePks(_)),
    1 -> grp.map(DeleteExpr(_)),
    1 -> (for (ps <- picks; v <- grp) yield SetField(ps, v)),
    1 -> Gen.const(Flush),
    1 -> Gen.const(Compact),
    2 -> Gen.const(ApplyFeed),
    1 -> Gen.const(Rebuild))

  val opsGen: Gen[List[Op]] =
    Gen.choose(6, 8).flatMap(n => Gen.listOfN(n, opGen))
}
