package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Model test for the facade memos (the read-view memo and the
  * queryCached filter cache): fixed-seed generated sequences of
  * mutations, each followed by reads that pin and reuse both memos, must
  * answer exactly as a driver-side pk -> row model does. The ops
  * include every site that rewrites the sealed state (flush, compact,
  * truncate, forceMerge) and both load transitions. The reads include a
  * partition-scoped one, which takes its own resident sealed collapse,
  * and after each op that changes the sealed state an ignoreGrowing
  * count, checked against the pks sealed so far. At the end of each
  * sequence a fresh replica fed the change log must hold the model too.
  */
class MemoCoherenceSpec extends SparkSpec {
  import spark.implicits._
  import MemoCoherenceSpec._

  private val fields = Seq("pk", "grp", "s")
  private val seeds = 1L to 25L

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def df(rows: Seq[(Long, (Long, String))]) =
    rows.map { case (pk, (g, s)) => (pk, g, s) }.toDF("pk", "grp", "s")

  private def collected(d: org.apache.spark.sql.DataFrame): List[(Long, Long, String)] =
    d.as[(Long, Long, String)].collect().sorted.toList

  /** The model's rows (pk, grp, s) that satisfy `p(pk, grp)`, sorted. */
  private def rowsWhere(m: Map[Long, (Long, String)])(p: (Long, Long) => Boolean) =
    m.toList.collect { case (pk, (g, s)) if p(pk, g) => (pk, g, s) }.sorted

  /** Runs `ops` on a fresh two-segment collection, checking the memoized
    * reads against the model after every op.
    */
  private def run(seed: Long, ops: List[Op]): Unit = {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_memocoh_" + System.nanoTime()
    var model = Map.empty[Long, (Long, String)]
    // the pks an ignoreGrowing read sees: the model's at the last seal,
    // minus every pk deleted since (a tombstone hides sealed versions)
    var sealedPks = Set.empty[Long]
    Seq(0L until 20L, 20L until 40L).foreach { r =>
      val rows = r.map(pk => pk -> ((pk % Groups, s"v$pk")))
      c.insert(df(rows))
      model ++= rows
      c.flush(path)
    }
    sealedPks = model.keySet
    var nextPk = 40L
    val filter = s"grp < ${Groups / 2}"
    ops.zipWithIndex.foreach { case (op, step) =>
      val live = model.keys.toVector.sorted
      def picked(ps: List[Int]): Seq[Long] =
        if (live.isEmpty) Nil else ps.map(p => live(p % live.size)).distinct
      val touched: Seq[Long] = op match {
        case Insert(n) =>
          val rows = (nextPk until nextPk + n).map(pk =>
            pk -> ((pk % Groups, s"i${pk}_$step")))
          nextPk += n
          c.insert(df(rows))
          model ++= rows
          rows.map(_._1)
        case Upsert(ps, v) =>
          val rows = (picked(ps) :+ nextPk).map(pk =>
            pk -> ((v.toLong, s"u${pk}_$step")))
          nextPk += 1
          c.upsert(df(rows))
          model ++= rows
          rows.map(_._1)
        case DeletePks(ps) =>
          val pks = picked(ps)
          c.deletePks(pks)
          model --= pks
          sealedPks --= pks
          pks
        case DeleteExpr(g) =>
          val pks = model.collect { case (pk, (grp, _)) if grp == g => pk }.toSeq
          c.delete(s"grp == $g")
          model --= pks
          sealedPks --= pks
          pks
        case SetField(ps, v) =>
          val pks = picked(ps)
          c.setField("grp", pks.map(pk => (pk, v.toLong)).toDF("pk", "grp"))
          model ++= pks.map(pk => pk -> ((v.toLong, model(pk)._2)))
          pks
        case Flush =>
          c.flush(path)
          sealedPks = model.keySet
          Nil
        case Compact =>
          c.flush(path) // compaction needs a sealed tail
          c.compact(path)
          sealedPks = model.keySet
          Nil
        case Load =>
          c.load()
          Nil
        case Release =>
          c.release()
          Nil
        case Truncate =>
          c.truncate()
          model = Map.empty
          sealedPks = Set.empty
          Nil
        case ForceMerge =>
          c.forceMerge(path, 2048)
          Nil
      }
      val at = s"seed $seed, step $step ($op)"
      // the second count reads the view again, which pins it
      assert(c.count() == model.size.toLong, at)
      assert(c.count() == model.size.toLong, at)
      val probe = (touched ++ Seq(0L, 21L, 39L, nextPk + 1000L)).distinct
      assert(collected(c.get(probe, fields)) ==
        rowsWhere(model)((pk, _) => probe.contains(pk)), at)
      val want = rowsWhere(model)((_, g) => g < Groups / 2)
      assert(collected(c.query(filter, fields)) == want, at)
      assert(collected(c.queryCached(filter, fields)) == want, at)
      assert(collected(c.queryCached(filter, fields)) == want, at)
      // a partition-scoped read takes its own (keyed) sealed collapse
      val default = Seq(Collection.DefaultPartition)
      assert(c.count(partitionNames = default) == model.size.toLong, at)
      assert(collected(c.query(filter, fields, partitionNames = default)) == want, at)
      // the sealed side alone, right after the sealed state changed
      if (Set[Op](Flush, Compact, ForceMerge).contains(op))
        assert(c.count(ignoreGrowing = true) == sealedPks.size.toLong, at)
    }
    // the change log since the last truncate replays to the model, or
    // the sequence logged no rows at all
    val feed = scala.util.Try(c.changesSince(c.truncateTs)).toOption
      .filterNot(_.isEmpty)
    feed match {
      case Some(f) =>
        val replica = Collection.create(spark, CollectionSchema(pkField = "pk"))
        replica.applyChanges(f)
        assert(collected(replica.readView().select(fields.map(col): _*)) ==
          rowsWhere(model)((_, _) => true), s"seed $seed, replica")
      case None => assert(model.isEmpty, s"seed $seed, nothing logged")
    }
  }

  test("the generated sequences cover every op kind") {
    val kinds = seeds.flatMap(s => sample(opsGen, s)).map(_.productPrefix).toSet
    assert(kinds == Set("Insert", "Upsert", "DeletePks", "DeleteExpr",
      "SetField", "Flush", "Compact", "Load", "Release", "Truncate", "ForceMerge"))
  }

  seeds.foreach { seed =>
    test(s"memoized reads equal the model after every op (seed $seed)") {
      run(seed, sample(opsGen, seed))
    }
  }
}

object MemoCoherenceSpec {
  /** grp values are 0 until Groups; the checked filter is grp < Groups/2. */
  val Groups = 6L

  sealed trait Op extends Product
  /** `n` fresh pks. */
  final case class Insert(n: Int) extends Op
  /** New versions of the picked live pks plus one fresh pk, grp `v`. */
  final case class Upsert(picks: List[Int], v: Int) extends Op
  final case class DeletePks(picks: List[Int]) extends Op
  /** delete("grp == g"). */
  final case class DeleteExpr(g: Int) extends Op
  /** setField("grp") of the picked live pks to `v`. */
  final case class SetField(picks: List[Int], v: Int) extends Op
  case object Flush extends Op
  case object Compact extends Op
  case object Load extends Op
  case object Release extends Op
  /** Empties the model. */
  case object Truncate extends Op
  /** forceMerge(path, 2048): every sealed segment into one; the model is unchanged. */
  case object ForceMerge extends Op

  private val picks = Gen.listOfN(3, Gen.choose(0, 1000))
  private val grp = Gen.choose(0, Groups.toInt - 1)

  val opGen: Gen[Op] = Gen.oneOf(
    Gen.choose(1, 5).map(Insert(_)),
    for (ps <- picks; v <- grp) yield Upsert(ps, v),
    picks.map(DeletePks(_)),
    grp.map(DeleteExpr(_)),
    for (ps <- picks; v <- grp) yield SetField(ps, v),
    Gen.const(Flush),
    Gen.const(Compact),
    Gen.const(Load),
    Gen.const(Release),
    Gen.const(Truncate),
    Gen.const(ForceMerge))

  val opsGen: Gen[List[Op]] =
    Gen.choose(6, 10).flatMap(n => Gen.listOfN(n, opGen))
}
