package graft.operators

import org.apache.spark.sql.functions._

import graft.{Collection, CollectionSchema, SparkSpec}
import graft.expr.Parser
import graft.operators.PkPruning._

/** File-level pk segment pruning (MEP 20260324): domain extraction,
  * overlap decisions, and the facade path — a pk point lookup over a
  * multi-segment collection must dispatch to ONE segment's files while
  * answering exactly like the full scan (MVCC, tombstones, upserts).
  */
class PkPruningSpec extends SparkSpec {
  import spark.implicits._

  private def dom(e: String): Option[Domain] =
    PkPruning.domainOf(Parser.parse(e), "pk")

  test("domain extraction: point, IN, ranges, conjuncts") {
    assert(dom("pk == 7") == Some(Points(Seq(7L))))
    assert(dom("7 == pk") == Some(Points(Seq(7L))))
    assert(dom("pk in [1, 2, 3]") == Some(Points(Seq(1L, 2L, 3L))))
    assert(dom("pk > 10") == Some(Interval(Some((10L, false)), None)))
    assert(dom("10 > pk") == Some(Interval(None, Some((10L, false)))))
    assert(dom("pk <= 10") == Some(Interval(None, Some((10L, true)))))
    assert(dom("1 <= pk < 9") ==
      Some(Interval(Some((1L, true)), Some((9L, false)))))
    // conjuncts intersect; a single pk conjunct among others suffices
    assert(dom("pk >= 5 and pk < 8") ==
      Some(Interval(Some((5L, true)), Some((8L, false)))))
    assert(dom("pk == 7 and grp > 2") == Some(Points(Seq(7L))))
    assert(dom("grp > 2 and pk in [4, 5]") == Some(Points(Seq(4L, 5L))))
    assert(dom("pk in [4, 5] and pk >= 5") == Some(Points(Seq(5L))))
    // oversized point sets collapse to their envelope AT CONSTRUCTION —
    // one interval test per segment instead of O(points)
    assert(PkPruning.points((1L to 2000L).map(x => x: Any)) ==
      Some(Interval(Some((1L, true)), Some((2000L, true)))))
    // an oversized set with incomparable members yields no domain
    assert(PkPruning.points((1L to 2000L).map(x => x: Any) :+ "x").isEmpty)
  }

  test("domain extraction is conservative: OR / NOT / non-pk / non-literal") {
    assert(dom("pk == 7 or grp == 1").isEmpty)
    assert(dom("not (pk == 7)").isEmpty)
    assert(dom("grp == 7").isEmpty)
    assert(dom("pk not in [1, 2]").isEmpty)
    assert(dom("pk == grp").isEmpty)
    assert(dom("pk != 7").isEmpty)
    // a non-pk disjunction under a pk conjunct still yields the pk side
    assert(dom("pk == 7 and (grp == 1 or grp == 2)") == Some(Points(Seq(7L))))
  }

  test("overlap decisions against segment ranges") {
    assert(PkPruning.overlaps(Points(Seq(5L)), 1L, 9L))
    assert(!PkPruning.overlaps(Points(Seq(15L)), 1L, 9L))
    assert(!PkPruning.overlaps(Points(Nil), 1L, 9L))
    assert(PkPruning.overlaps(Interval(Some((9L, true)), None), 1L, 9L))
    assert(!PkPruning.overlaps(Interval(Some((9L, false)), None), 1L, 9L))
    assert(PkPruning.overlaps(Interval(None, Some((1L, true))), 1L, 9L))
    assert(!PkPruning.overlaps(Interval(None, Some((1L, false))), 1L, 9L))
    // string pks compare lexicographically
    assert(PkPruning.overlaps(Points(Seq("m")), "a", "z"))
    assert(!PkPruning.overlaps(Points(Seq("zz")), "a", "z"))
    // incomparable values never prune
    assert(PkPruning.overlaps(Points(Seq("x")), 1L, 9L))
  }

  private def multiSeg(): (Collection, String) = {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_pkprune_" + System.nanoTime()
    // three sealed segments with disjoint pk ranges
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      c.insert(r.map(i => (i, i % 7, s"v$i")).toDF("pk", "grp", "s"))
      c.flush(path)
    }
    (c, path)
  }

  test("a point lookup dispatches to one segment and answers exactly") {
    val (c, _) = multiSeg()
    assert(c.plannedSegments("").size == 3)
    assert(c.plannedSegments("pk == 150").size == 1)
    assert(c.plannedSegments("pk in [5, 250]").size == 2)
    assert(c.plannedSegments("pk >= 250").size == 1)
    assert(c.plannedSegments("100 <= pk < 200").size == 1)
    assert(c.plannedSegments("pk == 999").isEmpty)
    assert(c.plannedSegments("grp == 3").size == 3) // not pk-anchored
    // the physical scan reads only the kept segment's files
    val files = c.query("pk == 150", Seq("pk", "s")).inputFiles
    assert(files.nonEmpty)
    val planned = c.plannedSegments("pk == 150")
    assert(files.forall(f => planned.exists(p => f.contains(p))))
    // and the answers match the un-anchored full scan
    assert(c.query("pk == 150", Seq("pk", "s")).as[(Long, String)].collect()
      .toList == List((150L, "v150")))
    assert(c.count("pk in [5, 250]") == 2L)
    assert(c.count("pk == 999") == 0L)
    assert(c.count("pk >= 250 and grp == 3") ==
      (250L until 300L).count(_ % 7 == 3).toLong)
  }

  test("pruned reads keep MVCC semantics: upsert across segments, deletes") {
    val (c, path) = multiSeg()
    // a newer version of pk=50 seals into a FOURTH segment whose range
    // covers 50 — both holders are retained, LWW picks the new row
    c.upsert(Seq((50L, 99L, "new")).toDF("pk", "grp", "s"))
    c.flush(path)
    assert(c.plannedSegments("pk == 50").size == 2)
    assert(c.query("pk == 50", Seq("s")).as[String].collect().toList
      == List("new"))
    // tombstones live outside segments: a pruned read still applies them
    c.delete("pk == 150")
    assert(c.count("pk == 150") == 0L)
    assert(c.count("pk in [150, 151]") == 1L)
    // the growing tail always rides along with a pruned sealed scan
    c.insert(Seq((400L, 1L, "tail")).toDF("pk", "grp", "s"))
    assert(c.query("pk == 400", Seq("s")).as[String].collect().toList
      == List("tail"))
    // get() prunes through the same registry
    assert(c.get(Seq(250L), Seq("pk", "s")).as[(Long, String)].collect()
      .toList == List((250L, "v250")))
  }

  test("iterator cursor, delete-by-pk, and search prune the file list") {
    val (c, _) = multiSeg()
    // the pk cursor is a lower bound: a page past segment 2's max pk
    // reads only segment 3's files
    val page = c.queryIterator("", Seq("pk", "s"), batch = 5,
      lastPk = Some(199L))
    assert(page.select("pk").as[Long].collect().toList ==
      (200L until 205L).toList)
    assert(page.inputFiles.nonEmpty &&
      page.inputFiles.forall(_.contains(
        c.plannedSegments("pk > 199").head)))
    // a cursor AND a filter domain intersect
    val page2 = c.queryIterator("pk < 250", Seq("pk"), batch = 3,
      lastPk = Some(205L))
    assert(page2.select("pk").as[Long].collect().toList ==
      (206L until 209L).toList)
    // delete by pk stays correct through the pruned victim scan
    c.delete("pk == 250")
    assert(c.count("pk == 250") == 0L)
    assert(c.count() == 299L)
  }

  test("an ANN search with a pk-anchored filter prunes the corpus scan") {
    val c = graft.Collection.create(spark, graft.CollectionSchema(
      pkField = "pk", vectorFields = Map("emb" -> 4)))
    val path = "/tmp/graft_test_pkprune_vec_" + System.nanoTime()
    def v(i: Long): Seq[Float] =
      (0 until 4).map(d => ((i * (d + 3)) % 97).toFloat / 97f)
    Seq(0L until 50L, 100L until 150L).foreach { r =>
      c.insert(r.map(i => (i, v(i))).toDF("pk", "emb"))
      c.flush(path)
    }
    val qs = Seq((0L, v(120L))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 3,
      metric = graft.functions.Metric.L2, filterExpr = "pk >= 100",
      outputFields = Seq("pk"))
    val got = hits.select("pk").as[Long].collect()
    assert(got.contains(120L) && got.forall(_ >= 100L))
    assert(hits.inputFiles.nonEmpty &&
      hits.inputFiles.forall(_.contains(
        c.plannedSegments("pk >= 100").head)))
  }

  test("the pk bloom prunes interleaved ranges min/max cannot") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_pkbloom_" + System.nanoTime()
    // both segments span [0..199] — range stats overlap everywhere,
    // only the bloom can tell them apart (the reference's pkoracle)
    c.insert((0L until 200L by 2).map(i => (i, s"e$i")).toDF("pk", "s"))
    c.flush(path)
    c.insert((1L until 200L by 2).map(i => (i, s"o$i")).toDF("pk", "s"))
    c.flush(path)
    assert(c.plannedSegments("pk == 42").size == 1)
    assert(c.plannedSegments("pk == 43").size == 1)
    assert(c.plannedSegments("pk in [42, 43]").size == 2)
    // interval domains stay range-checked only — no bloom consult
    assert(c.plannedSegments("42 <= pk <= 43").size == 2)
    // answers are exact through the bloom-pruned file list
    assert(c.query("pk == 42", Seq("s")).as[String].collect().toList
      == List("e42"))
    assert(c.count("pk in [41, 44, 999]") == 2L)
    assert(c.get(Seq(43L), Seq("s")).as[String].collect().toList
      == List("o43"))
  }

  test("truncate and compact stay correct under pruning") {
    val (c, path) = multiSeg()
    c.truncate()
    // files still exist, but the horizon cut hides every row — a pruned
    // rebuild must re-apply the cut, not resurrect from disk
    assert(c.count("pk == 150") == 0L)
    c.insert(Seq((150L, 1L, "post")).toDF("pk", "grp", "s"))
    c.flush(path)
    assert(c.query("pk == 150", Seq("s")).as[String].collect().toList
      == List("post"))
    // compaction output (its pk range is computed on first read) plus one
    // more disjoint segment
    c.insert((160L until 170L).map(i => (i, i % 7, s"v$i")).toDF("pk", "grp", "s"))
    c.flush(path)
    c.delete("pk == 165")
    c.compact(path)
    c.insert((500L until 510L).map(i => (i, i % 7, s"v$i")).toDF("pk", "grp", "s"))
    c.flush(path)
    def exact(coll: Collection, newPk: Long, total: Long): Unit = {
      val Seq(compacted, fresh) = coll.plannedSegments("")
      assert(coll.plannedSegments("pk == 150") == Seq(compacted))
      assert(coll.plannedSegments(s"pk == $newPk") == Seq(fresh))
      assert(coll.plannedSegments(s"pk in [160, $newPk]") == Seq(compacted, fresh))
      assert(coll.plannedSegments("160 <= pk < 170") == Seq(compacted))
      assert(coll.plannedSegments("pk == 50").isEmpty) // truncated and compacted away
      assert(coll.query("pk == 150", Seq("s")).as[String].collect().toList
        == List("post"))
      assert(coll.query(s"pk == $newPk", Seq("s")).as[String].collect().toList
        == List(s"v$newPk"))
      assert(coll.count(s"pk in [150, 165, 169, $newPk, 999]") == 3L)
      assert(coll.count("160 <= pk < 170") == 9L)
      assert(coll.count("pk >= 160") == total - 1L)
      assert(coll.count() == total)
    }
    exact(c, 505L, 20L)
    // an opened root is one live segment; a flush under it adds a second
    // that the root's frame must not also read
    val reopened = Collection.open(spark, CollectionSchema(pkField = "pk"), path)
    reopened.insert((700L until 710L).map(i => (i, i % 7, s"v$i")).toDF("pk", "grp", "s"))
    reopened.flush(path)
    assert(reopened.plannedSegments("pk == 505") == reopened.plannedSegments("pk == 150"))
    exact(reopened, 705L, 30L)
  }
}
