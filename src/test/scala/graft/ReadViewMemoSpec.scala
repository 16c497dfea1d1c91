package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{ConsistencyLevel, PkPruning}

/** The driver-side read-view memo: a pinned unpruned view serves the
  * pk-anchored reads of its own scope (and only of its scope), eviction
  * is LRU, and a scope with a clock or random function is never
  * memoized.
  */
class ReadViewMemoSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], tag: String = "v") =
    ids.map(i => (i, i % 7, s"$tag$i")).toDF("pk", "grp", "s")

  /** Three sealed segments with disjoint pk ranges plus a growing tail. */
  private def multiSeg(): (Collection, String) = {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_viewmemo_" + System.nanoTime()
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      c.insert(rows(r))
      c.flush(path)
    }
    c.insert(rows(Seq(400L)))
    (c, path)
  }

  private def dom(pks: Long*): Option[PkPruning.Domain] =
    PkPruning.points(pks.map(p => p: Any))

  /** The unpruned Strong view, read three times so it is pinned. */
  private def pinFull(c: Collection) = {
    (1 to 3).foreach(_ => c.count())
    c.readView()
  }

  /** Every pk-anchored read shape the facade has, as comparable values. */
  private def pkReads(c: Collection): Seq[Any] = Seq(
    c.get(Seq(150L, 250L, 400L, 500L), Seq("pk", "s"))
      .as[(Long, String)].collect().sorted.toList,
    c.query("pk == 50", Seq("pk", "s")).as[(Long, String)].collect().toList,
    c.count("100 <= pk < 260"),
    c.query("pk >= 290", Seq("pk", "s")).as[(Long, String)].collect()
      .sorted.toList,
    c.queryAgg("pk >= 250", Seq("grp", "count(*)"), groupByFields = Seq("grp"))
      .as[(Long, Long)].collect().sorted.toList,
    c.queryIterator("", Seq("pk", "s"), batch = 5, lastPk = Some(197L))
      .as[(Long, String)].collect().toList)

  /** The same reads answered from a driver-side model (pk -> (grp, s)). */
  private def expected(m: Map[Long, (Long, String)]): Seq[Any] = {
    def rowsWhere(p: Long => Boolean) =
      m.toList.collect { case (k, (_, s)) if p(k) => (k, s) }.sorted
    Seq(
      rowsWhere(Set(150L, 250L, 400L, 500L)),
      rowsWhere(_ == 50L),
      m.keys.count(k => k >= 100L && k < 260L).toLong,
      rowsWhere(_ >= 290L),
      m.collect { case (k, (g, _)) if k >= 250L => g }.groupBy(identity)
        .map { case (g, gs) => (g, gs.size.toLong) }.toList.sorted,
      rowsWhere(_ > 197L).take(5))
  }

  test("a pinned full view serves pk reads with the same answers") {
    val (c, path) = multiSeg()
    var model = ((0L until 300L) :+ 400L).map(i => i -> (i % 7, s"v$i")).toMap
    // unpinned: every pk read builds its own pruned view
    assert(pkReads(c) == expected(model))
    assert(!(c.readView(pkDomain = dom(50L)) eq c.readView()))
    val full = pinFull(c)
    assert(full.storageLevel.useMemory)
    // pinned: pk reads resolve to the resident view and scan memory
    assert(c.readView(pkDomain = dom(50L)) eq full)
    assert(c.query("pk == 50", Seq("s")).queryExecution.optimizedPlan
      .toString.contains("InMemoryRelation"))
    assert(pkReads(c) == expected(model))

    // a pk-anchored delete evaluates its victims on the resident view
    c.delete("pk in [150, 290, 999]")
    model = model -- Seq(150L, 290L)
    assert(pkReads(c) == expected(model), "after delete")

    // every mutation is visible to pk reads, before and after re-pinning
    def mutate(label: String)(f: => Unit): Unit = {
      assert(pkReads(c) == expected(model), s"before $label")
      pinFull(c)
      f
      assert(pkReads(c) == expected(model), s"after $label")
      assert(pinFull(c) eq c.readView(pkDomain = dom(50L)), label)
      assert(pkReads(c) == expected(model), s"after $label, pinned")
    }
    mutate("insert") {
      c.insert(rows(Seq(500L, 295L)))
      model = model ++ Seq(500L -> (500L % 7, "v500"), 295L -> (295L % 7, "v295"))
    }
    mutate("upsert") {
      c.upsert(rows(Seq(50L, 250L), "u"))
      model = model ++ Seq(50L -> (50L % 7, "u50"), 250L -> (250L % 7, "u250"))
    }
    mutate("deletePks") {
      c.deletePks(Seq(400L, 199L))
      model = model -- Seq(400L, 199L)
    }
    mutate("flush")(c.flush(path))
    mutate("compact")(c.compact(path))
  }

  /** A read scope: how to read it over an optional pk domain, and which
    * of the probe pks it sees.
    */
  private case class Scope(name: String,
      read: (Collection, Option[PkPruning.Domain]) => DataFrame,
      sees: Set[Long])

  test("a pinned view never serves a read of another scope") {
    val probe = Seq(50L, 150L, 300L)
    def scopes(t0: Long, t1: Long, t2: Long) = Seq(
      Scope("strong", (c, d) => c.readView(pkDomain = d), Set(50L, 150L, 300L)),
      Scope("partition", (c, d) =>
        c.readView(partitionNames = Seq("p1"), pkDomain = d), Set(50L, 300L)),
      Scope("bounded", (c, d) => c.readView(ConsistencyLevel.BoundedStaleness,
        staleness = t2 - t1, pkDomain = d), Set(50L, 150L)),
      Scope("session", (c, d) => c.readView(ConsistencyLevel.Session,
        staleness = t2 - t0, sessionTs = t0, pkDomain = d), Set(50L)),
      Scope("ignoreGrowing", (c, d) =>
        c.readView(ignoreGrowing = true, pkDomain = d), Set(50L, 150L)))

    scopes(0L, 0L, 0L).map(_.name).foreach { pinned =>
      // a fresh collection per pinned scope keeps the memo under capacity
      val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
      val path = "/tmp/graft_test_viewscope_" + System.nanoTime()
      c.createPartition("p1")
      c.createPartition("p2")
      val t0 = c.insertInto("p1", rows(0L until 100L))
      c.flush(path)
      val t1 = c.insertInto("p2", rows(100L until 200L))
      c.flush(path)
      val t2 = c.insertInto("p1", rows(Seq(300L))) // growing tail
      val all = scopes(t0, t1, t2)
      val scope = all.find(_.name == pinned).get
      val view = (1 to 3).map(_ => scope.read(c, None)).last
      assert(view.storageLevel.useMemory, pinned)
      all.foreach { s =>
        val v = s.read(c, dom(probe: _*))
        assert((v eq view) == (s.name == pinned), s"pinned $pinned, read ${s.name}")
        assert(v.filter(col("pk").isin(probe: _*)).select("pk").as[Long]
          .collect().toSet == s.sees, s"pinned $pinned, read ${s.name}")
      }
    }
  }

  test("LRU: a hot pinned view outlives a stream of one-shot scopes") {
    val (c, _) = multiSeg()
    val hot = pinFull(c)
    (1L to 12L).foreach { i =>
      // a distinct BoundedStaleness scope per step: 12 one-shot entries
      // stream through the capacity-8 memo
      c.readView(ConsistencyLevel.BoundedStaleness, staleness = i)
      assert(c.readView() eq hot, s"step $i")
    }
    assert(c.viewCacheEvictions >= 4L)
    assert(hot.storageLevel.useMemory)
  }

  test("LRU: a hot cached filter outlives a stream of one-shot filters") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.insert((0L until 40L).map(i => (i, i % 20)).toDF("pk", "grp"))
    assert(c.queryCached("grp == 0", Seq("pk")).count() == 2)
    // 19 one-shot filters stream through the 16-entry cache, the hot
    // filter read between each: every repeat of it is a hit
    for (g <- 1 until 20) {
      assert(c.queryCached(s"grp == $g", Seq("pk")).count() == 2)
      assert(c.queryCached("grp == 0", Seq("pk")).count() == 2)
    }
    assert(c.filterCacheStats == ((19L, 20L)))
  }

  test("clock and random scopes are never memoized") {
    val clock: Seq[Column] = Seq(current_timestamp(), current_date(), now(),
      unix_timestamp(), localtimestamp(), rand())
    clock.foreach(fn => assert(
      Collection.nondetFnPattern.matcher(fn.toString).find(), fn.toString))
    val (c, _) = multiSeg()
    // a ttl (in ts ticks) that depends on the clock: huge, so every row
    // stays visible, but a memoized plan would freeze one instant
    val clockTtl = Some(unix_timestamp() * 0L + lit(1L << 40))
    val views = (1 to 3).map(_ => c.readView(ttl = clockTtl))
    assert(!(views(0) eq views(1)) && !(views(1) eq views(2)))
    assert(views.forall(!_.storageLevel.useMemory))
    assert(views.last.count() == 301L)
    // the same ttl without the clock is memoized and pinned
    val fixedTtl = Some(lit(0L) + lit(1L << 40))
    val fixed = (1 to 3).map(_ => c.readView(ttl = fixedTtl))
    assert(fixed.forall(_ eq fixed.head))
    assert(fixed.head.storageLevel.useMemory)
  }
}
