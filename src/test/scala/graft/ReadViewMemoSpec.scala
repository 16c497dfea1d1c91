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

  /** Ids of the cached RDDs alive now, local checkpoints (write inputs)
    * left out.
    */
  private def cachePins(): Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  test("a pinned sealed collapse stays resident across writes") {
    val (c, _) = multiSeg()
    var model = ((0L until 300L) :+ 400L).map(i => i -> (i % 7, s"v$i")).toMap
    val baseline = cachePins()
    // with no write in between, the pinned view serves every read: the
    // collapse stays a plan
    (1 to 3).foreach(_ => assert(c.count() == model.size.toLong))
    assert(c.residentCollapse.isEmpty, "reads with no write pinned the collapse")
    assert((cachePins() -- baseline).size == 1, "more than the view pinned")
    // read again after a write dropped the view memo, the collapse pins;
    // a single read pins no view, so what stays cached is the collapse
    c.insert(rows(Seq(500L)))
    model += 500L -> (500L % 7, "v500")
    assert(c.count() == model.size.toLong)
    val Some(r) = c.residentCollapse
    val rPins = cachePins() -- baseline
    assert(rPins.size == 1 && r.storageLevel.useMemory)
    def write(label: String)(f: => Unit): Unit = {
      f
      (1 to 2).foreach(_ => assert(c.count() == model.size.toLong, label))
      assert(pkReads(c) == expected(model), label)
      assert(c.residentCollapse.exists(_ eq r), s"$label replaced the collapse")
      assert(rPins.subsetOf(cachePins()), s"$label unpersisted the collapse")
    }
    write("insert") {
      c.insert(rows(Seq(501L)))
      model += 501L -> (501L % 7, "v501")
    }
    write("upsert") {
      c.upsert(rows(Seq(50L, 250L, 400L), "u"))
      model ++= Seq(50L, 250L, 400L).map(i => i -> (i % 7, s"u$i"))
    }
    write("deletePks") {
      c.deletePks(Seq(150L, 400L))
      model --= Seq(150L, 400L)
    }
    write("delete(expr)") {
      c.delete("pk in [160, 290]")
      model --= Seq(160L, 290L)
    }
    write("setField") {
      c.setField("grp", Seq((50L, 9L), (250L, 9L)).toDF("pk", "grp"))
      model ++= Seq(50L, 250L).map(i => i -> (9L, model(i)._2))
    }
    // the read memo pins views; a NotLoad collection holds no load pin
    assert(!c.sealedStorageLevel.exists(_.useMemory))
  }

  test("flush and compact move the collapse pin: exactly one remains") {
    val (c, path) = multiSeg()
    val model = (0L until 300L).toSet + 400L + 500L
    c.count()
    c.insert(rows(Seq(500L)))
    c.count()
    var r = c.residentCollapse.get
    def moved(label: String): Unit = {
      val Some(next) = c.residentCollapse
      assert(!(next eq r), s"$label kept the old collapse")
      assert(!r.storageLevel.useMemory, s"$label left the old collapse pinned")
      assert(next.storageLevel.useMemory, label)
      assert(c.count() == model.size.toLong, label)
      assert(c.residentCollapse == Some(next), label)
      r = next
    }
    c.flush(path)
    moved("flush")
    c.deletePks(Seq(10L))
    c.insert(rows(Seq(10L)))
    c.flush(path)
    c.compact(path)
    moved("compact")
    c.close()
    assert(c.residentCollapse.isEmpty && !r.storageLevel.useMemory,
      "close left the collapse pinned")
  }

  test("one collapse is held: a read in another scope replaces it") {
    val (c, _) = multiSeg()
    val default = Seq(Collection.DefaultPartition)
    c.count(partitionNames = default)
    c.insert(rows(Seq(500L)))
    assert(c.count(partitionNames = default) == 302L)
    val Some(keyed) = c.residentCollapse
    assert(keyed.storageLevel.useMemory)
    // the full scope takes the slot; its first read pins nothing
    assert(c.count() == 302L)
    assert(c.residentCollapse.isEmpty, "the keyed collapse stayed pinned")
    assert(!keyed.storageLevel.useMemory, "the replaced collapse kept its pin")
    c.insert(rows(Seq(501L)))
    assert(c.count() == 303L)
    assert(c.residentCollapse.exists(_.storageLevel.useMemory))
  }

  test("a Session or BoundedStaleness read below the collapse watermark sees the superseded version") {
    val (c, path) = multiSeg()
    c.count()
    val before = c.upsert(rows(Seq(50L), "u"))
    c.count() // read again after a write: pinned
    val tUp = c.upsert(rows(Seq(50L), "w"))
    c.flush(path) // the pin moves; the collapse's watermark is now tUp
    assert(c.residentCollapse.nonEmpty)
    def s50(v: DataFrame) =
      v.filter(col("pk") === 50L).select("s").as[String].collect().toList
    assert(s50(c.readView()) == List("w50"))
    assert(s50(c.readView(ConsistencyLevel.BoundedStaleness,
      staleness = tUp - before)) == List("u50"))
    assert(s50(c.readView(ConsistencyLevel.Session, staleness = Long.MaxValue / 2,
      sessionTs = before)) == List("u50"))
    assert(s50(c.readView(ConsistencyLevel.BoundedStaleness,
      staleness = tUp - before + 1)) == List("v50"))
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
