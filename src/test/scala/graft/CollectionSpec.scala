package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric
import graft.operators.ConsistencyLevel

/** End-to-end facade scenario, mirroring the reference's integration
  * flow (tests/integration: insert → search → delete → upsert → query).
  */
class CollectionSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Long): Seq[Float] =
    (0 until 4).map(d => ((seed * (d + 3)) % 97).toFloat / 97f)

  private def mkRows(ids: Seq[Long]) =
    ids.map(i => (i, vec(i), s"doc $i", i % 5)).toDF("pk", "emb", "txt", "grp")

  private def fresh() = {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 50L))
    c
  }

  test("insert makes rows immediately searchable (growing segment)") {
    val c = fresh()
    assert(c.count() == 50)
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 3, metric = Metric.L2,
      outputFields = Seq("pk", "txt"))
    // nearest neighbor of vec(7) is row 7 itself at distance 0
    assert(hits.filter($"rank" === 1).select($"pk").as[Long].head() == 7L)
  }

  test("delete by expression hides rows; tombstones don't resurrect") {
    val c = fresh()
    c.delete("grp == 2") // pks 2, 7, 12, ... (10 rows)
    assert(c.count() == 40)
    assert(c.count("grp == 2") == 0)
    // a later insert of a deleted pk IS visible (newer ts wins)
    c.insert(mkRows(Seq(7L)))
    assert(c.count("pk == 7") == 1)
    // and stays visible alongside the other survivors
    assert(c.count() == 41)
  }

  test("delete is by-time: rows inserted after the delete survive it") {
    val c = fresh()
    c.delete("grp == 1")
    val before = c.count()
    c.insert(mkRows(Seq(1L, 6L))) // same pks as deleted rows, later ts
    assert(c.count() == before + 2)
  }

  test("upsert is last-writer-wins at read time") {
    val c = fresh()
    c.upsert(Seq((3L, vec(99), "updated doc 3", 9L)).toDF("pk", "emb", "txt", "grp"))
    assert(c.count() == 50) // still one row per pk
    val got = c.get(Seq(3L), Seq("pk", "txt", "grp")).as[(Long, String, Long)].head()
    assert(got == ((3L, "updated doc 3", 9L)))
  }

  test("query with expression language, projection, sort, limit") {
    val c = fresh()
    val rows = c.query("grp >= 3 and pk < 20", Seq("pk", "grp"),
      limit = 5, orderBy = Seq(col("pk").asc))
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(3L, 4L, 8L, 9L, 13L))
  }

  test("filtered search respects deletes and the filter") {
    val c = fresh()
    c.delete("pk == 7")
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 3, metric = Metric.L2,
      filterExpr = "grp != 4", outputFields = Seq("pk", "grp"))
      .select($"pk", $"grp").as[(Long, Long)].collect()
    assert(!hits.map(_._1).contains(7L)) // deleted
    assert(hits.forall(_._2 != 4L))      // filtered
  }

  test("flush seals the growing tail and reads stay identical") {
    val c = fresh()
    c.delete("grp == 0")
    val path = "/tmp/graft_test_collection_flush_" + System.nanoTime()
    val before = c.query("pk >= 0", Seq("pk")).as[Long].collect().sorted
    c.flush(path)
    val after = c.query("pk >= 0", Seq("pk")).as[Long].collect().sorted
    assert(before.toList == after.toList)
    // sealed segment files actually exist
    assert(spark.read.parquet(s"$path/seg-*").count() == 50)
  }

  test("repeated flushes seal incremental segments, not full rewrites") {
    val c = fresh()
    val path = "/tmp/graft_test_collection_reflush_" + System.nanoTime()
    c.flush(path)
    c.insert(mkRows(100L until 110L))
    c.flush(path) // second flush to the SAME path: only the new tail seals
    c.insert(mkRows(200L until 205L))
    c.flush(path)
    assert(c.count() == 65)
    val segs = new java.io.File(path).listFiles().filter(_.getName.startsWith("seg-"))
    assert(segs.length == 3)
    // each segment holds only its tail (no full-dataset rewrite)
    assert(segs.map(s => spark.read.parquet(s.getPath).count()).sorted.toList
      == List(5L, 10L, 50L))
  }

  test("describeIndex reports indexed/pending/total rows across builds") {
    val c = fresh() // 50 rows
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    val d1 = c.describeIndex("emb")
    assert(d1.indexType == "IVF_FLAT" && d1.nlist == 4)
    assert(d1.indexedRows == 50 && d1.totalRows == 50 && d1.pendingRows == 0)
    c.insert(mkRows(100L until 120L)) // post-build tail → pending
    val d2 = c.describeIndex("emb")
    assert(d2.totalRows == 70 && d2.pendingRows == 20 && d2.indexedRows == 50)
    c.createIndex("emb", nlist = 4, trainSample = 1000) // rebuild catches up
    val d3 = c.describeIndex("emb")
    assert(d3.indexedRows == 70 && d3.pendingRows == 0 && d3.totalRows == 70)
    intercept[NoSuchElementException](c.describeIndex("txt"))
  }

  test("aliases resolve at call time: alter re-points without touching readers") {
    val blue = fresh() // 50 rows
    val green = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    green.insert(mkRows(0L until 10L))
    val name = "prod_" + System.nanoTime()
    Collection.createAlias(name, blue)
    assert(Collection.resolve(name).count() == 50)
    intercept[IllegalArgumentException](Collection.createAlias(name, green))
    Collection.alterAlias(name, green) // the zero-downtime swap
    assert(Collection.resolve(name).count() == 10)
    Collection.dropAlias(name)
    intercept[NoSuchElementException](Collection.resolve(name))
    intercept[NoSuchElementException](Collection.alterAlias(name, green))
    intercept[NoSuchElementException](Collection.dropAlias(name))
  }

  test("seal policy by capacity: growing tail auto-seals at the row bound") {
    val c = fresh() // 50 growing rows, policy not yet set — untracked
    val path = "/tmp/graft_test_collection_sealcap_" + System.nanoTime()
    c.setSealPolicy(SealPolicy(path, maxRows = 100))
    c.insert(mkRows(100L until 160L)) // 60 tracked < 100 → no seal
    assert(c.sealedSegmentCount(path) == 0)
    c.insert(mkRows(200L until 250L)) // 110 tracked ≥ 100 → auto-seal
    assert(c.sealedSegmentCount(path) == 1)
    c.insert(mkRows(300L until 310L)) // counter reset: 10 < 100 → no seal
    assert(c.sealedSegmentCount(path) == 1)
    // reads unchanged through the auto-seal: 50+60+50+10 rows visible
    assert(c.count() == 170)
  }

  test("seal policy by lifetime: an aged growing tail seals on the next write") {
    val c = fresh()
    val path = "/tmp/graft_test_collection_sealage_" + System.nanoTime()
    c.setSealPolicy(SealPolicy(path, maxAgeTicks = 3))
    c.insert(mkRows(100L until 105L)) // tail born at ts T
    c.delete("pk == 999") // no-op victim set, but advances the TSO
    c.delete("pk == 998")
    assert(c.sealedSegmentCount(path) == 0)
    c.insert(mkRows(200L until 205L)) // ts - T ≥ 3 → seals on this write
    assert(c.sealedSegmentCount(path) == 1)
    assert(c.count() == 60)
    c.clearSealPolicy()
    c.insert(mkRows(300L until 305L))
    assert(c.sealedSegmentCount(path) == 1) // policy removed: no more seals
  }

  test("bounded-staleness read excludes the newest write") {
    val c = fresh() // writes at ts=1
    c.insert(mkRows(Seq(100L))) // ts=2
    // staleness 1 tick: read at ts=1 — the tail insert is invisible
    assert(c.readView(ConsistencyLevel.BoundedStaleness, staleness = 1L)
      .count() == 50)
    assert(c.count() == 51) // strong sees it
  }

  test("autoID collections assign collision-free pks") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4), autoId = true))
    c.insert((0L until 10L).map(i => (vec(i), s"d$i")).toDF("emb", "txt"))
    c.insert((0L until 10L).map(i => (vec(i), s"e$i")).toDF("emb", "txt"))
    val pks = c.readView().select($"pk").as[Long].collect()
    assert(pks.distinct.length == 20)
  }

  test("open() serves an existing parquet layout") {
    mkRows(0L until 30L).withColumn("_ts", lit(0L))
      .write.mode("overwrite").parquet("/tmp/graft_test_collection_open")
    val c = Collection.open(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)),
      "/tmp/graft_test_collection_open")
    assert(c.count() == 30)
    c.delete("pk >= 20")
    assert(c.count() == 20)
  }

  test("hybrid search fuses sub-searches and requeries output fields") {
    val c = fresh()
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    // cosine is degenerate on this fixture (vectors are collinear until
    // the mod wraps), so both subs use L2 — one filtered, one not
    val rrf = c.hybridSearch(
      Seq(
        c.SubSearch("emb", qs, Metric.L2, k = 10),
        c.SubSearch("emb", qs, Metric.L2, filterExpr = "grp != 2", k = 10)),
      k = 5, ranker = "rrf", outputFields = Seq("pk", "txt"))
    assert(rrf.count() == 5)
    assert(rrf.columns.contains("txt"))
    // fusion semantics are pinned in FusionSpec; here assert the facade
    // wiring: the fused list is the L2 neighborhood of 7, and 7 itself —
    // excluded by the filtered sub (grp(7)==2), present in only one list
    // — is RRF-demoted below the two-list neighbors, out of the top 5
    val pks = rrf.select(col("pk")).as[Long].collect().toSet
    assert(!pks.contains(7L) && pks.forall(p => math.abs(p - 7L) <= 4))
    // but with a big enough k it's still reachable via the unfiltered sub
    val wide = c.hybridSearch(
      Seq(c.SubSearch("emb", qs, Metric.L2, k = 10),
        c.SubSearch("emb", qs, Metric.L2, filterExpr = "grp != 2", k = 10)),
      k = 12, ranker = "rrf")
    assert(wide.select(col("pk")).as[Long].collect().contains(7L))
    val w = c.hybridSearch(
      Seq(c.SubSearch("emb", qs, Metric.L2, weight = 0.3, k = 10),
        c.SubSearch("emb", qs, Metric.COSINE, weight = 0.7, k = 10)),
      k = 5, ranker = "weighted")
    assert(w.count() == 5)
  }

  test("query iterator pages by pk cursor") {
    val c = fresh()
    val p1 = c.queryIterator("grp == 1", Seq("pk", "grp"), batch = 3)
      .select(col("pk")).as[Long].collect()
    assert(p1.toList == List(1L, 6L, 11L))
    val p2 = c.queryIterator("grp == 1", Seq("pk", "grp"), batch = 3,
      lastPk = Some(p1.last))
      .select(col("pk")).as[Long].collect()
    assert(p2.toList == List(16L, 21L, 26L))
  }

  test("indexed search: exact at nprobe=nlist, correct across post-build writes") {
    val c = fresh()
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    // post-build churn: insert new, upsert existing, delete some
    c.insert(mkRows(60L until 70L))
    c.upsert(Seq((5L, vec(77), "doc 5 v2", 0L)).toDF("pk", "emb", "txt", "grp"))
    c.delete("pk == 8 or pk == 61")
    val qs = Seq((0L, vec(7)), (1L, vec(64))).toDF("qid", "qvec")
    val got = c.searchIndexed("emb", qs, k = 6, nprobe = 4, metric = Metric.L2,
        outputFields = Seq("pk", "txt"))
      .select(col("qid"), col("rank"), col("pk")).collect().toSet
    val want = c.search("emb", qs, k = 6, metric = Metric.L2,
        outputFields = Seq("pk", "txt"))
      .select(col("qid"), col("rank"), col("pk")).collect().toSet
    assert(got == want) // nprobe = nlist: exhaustive == brute force
    // deleted pks never surface; the upserted vector reflects v2
    val pks = got.map(_.getLong(2))
    assert(!pks.contains(8L) && !pks.contains(61L))
  }

  test("post-build rows: indexed search probe-prunes them and stays exact at nprobe=nlist") {
    val c = fresh()
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    c.insert(mkRows(100L until 140L))
    c.insert(mkRows(140L until 160L))
    // recall at practical nprobe: a post-build row's own vector must come
    // back at rank 1 (its cluster IS the query's nearest centroid).
    // pk 155: vec() aliases mod 97, and 155 % 97 = 58 collides with no
    // sealed row (0-49) or other post-build row — the match is unique.
    val qs = Seq((0L, vec(155))).toDF("qid", "qvec")
    val hits = c.searchIndexed("emb", qs, k = 3, nprobe = 1, metric = Metric.L2)
    assert(hits.filter($"rank" === 1).select($"pk").as[Long].head() == 155L)
    // the post-build rows are probe-pruned, not brute-forced: with k
    // covering every visible row, nprobe=1 still returns the query's own
    // row and omits post-build rows that exact search returns
    val all = c.count().toInt
    val pruned = c.searchIndexed("emb", qs, k = all, nprobe = 1, metric = Metric.L2)
      .select($"pk").as[Long].collect().toSet
    val exact = c.search("emb", qs, k = all, metric = Metric.L2)
      .select($"pk").as[Long].collect().toSet
    val postBuild = (100L until 160L).toSet
    assert(pruned.contains(155L))
    assert((exact & postBuild).exists(pk => !pruned.contains(pk)))
    // exhaustive probes == brute force, post-build upserts/deletes included
    c.upsert(Seq((110L, vec(999), "doc 110 v2", 0L)).toDF("pk", "emb", "txt", "grp"))
    c.delete("pk == 150")
    val qs2 = Seq((0L, vec(7)), (1L, vec(145))).toDF("qid", "qvec")
    val got = c.searchIndexed("emb", qs2, k = 8, nprobe = 4, metric = Metric.L2)
      .select($"qid", $"rank", $"pk").collect().toSet
    val want = c.search("emb", qs2, k = 8, metric = Metric.L2, outputFields = Seq("pk"))
      .select($"qid", $"rank", $"pk").collect().toSet
    assert(got == want)
    assert(!got.map(_.getLong(2)).contains(150L))
  }

  test("CDC-applied rows surface in indexed search, probe-pruned like direct inserts") {
    val c = fresh()
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    // post-build rows from both sources: a direct insert and a replicated
    // feed whose rows carry the primary's timestamps
    c.insert(mkRows(100L until 110L))
    val primary = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    primary.insert(mkRows(200L until 210L))
    c.applyChanges(primary.changesSince(0L))
    // pk 205: 205 % 97 = 11 collides with sealed pk 11 — query vec(203)
    // instead (203 % 97 = 9... also collides). Compare against brute
    // force over the same view, which is the exactness contract anyway.
    val qs = Seq((0L, vec(205)), (1L, vec(104))).toDF("qid", "qvec")
    val got = c.searchIndexed("emb", qs, k = 6, nprobe = 4, metric = Metric.L2)
      .select($"qid", $"rank", $"pk").collect().toSet
    val want = c.search("emb", qs, k = 6, metric = Metric.L2, outputFields = Seq("pk"))
      .select($"qid", $"rank", $"pk").collect().toSet
    assert(got == want)
    // the CDC rows are genuinely reachable through the index
    assert(got.map(_.getLong(2)).exists(pk => pk >= 200L && pk < 210L))
    // ...and probe-pruned: with k covering every visible row, nprobe=1
    // returns the CDC row equal to the query and omits post-build rows
    // that exact search returns
    val all = c.count().toInt
    val q1 = Seq((0L, vec(205))).toDF("qid", "qvec")
    val pruned = c.searchIndexed("emb", q1, k = all, nprobe = 1, metric = Metric.L2)
      .select($"pk").as[Long].collect().toSet
    val exact = c.search("emb", q1, k = all, metric = Metric.L2)
      .select($"pk").as[Long].collect().toSet
    val postBuild = ((100L until 110L) ++ (200L until 210L)).toSet
    assert(pruned.contains(205L))
    assert((exact & postBuild).exists(pk => !pruned.contains(pk)))
  }

  test("changesSince refuses a cursor predating a truncate") {
    val c = fresh()
    c.truncate()
    c.insert(mkRows(300L until 305L))
    intercept[IllegalStateException] { c.changesSince(0L) }
    // a post-truncate cursor still works and carries the new inserts
    val feed = c.changesSince(c.truncateTs)
    assert(feed.filter($"_op" === "insert").count() == 5)
  }

  test("filter-result cache: repeated filters hit, writes invalidate, RLS scopes split") {
    val c = fresh()
    val r1 = c.queryCached("grp == 2", Seq("pk")).as[Long].collect().sorted
    assert(c.filterCacheStats == ((0L, 1L))) // cold: miss
    val r2 = c.queryCached("grp == 2", Seq("pk")).as[Long].collect().sorted
    assert(c.filterCacheStats == ((1L, 1L))) // warm: hit, same write-ts
    assert(r1.toSeq == r2.toSeq)
    // different projection over the same filter still hits (the cached
    // artifact is the filtered view, not the projected result)
    c.queryCached("grp == 2", Seq("pk", "txt"))
    assert(c.filterCacheStats == ((2L, 1L)))
    // a write advances the ts → same expression misses and sees new rows
    c.insert(Seq((500L, vec(500), "doc 500", 2L)).toDF("pk", "emb", "txt", "grp"))
    val r3 = c.queryCached("grp == 2", Seq("pk")).as[Long].collect().sorted
    assert(c.filterCacheStats == ((2L, 2L)))
    assert(r3.length == r1.length + 1 && r3.contains(500L))
    // a different RLS principal never shares a cached entry
    c.enableRls(Seq("grp == $current_user_tags['g']"))
    c.setUser(Rls.UserContext("alice", Map("g" -> "2")))
    val alice = c.queryCached("pk >= 0", Seq("pk")).as[Long].collect().toSet
    c.setUser(Rls.UserContext("bob", Map("g" -> "3")))
    val bob = c.queryCached("pk >= 0", Seq("pk")).as[Long].collect().toSet
    assert(c.filterCacheStats == ((2L, 4L))) // two scope-distinct misses
    assert(alice.intersect(bob).isEmpty && alice.nonEmpty && bob.nonEmpty)
  }

  test("CDC: replica applying the change feed converges to the primary") {
    val primary = fresh()
    primary.delete("grp == 2")
    primary.upsert(Seq((5L, vec(77), "doc 5 v2", 9L)).toDF("pk", "emb", "txt", "grp"))
    val replica = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    val syncTs = replica.applyChanges(primary.changesSince(0L))
    def view(c: Collection) = c.readView()
      .select($"pk", $"txt", $"grp").collect().toSet
    assert(view(replica) == view(primary))
    assert(replica.count() == 40) // 50 - 10 deleted; pk5 upsert replaces in place
    // incremental sync: only the delta ships, original timestamps kept
    primary.insert(mkRows(300L until 310L))
    primary.delete("pk == 3")
    primary.setField("grp", Seq((7L, 42L), (300L, 43L)).toDF("pk", "grp"))
    replica.applyChanges(primary.changesSince(syncTs))
    assert(view(replica) == view(primary))
    // replica stays writable and ordered after the feed horizon
    replica.insert(mkRows(900L until 905L))
    assert(replica.count() == primary.count() + 5)
    // replica-of-replica: the replica's own log (applied feeds plus its
    // local insert) reproduces its view
    val r2 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    r2.applyChanges(replica.changesSince(0L))
    assert(view(r2) == view(replica))
  }

  test("truncate clears data but keeps the collection usable") {
    val c = fresh()
    c.createIndex("emb", nlist = 2)
    c.truncate()
    assert(c.count() == 0)
    intercept[IllegalStateException] { // pre-truncate index is dropped
      c.searchIndexed("emb", Seq((0L, vec(1))).toDF("qid", "qvec"), 1, 2)
    }
    c.insert(mkRows(200L until 210L)) // post-truncate writes visible
    assert(c.count() == 10)
    assert(c.query("pk >= 0", Seq("pk")).as[Long].collect().min == 200L)
  }

  test("delete-by-expr evaluates on the visible view, not stale versions") {
    val c = fresh()
    // upsert pk 3 so its grp changes 3 -> 9; the OLD version had grp 3
    c.upsert(Seq((3L, vec(3), "doc 3 v2", 9L)).toDF("pk", "emb", "txt", "grp"))
    c.delete("grp == 3") // matches pks 3(old!), 8, 13, ... — old versions must NOT count
    assert(c.count("pk == 3") == 1) // survives: its CURRENT grp is 9
    assert(c.count("pk == 8") == 0) // currently grp 3 → deleted
  }

  test("string primary keys work through insert/delete/search/index") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert((0L until 30L).map(i => (s"doc-$i", vec(i), i % 3))
      .toDF("pk", "emb", "grp"))
    assert(c.count() == 30)
    c.deletePks(Seq("doc-4", "doc-5"))
    assert(c.count() == 28)
    val qs = Seq((0L, vec(9))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 3, metric = Metric.L2,
      outputFields = Seq("pk"))
    assert(hits.filter($"rank" === 1).select($"pk").as[String].head() == "doc-9")
    c.createIndex("emb", nlist = 2)
    val idx = c.searchIndexed("emb", qs, k = 3, nprobe = 2, metric = Metric.L2)
      .select($"qid", $"rank", $"pk").collect().toSet
    val brute = c.search("emb", qs, k = 3, metric = Metric.L2)
      .select($"qid", $"rank", $"pk").collect().toSet
    assert(idx == brute)
  }

  test("row-level security: policies filter every read by user context") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert((0L until 20L).map(i =>
        (i, vec(i), if (i % 2 == 0) "us" else "eu", s"tenant${i % 4}"))
      .toDF("pk", "emb", "region", "tenant"))
    c.enableRls(Seq("region == $current_user_tags['region']"))
    // enforced: no user context → reads fail
    intercept[IllegalStateException] { c.count() }
    c.setUser(Rls.UserContext("alice", Map("region" -> "us")))
    assert(c.count() == 10)
    assert(c.query("pk >= 0", Seq("pk", "region"))
      .select($"region").distinct().as[String].collect().toList == List("us"))
    // searches are scoped too
    val qs = Seq((0L, vec(3))).toDF("qid", "qvec") // pk 3 is an eu row
    val hits = c.search("emb", qs, k = 5, metric = Metric.L2, outputFields = Seq("pk"))
    assert(!hits.select($"pk").as[Long].collect().contains(3L))
    // a user missing the referenced tag sees nothing (deny by default)
    c.setUser(Rls.UserContext("bob"))
    assert(c.count() == 0)
    c.disableRls()
    assert(c.count() == 20)
  }

  test("attached stream feeds the growing segment with MVCC semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 10L)) // direct insert first
    val input = MemoryStream[(Long, Seq[Float], String, Long)]
    val stream = input.toDF().toDF("pk", "emb", "txt", "grp")
    val ck = "/tmp/graft_test_attach_ck_" + System.nanoTime()
    val q = c.attachStream(stream, ck)
    // pks chosen so vec(seed) is unique mod 97 within this fixture
    input.addData((250L, vec(250), "s1", 0L), (251L, vec(251), "s2", 1L))
    q.processAllAvailable()
    assert(c.count() == 12) // streamed rows immediately visible
    input.addData((5L, vec(55), "upserted via stream", 9L)) // LWW over pk 5
    q.processAllAvailable()
    q.stop()
    assert(c.count() == 12) // still one row per pk
    assert(c.get(Seq(5L), Seq("pk", "txt")).select($"txt").as[String].head()
      == "upserted via stream")
    // streamed rows are searchable like any growing-segment rows
    val hits = c.search("emb", Seq((0L, vec(251))).toDF("qid", "qvec"),
      k = 1, metric = Metric.L2, outputFields = Seq("pk"))
    assert(hits.select($"pk").as[Long].head() == 251L)
  }

  test("named partitions: scoped reads, search pruning, drop releases rows") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 40L))
    c.insert(mkRows(40L until 50L)) // default partition
    assert(c.listPartitions == Seq(Collection.DefaultPartition, "p1", "p2"))
    assert(c.count() == 50)
    assert(c.count(partitionNames = Seq("p1")) == 20)
    assert(c.count(partitionNames = Seq("p1", "p2")) == 40)
    // search scoped to p2 can only surface p2 pks, even though pk 7's
    // vector is the global nearest for vec(7)
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 3, metric = Metric.L2,
      outputFields = Seq("pk"), partitionNames = Seq("p2"))
      .select($"pk").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(pk => pk >= 20 && pk < 40))
    // unknown names error (reference behavior), default is undroppable
    intercept[IllegalArgumentException] { c.count(partitionNames = Seq("nope")) }
    intercept[IllegalArgumentException] { c.dropPartition(Collection.DefaultPartition) }
    // drop releases the rows and later re-creation starts empty
    c.dropPartition("p2")
    assert(c.count() == 30)
    c.createPartition("p2")
    assert(c.count(partitionNames = Seq("p2")) == 0)
  }

  test("statistics and the output_fields wildcard") {
    val c = fresh()
    c.delete("grp == 0")
    assert(c.statistics("row_count").toLong == c.count())
    val cols = c.query("pk == 3", Seq("*")).columns.toSet
    assert(Set("pk", "emb", "txt", "grp").subsetOf(cols), s"wildcard missed: $cols")
    assert(c.get(Seq(3L), Seq("*")).columns.toSet == cols)
  }

  test("database namespaces: two-level registry, drop releases resources") {
    val db = s"tenant_${System.nanoTime()}" // registry is JVM-global; stay unique
    Collection.createDatabase(db)
    assert(Collection.listDatabases.contains(db))
    intercept[IllegalArgumentException] { Collection.createDatabase(db) }
    val c = fresh()
    Collection.registerCollection("docs", c, db)
    assert(Collection.hasCollection("docs", db))
    assert(!Collection.hasCollection("docs")) // default db is a separate namespace
    assert(Collection.listCollections(db) == Seq("docs"))
    assert(Collection.getCollection("docs", db).count() == 50)
    // an alias pointing at the collection dies with it
    val alias = s"docs_alias_${System.nanoTime()}"
    Collection.createAlias(alias, c)
    // a non-empty database refuses to drop
    intercept[IllegalArgumentException] { Collection.dropDatabase(db) }
    c.createIndex("emb", nlist = 2)
    Collection.dropCollection("docs", db)
    assert(!Collection.hasCollection("docs", db))
    intercept[NoSuchElementException] { Collection.resolve(alias) }
    // close() released the index state: indexed search now fails
    intercept[Exception] {
      c.searchIndexed("emb", Seq((0L, vec(3))).toDF("qid", "qvec"),
        k = 1, nprobe = 2, metric = Metric.L2)
    }
    Collection.dropDatabase(db) // now empty → allowed
    assert(!Collection.listDatabases.contains(db))
    intercept[IllegalArgumentException] { Collection.dropDatabase("default") }
  }

  test("load/release pin and unpin the sealed layout; flush keeps it pinned") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 20L))
    val dir = "/tmp/graft_test_load_" + System.nanoTime()
    c.flush(dir)
    assert(c.loadState == "NotLoad")
    c.load()
    assert(c.loadState == "Loaded")
    assert(c.sealedStorageLevel.exists(_.useMemory), "load must pin in memory")
    assert(c.count() == 20)
    // flushing more data keeps the collection loaded
    c.insert(mkRows(20L until 30L))
    c.flush(dir)
    assert(c.loadState == "Loaded" && c.sealedStorageLevel.exists(_.useMemory))
    assert(c.count() == 30)
    c.release()
    assert(c.loadState == "NotLoad")
    assert(c.sealedStorageLevel.exists(!_.useMemory), "release must unpin")
    assert(c.count() == 30) // still served from disk
  }

  /** Ids of the cached RDDs alive now. Local checkpoints are left out:
    * they hold write inputs (tombstones, blob deltas) for the
    * collection's life by design, and are no load pin.
    */
  private def cachePins(): Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  test("a full load stays pinned through flush, compact and forceMerge; close leaves no pin") {
    val before = cachePins()
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    val dir = "/tmp/graft_test_repin_" + System.nanoTime()
    c.insert(mkRows(0L until 20L))
    c.flush(dir)
    c.load()
    def resident(step: String, rows: Long): Unit = {
      assert(c.count() == rows, step) // the read materializes the pin
      assert(c.sealedStorageLevel.exists(_.useMemory),
        s"$step left the sealed layout unpinned")
    }
    resident("load", 20)
    c.insert(mkRows(20L until 30L))
    c.flush(dir)
    resident("flush", 30)
    c.deletePks(Seq(0L, 1L))
    c.compact(dir)
    resident("compact", 28)
    c.insert(mkRows(30L until 40L))
    c.flush(dir)
    c.forceMerge(dir, 2048)
    assert(c.getPersistentSegmentInfo.size == 1)
    resident("forceMerge", 38)
    c.close()
    assert(cachePins() -- before == Set.empty, "close left cache pins behind")
  }

  test("a partition-scoped load never pins the full layout; close leaves no pin") {
    val before = cachePins()
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 50L))
    val dir = "/tmp/graft_test_repin_part_" + System.nanoTime()
    c.flush(dir)
    c.loadPartitions(Seq("p1"))
    assert(c.count() == 20)
    assert(!c.sealedStorageLevel.exists(_.useMemory),
      "loadPartitions pinned the full layout")
    c.insertInto("p1", mkRows(50L until 60L))
    c.insertInto("p2", mkRows(60L until 70L))
    c.flush(dir)
    assert(c.count() == 30)
    assert(!c.sealedStorageLevel.exists(_.useMemory),
      "flush under a partition load pinned the full layout")
    c.close()
    assert(cachePins() -- before == Set.empty, "close left cache pins behind")
  }

  test("truncate on a NotLoad collection pins nothing") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 20L))
    c.flush("/tmp/graft_test_repin_trunc_" + System.nanoTime())
    val before = cachePins()
    c.truncate()
    c.insert(mkRows(20L until 25L))
    assert(c.count() == 5)
    assert(!c.sealedStorageLevel.exists(_.useMemory), "truncate pinned the sealed layout")
    assert(cachePins() -- before == Set.empty, "truncate pinned a NotLoad collection")
  }

  test("a loaded TEXT-LOB collection moves its blob-store pin through flush and lobGc; close leaves none") {
    val before = cachePins()
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      textFields = Map("text" -> TextFieldSpec()), textInlineThreshold = 16))
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, s"doc $i " + ("x" * 32))).toDF("id", "text")
    val dir = "/tmp/graft_test_repin_lob_" + System.nanoTime()
    c.insert(docs(1L to 5L))
    c.flush(dir)
    c.load()
    assert(c.lobBlobCount == 5) // materializes the blob-store pin
    c.insert(docs(6L to 8L))
    c.flush(dir)
    assert(c.lobBlobCount == 8)
    c.deletePks(Seq(1L))
    c.compact(dir)
    assert(c.lobGc(dir) == 1L)
    assert(c.lobBlobCount == 7)
    assert(c.query("id == 8", Seq("id", "text")).as[(Long, String)].head()._2
      .endsWith("x" * 32))
    c.close()
    assert(cachePins() -- before == Set.empty, "close left cache pins behind")
  }

  test("close drops a partition-scoped load exactly like release") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 50L))
    c.flush("/tmp/graft_test_repin_close_" + System.nanoTime())
    c.loadPartitions(Seq("p1"))
    assert(c.count() == 20)
    c.close()
    assert(c.loadState == "NotLoad" && c.describeLoadedPartitions.isEmpty)
    assert(c.count() == 50, "close kept serving the partition scope")
  }

  test("segment records cover exactly the live segments through flush, compact, forceMerge and sweep") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    val dir = "/tmp/graft_test_segrec_" + System.nanoTime()
    var flushed = 0L
    def coherent(step: String): Unit = {
      // a pk read fills the live records' summaries and blooms
      assert(c.count("pk in [5, 15, 25, 35, 45]") == flushed, step)
      assert(c.segmentRecordDirs == c.plannedSegments("").toSet,
        s"$step: records ${c.segmentRecordDirs} vs live ${c.plannedSegments("")}")
    }
    def flushRows(step: String): Unit = {
      c.insert(mkRows(flushed * 10L until flushed * 10L + 10L))
      c.flush(dir)
      flushed += 1
      coherent(step)
    }
    (1 to 3).foreach(i => flushRows(s"flush $i"))
    c.deletePks(Seq(0L))
    c.compact(dir)
    coherent("compact")
    (4 to 5).foreach(i => flushRows(s"flush $i"))
    c.forceMerge(dir, 2048)
    assert(c.plannedSegments("").size == 1)
    coherent("forceMerge")
    c.retentionSweep(dir)
    coherent("retentionSweep")
    assert(c.count() == 49L)
  }

  test("ignore_growing serves sealed segments only") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 20L))
    val dir = "/tmp/graft_test_ig_" + System.nanoTime()
    c.flush(dir)
    c.insert(mkRows(20L until 30L)) // growing tail
    assert(c.count() == 30)
    assert(c.count(ignoreGrowing = true) == 20)
    val hits = c.search("emb", Seq((0L, vec(25))).toDF("qid", "qvec"),
      k = 30, metric = Metric.L2, outputFields = Seq("pk"), ignoreGrowing = true)
      .select($"pk").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(_ < 20L), "growing pks must not surface")
    // a delete recorded after the flush still masks the sealed row
    c.deletePks(Seq(5L))
    assert(c.count(ignoreGrowing = true) == 19)
  }

  test("flushed partitions prune directories at the file source") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 40L))
    val dir = "/tmp/graft_test_partflush_" + System.nanoTime()
    c.flush(dir)
    assert(c.count(partitionNames = Seq("p1")) == 20) // sealed reads still scope
    val plan = c.query("", Seq("pk"), partitionNames = Seq("p1"))
      .queryExecution.executedPlan.toString
    // the scope must reach the scan as a PARTITION filter (directory
    // pruning), not merely a post-scan row filter
    assert(plan.contains("PartitionFilters") && plan.contains("_partition"),
      s"expected a partition filter on the flushed scan:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*_partition".r.findFirstIn(plan).isDefined,
      s"_partition not inside PartitionFilters:\n$plan")
  }

  test("partial load prunes unloaded partitions' directories at the file source") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 40L))
    val dir = "/tmp/graft_test_partload_" + System.nanoTime()
    c.flush(dir)
    c.loadPartitions(Seq("p1"))
    // the implicit loaded-partitions scope must reach the flushed scan
    // as a PARTITION filter — at deployment scale an unloaded
    // partition's bytes are never read, not read-then-dropped
    val plan = c.query("", Seq("pk")).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_partition".r.findFirstIn(plan).isDefined,
      s"loaded-partition scope not inside PartitionFilters:\n$plan")
    assert(c.count() == 20)
    c.releasePartitions(Seq("p1"))
  }

  test("binlog export/import round-trips the collection (migration path)") {
    val c = fresh()
    c.delete("grp == 3")
    val dir = "/tmp/graft_test_binlog_" + System.nanoTime()
    c.exportBinlog(dir, segments = 3)
    val c2 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c2.importBinlog(dir)
    assert(c2.count() == c.count())
    val a = c.readView().select($"pk", $"txt", $"grp").orderBy($"pk").collect().toSeq
    val b = c2.readView().select($"pk", $"txt", $"grp").orderBy($"pk").collect().toSeq
    assert(a == b)
    // vectors survived the parquet-payload round trip and are searchable
    val hits = c2.search("emb", Seq((0L, vec(9))).toDF("qid", "qvec"),
      k = 1, metric = Metric.L2, outputFields = Seq("pk"))
    assert(hits.select($"pk").as[Long].head() == 9L)
  }

  test("facade survives concurrent insert/delete/flush racing an attached stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 50L))
    val input = MemoryStream[(Long, Seq[Float], String, Long)]
    val ck = "/tmp/graft_test_race_ck_" + System.nanoTime()
    val q = c.attachStream(input.toDF().toDF("pk", "emb", "txt", "grp"), ck)
    val flushDir = "/tmp/graft_test_race_flush_" + System.nanoTime()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    // four mutator/reader threads race the streaming micro-batches: all
    // pk ranges are disjoint, so the FINAL state is deterministic even
    // though the interleaving isn't — any torn read/write under
    // stateLock shows up as a wrong count or a thread exception
    val tIns = worker { (0 until 5).foreach(b =>
      c.insert(mkRows((1000L + b * 10) until (1000L + b * 10 + 10)))) }
    val tDel = worker { (0 until 5).foreach(b => c.deletePks(Seq(b.toLong))) }
    val tFlush = worker { (0 until 3).foreach { _ => c.flush(flushDir); Thread.sleep(10) } }
    val tRead = worker { (0 until 5).foreach(_ => c.count()) }
    (0 until 5).foreach(b => input.addData((3000L + b, vec(3000L + b), s"s$b", 0L)))
    q.processAllAvailable()
    Seq(tIns, tDel, tFlush, tRead).foreach(_.join())
    q.processAllAvailable()
    q.stop()
    assert(errs.isEmpty, s"concurrent facade ops threw: ${errs.toArray.mkString("; ")}")
    // 50 initial − 5 deleted + 50 threaded + 5 streamed
    assert(c.count() == 100)
    assert(c.count("pk < 5") == 0)
    // flushed state serves identically to pre-flush state
    assert(c.count("pk >= 1000 AND pk < 1050") == 50)
  }

  test("search order-by re-sorts returned hits by scalar fields") {
    val c = fresh()
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val hits = c.search("emb", qs, k = 5, metric = Metric.L2,
      outputFields = Seq("pk", "grp"), orderBy = Seq(col("grp").asc, col("pk").asc))
      .select($"pk", $"grp").as[(Long, Long)].collect()
    // same candidate set as plain top-5, different presentation order
    val plain = c.search("emb", qs, k = 5, metric = Metric.L2,
      outputFields = Seq("pk", "grp")).select($"pk").as[Long].collect().toSet
    assert(hits.map(_._1).toSet == plain)
    assert(hits.map(_._2).toList == hits.map(_._2).sorted.toList)
  }

  test("a shared index enforces each caller's RLS scope at query time") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert((0L until 40L).map(i =>
        (i, vec(i), if (i % 2 == 0) "us" else "eu"))
      .toDF("pk", "emb", "region"))
    c.createIndex("emb", nlist = 2) // built unscoped, shared by all users
    c.enableRls(Seq("region == $current_user_tags['region']"))
    val qs = Seq((0L, vec(9))).toDF("qid", "qvec")
    c.setUser(Rls.UserContext("alice", Map("region" -> "us")))
    val us = c.searchIndexed("emb", qs, k = 5, nprobe = 2, metric = Metric.L2,
      outputFields = Seq("pk")).select($"pk").as[Long].collect()
    assert(us.nonEmpty && us.forall(_ % 2 == 0))
    c.setUser(Rls.UserContext("bob", Map("region" -> "eu")))
    val eu = c.searchIndexed("emb", qs, k = 5, nprobe = 2, metric = Metric.L2,
      outputFields = Seq("pk")).select($"pk").as[Long].collect()
    assert(eu.nonEmpty && eu.forall(_ % 2 == 1))
  }

  test("facade partial upsert: carried fields, null-keeps, array ops") {
    import graft.operators.Mvcc
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(Seq(
      (1L, vec(1), "one", Seq("a", "b"), 10.0),
      (2L, vec(2), "two", Seq("x"), 20.0))
      .toDF("pk", "emb", "txt", "tags", "score"))
    // update only score for pk 1; append to tags for pk 2
    c.upsertPartial(Seq((1L, 99.0)).toDF("pk", "score"))
    c.upsertPartial(Seq((2L, Seq("y", "x"))).toDF("pk", "tags"),
      fieldOps = Map("tags" -> Mvcc.ArrayAppend))
    val got = c.readView()
      .select($"pk", $"txt", $"tags", $"score")
      .as[(Long, String, Seq[String], Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "one", Seq("a", "b"), 99.0))) // txt/tags carried
    assert(got(1) == ((2L, "two", Seq("x", "y", "x"), 20.0)))
    // vectors carried too: searching still finds pk 1 at its old spot
    val hit = c.search("emb", Seq((0L, vec(1))).toDF("qid", "qvec"), k = 1,
      metric = Metric.L2, outputFields = Seq("pk"))
      .select($"pk").as[Long].head()
    assert(hit == 1L)
  }

  test("facade range search and grouping search route through the MVCC view") {
    val c = fresh()
    c.delete("pk == 8")
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val inRange = c.rangeSearch("emb", qs, radius = 0.5, metric = Metric.L2,
      outputFields = Seq("pk"))
    val pks = inRange.select($"pk").as[Long].collect().toSet
    assert(pks.contains(7L) && !pks.contains(8L)) // deleted row never in range
    val grouped = c.groupBySearch("emb", qs, k = 3, groupFields = Seq("grp"),
      groupSize = 2, outputFields = Seq("pk")) // group col comes back on its own
    val byGrp = grouped.groupBy($"grp").count().as[(Long, Long)].collect().toMap
    assert(byGrp.size == 3 && byGrp.values.forall(_ <= 2))
    // topk takes the same cap as every other search verb
    val e = intercept[IllegalArgumentException](
      c.groupBySearch("emb", qs, k = 16385, groupFields = Seq("grp")))
    assert(e.getMessage.contains("topk [16385] is invalid"))
  }

  test("facade search iterator pages by last-bound cursor without overlap") {
    val c = fresh()
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val p1 = c.searchIterator("emb", qs, batch = 5, metric = Metric.L2,
      outputFields = Seq("pk"))
    val b1 = p1.agg(max($"_score")).head().getDouble(0) // L2: next page is > bound
    val p2 = c.searchIterator("emb", qs, batch = 5, lastBound = Some(b1),
      metric = Metric.L2, outputFields = Seq("pk"))
    val ids1 = p1.select($"pk").as[Long].collect().toSet
    val ids2 = p2.select($"pk").as[Long].collect().toSet
    assert(ids1.size == 5 && ids2.size == 5 && (ids1 & ids2).isEmpty)
    // together they equal the straight top-10
    val top10 = c.search("emb", qs, k = 10, metric = Metric.L2,
      outputFields = Seq("pk")).select($"pk").as[Long].collect().toSet
    assert((ids1 ++ ids2) == top10)
  }

  test("compact folds tombstones into the sealed layout; reads unchanged") {
    val c = fresh()
    c.delete("grp == 3")
    c.flush("/tmp/graft_test_collection_compact_flush_" + System.nanoTime())
    val cpath = "/tmp/graft_test_collection_compact_" + System.nanoTime()
    val before = c.query("pk >= 0", Seq("pk")).as[Long].collect().sorted.toList
    c.compact(cpath)
    val after = c.query("pk >= 0", Seq("pk")).as[Long].collect().sorted.toList
    assert(after == before)
    assert(c.count() == 40)
    // a second delete+compact cycle to the SAME path works (fresh run dir;
    // never overwrites the directory the current sealed plan reads)
    c.delete("grp == 4")
    c.compact(cpath)
    assert(c.count() == 30)
    // compacting an unflushed collection is rejected
    c.insert(mkRows(Seq(500L)))
    intercept[IllegalArgumentException](
      c.compact("/tmp/graft_test_collection_compact2_" + System.nanoTime()))
  }

  test("compact keeps indexed search masking folded deletes (stale-index)") {
    val c = fresh()
    c.flush("/tmp/graft_test_collection_idxcompact_flush_" + System.nanoTime())
    c.createIndex("emb", nlist = 2)
    c.delete("pk == 7") // post-build delete, masked via tombstones...
    c.compact("/tmp/graft_test_collection_idxcompact_" + System.nanoTime())
    // ...and after compaction folds the tombstones away, STILL masked
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val hits = c.searchIndexed("emb", qs, k = 5, nprobe = 2, metric = Metric.L2)
      .select($"pk").as[Long].collect()
    assert(!hits.contains(7L))
    // and the rest of the neighborhood still comes back
    assert(hits.length == 5)
  }

  test("RLS context values are literals — escape sequences don't decode") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert((0L until 4L).map(i => (i, vec(i), if (i < 2) "bob" else "eve"))
      .toDF("pk", "emb", "owner"))
    c.enableRls(Seq("owner == $current_user_name"))
    c.setUser(Rls.UserContext("bob"))
    assert(c.count() == 2)
    // \142ob would decode to "bob" if spliced through the Lexer; as a
    // literal param it stays those exact six characters → matches nothing
    c.setUser(Rls.UserContext("\\142ob"))
    assert(c.count() == 0)
    // a trailing backslash must not blow up the policy compile either
    c.setUser(Rls.UserContext("eve\\"))
    assert(c.count() == 0)
    // quotes can't break out of the literal
    c.setUser(Rls.UserContext("x\" or pk >= 0 or owner == \"x"))
    assert(c.count() == 0)
  }

  test("nullable fields: default fill on omit + explicit null, non-nullable rejected") {
    // reference: FieldSchema nullable/default_value (Types.h:114),
    // tests/integration/null_data
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      fieldDefaults = Map("tag" -> "unk"), nonNullable = Set("grp")))
    // omitted `tag` → default; explicit null tag → default; null `score` stays null
    c.insert(Seq((1L, 10L, Some(1.5)), (2L, 20L, None))
      .toDF("pk", "grp", "score"))
    c.insert(Seq((3L, 30L, Option("t3"), Some(2.0)), (4L, 40L, Option.empty[String], None))
      .toDF("pk", "grp", "tag", "score"))
    val view = c.readView().select($"pk", $"grp", $"tag", $"score").orderBy($"pk")
    assert(view.select($"tag").as[String].collect().toSeq ==
      Seq("unk", "unk", "t3", "unk"))
    // nullable column: comparisons exclude nulls, `is null` selects them
    assert(c.count("score > 0.0") == 2)
    assert(c.count("score is null") == 2)
    assert(c.count("score is not null") == 2)
    // aggregates skip nulls
    assert(c.readView().agg(count($"score")).as[Long].head() == 2L)
    // non-nullable without default: explicit null and missing column both throw
    intercept[IllegalArgumentException] {
      c.insert(Seq((5L, Option.empty[Long], "t")).toDF("pk", "grp", "tag"))
    }
    intercept[IllegalArgumentException] {
      c.insert(Seq((6L, "t")).toDF("pk", "tag"))
    }
    // the failed inserts left nothing behind
    assert(c.count() == 4)
  }

  test("dropField hides the column, rejects inserts, cascades the index") {
    val c = fresh()
    c.createIndex("emb", nlist = 4, trainSample = 100)
    assert(c.describeIndex("emb").totalRows == 50)
    c.dropField("txt")
    assert(!c.readView().columns.contains("txt"))
    // filters over the dropped field no longer resolve
    intercept[Exception] { c.count("""txt == "doc 1"""") }
    // inserts carrying the dropped field are rejected at the boundary
    intercept[IllegalArgumentException] { c.insert(mkRows(100L until 101L)) }
    // validations: pk / ts / last vector field / nonexistent refuse to drop
    intercept[IllegalArgumentException] { c.dropField("pk") }
    intercept[IllegalArgumentException] { c.dropField("_ts") }
    intercept[IllegalArgumentException] { c.dropField("emb") }
    intercept[IllegalArgumentException] { c.dropField("no_such_field") }
    // double-drop: the field left the effective schema on the first drop
    intercept[IllegalArgumentException] { c.dropField("txt") }
    // index cascade: dropping an indexed vector field removes its index
    val c2 = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4, "emb2" -> 4)))
    c2.insert((0L until 20L).map(i => (i, vec(i), vec(i + 1))).toDF("pk", "emb", "emb2"))
    c2.createIndex("emb2", nlist = 2, trainSample = 100)
    c2.dropField("emb2")
    intercept[NoSuchElementException] { c2.describeIndex("emb2") }
    // with emb2 gone, emb is now the LAST live vector field — must refuse
    intercept[IllegalArgumentException] { c2.dropField("emb") }
  }

  test("getPersistentSegmentInfo reports per-segment raw rows and bytes") {
    val c = fresh()
    val dir = "/tmp/graft_test_seginfo_" + System.nanoTime()
    c.flush(dir)
    c.insert(mkRows(100L until 130L))
    c.flush(dir)
    val infos = c.getPersistentSegmentInfo
    assert(infos.size == 2)
    assert(infos.map(_.rows) == Seq(50L, 30L))
    assert(infos.forall(_.bytes > 0))
    assert(infos.forall(_.path.startsWith(dir)))
  }

  test("getQuerySegmentInfo: loaded view with residency and index coverage") {
    val c = fresh()
    val dir = "/tmp/graft_test_qseginfo_" + System.nanoTime()
    c.flush(dir)
    // no index yet, not loaded: one sealed segment on disk, no coverage
    val before = c.getQuerySegmentInfo
    assert(before.map(i => (i.state, i.rows, i.residency, i.indexedFields)) ==
      Seq(("Sealed", 50L, "Disk", Nil)))
    // index build covers the pre-build segment; post-build inserts form
    // a growing entry the index does NOT cover (interim/tail serves it)
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    c.insert(mkRows(100L until 110L))
    val after = c.getQuerySegmentInfo
    assert(after.size == 2)
    assert(after.head.state == "Sealed" && after.head.indexedFields == Seq("emb"))
    assert(after(1) == c.QuerySegmentInfo("growing", 10L, "Growing", Nil, "Memory"))
    // a second flush adds a segment NEWER than the build: not covered
    c.flush(dir)
    val twoSeg = c.getQuerySegmentInfo
    assert(twoSeg.map(_.state) == Seq("Sealed", "Sealed"))
    assert(twoSeg.map(_.indexedFields) == Seq(Seq("emb"), Nil))
    // load pins residency to memory
    c.load()
    assert(c.getQuerySegmentInfo.forall(_.residency == "Memory"))
  }

  test("getFlushState and manualCompaction/getCompactionState RPCs") {
    val c = fresh()
    // growing tail present: not flushed overall, but a ts BEFORE the
    // first write is (vacuously) flushed
    assert(!c.getFlushState())
    assert(c.getFlushState(ts = 0L))
    val dir = "/tmp/graft_test_flushstate_" + System.nanoTime()
    c.flush(s"$dir/seal")
    assert(c.getFlushState())
    c.insert(mkRows(200L until 205L))
    assert(!c.getFlushState())
    c.flush(s"$dir/seal2")
    // manual compaction: synchronous fold, id immediately Completed
    c.deletePks(Seq(1L, 2L))
    val id = c.manualCompaction(s"$dir/compact")
    val st = c.getCompactionState(id)
    assert(st.state == "Completed" && st.id == id)
    assert(st.segmentsBefore == 2 && st.segmentsAfter == 1)
    assert(c.count() == 53) // 55 - 2 deleted, data intact post-compaction
    intercept[NoSuchElementException](c.getCompactionState(id + 999L))
    // privilege-gated like the other introspection RPCs
    val reg = new Rbac.Registry
    reg.createRole("nobody")
    reg.addUserToRole("eve", "nobody")
    c.enableRbac(reg, "col")
    c.setUser(Rls.UserContext("eve"))
    intercept[SecurityException](c.getQuerySegmentInfo)
    intercept[SecurityException](c.getFlushState())
    intercept[SecurityException](c.getCompactionState(id))
    c.disableRbac()
  }

  test("field warmup policies: validation, alter, describe, load behavior") {
    // invalid values rejected at create (case-sensitive, like the reference)
    intercept[IllegalArgumentException](Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4),
        fieldWarmup = Map("emb" -> "Sync"))))
    intercept[IllegalArgumentException](Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4),
        fieldWarmup = Map("emb" -> ""))))
    // schema-declared warmup is described; alter changes it per field
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4),
        fieldWarmup = Map("emb" -> "sync", "txt" -> "disable")))
    c.insert(mkRows(0L until 30L))
    assert(c.describeFieldWarmup == Map("emb" -> "sync", "txt" -> "disable"))
    c.alterFieldWarmup("emb", "disable")
    c.alterFieldWarmup("grp", "async")
    assert(c.describeFieldWarmup ==
      Map("emb" -> "disable", "txt" -> "disable", "grp" -> "async"))
    intercept[IllegalArgumentException](c.alterFieldWarmup("emb", "eager"))
    // collection-level warmup properties share the validation
    c.alterCollection(Map("warmup.vectorField" -> "async"))
    assert(c.describeCollectionProperties("warmup.vectorField") == "async")
    intercept[IllegalArgumentException](
      c.alterCollection(Map("warmup" -> "Sync")))
    // disable-only warmup: load() returns without blocking on a count,
    // reads still work and loadState reports Loaded
    c.alterFieldWarmup("grp", "disable")
    val dir = "/tmp/graft_test_warmup_" + System.nanoTime()
    c.flush(dir)
    c.load()
    assert(c.loadState == "Loaded" && c.count() == 30)
    c.release()
  }

  test("addFunction with backfill computes outputs for historical rows") {
    import graft.functions.IngestFunctions.MinHashFunction
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(mkRows(0L until 10L)) // pre-add rows
    // default (no backfill): pre-add rows serve null once a post-add
    // batch materializes the column
    c.addFunction(MinHashFunction("txt", "sig_plain", numHashes = 4))
    c.insert(mkRows(50L until 55L))
    assert(c.query("pk == 3", Seq("sig_plain")).head().isNullAt(0))
    // backfill: pre-add rows serve the COMPUTED output — a lazy
    // expression on the read view, no segment rewrite
    c.addFunction(MinHashFunction("txt", "sig_bf", numHashes = 4), backfill = true)
    val pre = c.query("pk == 3", Seq("sig_bf"))
      .select(org.apache.spark.sql.functions.size($"sig_bf")).as[Int].head()
    assert(pre == 4, "historical row must carry the backfilled signature")
    // post-add inserts compute on the write path; backfill must NOT
    // overwrite them (coalesce keeps the stored value)
    c.insert(mkRows(100L until 105L))
    assert(c.query("pk == 100", Seq("sig_bf"))
      .select(org.apache.spark.sql.functions.size($"sig_bf")).as[Int].head() == 4)
    // flush materializes; the backfilled column survives the sealed read
    val dir = "/tmp/graft_test_backfill_" + System.nanoTime()
    c.flush(dir)
    assert(c.query("pk == 3", Seq("sig_bf"))
      .select(org.apache.spark.sql.functions.size($"sig_bf")).as[Int].head() == 4)
    // drop removes the backfill too
    c.dropFunction("sig_bf")
    assert(!c.query("", Seq("*")).columns.contains("sig_bf") ||
      c.query("pk == 3", Seq("pk")).count() == 1) // field gone or ignored
    // dropFIELD on a backfilled output must not resurrect the column
    // through the backfill expression (it runs outermost in the view)
    c.addFunction(MinHashFunction("txt", "sig_bf2", numHashes = 4), backfill = true)
    assert(c.query("pk == 3", Seq("sig_bf2")).count() == 1)
    c.dropField("sig_bf2")
    assert(!c.query("", Seq("*")).columns.contains("sig_bf2"),
      "dropped backfilled output resurfaced in the read view")
  }

  test("partial load scopes the cached-filter and indexed-search paths too") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 50L))
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    // queryCached: the scope is part of the cache key — narrowing the
    // load must not serve a view cached under the wider scope
    c.loadPartitions(Seq("p1", "p2"))
    assert(c.queryCached("grp >= 0", Seq("pk")).count() == 50)
    c.releasePartitions(Seq("p2"))
    assert(c.queryCached("grp >= 0", Seq("pk")).count() == 20,
      "cache served released partitions' rows")
    // searchIndexed: indexed hits must come from loaded partitions only
    val qs = Seq((0L, vec(30))).toDF("qid", "qvec")
    val hits = c.searchIndexed("emb", qs, k = 10, nprobe = 4,
      metric = Metric.L2).select($"pk").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(_ < 20L),
      s"indexed search leaked unloaded-partition hits: ${hits.mkString(",")}")
    // optimize must refresh WITHOUT widening the partial scope
    val dir = "/tmp/graft_test_partopt_" + System.nanoTime()
    c.flush(s"$dir/seg1")
    c.insert(mkRows(100L until 110L)) // _default, unloaded
    c.flush(s"$dir/seg2")
    c.optimize(s"$dir/opt")
    assert(c.describeLoadedPartitions == Some(Seq("p1")),
      "optimize widened the partial load")
    assert(c.count() == 20)
    c.release()
    // ...and a field-partial load keeps its field list too
    c.load(Seq("pk", "emb"))
    c.optimize(s"$dir/opt")
    assert(c.describeLoadedFields == Some(Set("pk", "emb")),
      "optimize widened the field-partial load")
    c.release()
  }

  test("query with element_filter root expands per-element rows with offsets") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.insert(Seq(
      (1L, vec(1), Seq((10L, "qa"), (5L, "dev"))),
      (2L, vec(2), Seq((12L, "qa"), (11L, "qa"))),
      (3L, vec(3), Seq((1L, "ops"))))
      .toDF("pk", "emb", "events")
      .select($"pk", $"emb", transform($"events", e =>
        struct(e.getField("_1").as("rank"), e.getField("_2").as("tag"))).as("events")))
    // element_filter ROOT: one row per MATCHING element, offset carried
    val rows = c.query("""element_filter(events, $[rank] >= 10 and $[tag] == "qa")""",
      Seq("pk")).select($"pk", $"offset").as[(Long, Int)].collect().sorted
    assert(rows.toSeq == Seq((1L, 0), (2L, 0), (2L, 1)))
    // the per-element predicate compiles with the request's params, like
    // the row-level filter over the same text
    def elems(filter: String, params: Map[String, Any]) =
      c.query(filter, Seq("pk"), params = params)
        .select($"pk", $"offset").as[(Long, Int)].collect().sorted.toSeq
    assert(elems("element_filter(events, $[rank] >= {r})", Map("r" -> 10)) ==
      elems("element_filter(events, $[rank] >= 10)", Map.empty))
    // MATCH_ANY stays row-level: unique pks, no offset column
    val any = c.query("""match_any(events, $[rank] >= 10 and $[tag] == "qa")""",
      Seq("pk"))
    assert(!any.columns.contains("offset"))
    assert(any.select($"pk").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // element_filter under a conjunction is NOT a root: row-level too
    val conj = c.query("""pk <= 2 and element_filter(events, $[rank] >= 10)""",
      Seq("pk"))
    assert(!conj.columns.contains("offset"))
    assert(conj.select($"pk").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("database properties: alter/describe, max.collections cap, field params") {
    val db = s"dbprops_${System.nanoTime()}"
    Collection.createDatabase(db)
    // unknown db errors on both verbs
    intercept[NoSuchElementException](Collection.alterDatabase("nope", Map()))
    intercept[NoSuchElementException](Collection.describeDatabase("nope"))
    // validated keys: numerics and booleans
    intercept[IllegalArgumentException](
      Collection.alterDatabase(db, Map("database.max.collections" -> "many")))
    intercept[IllegalArgumentException](
      Collection.alterDatabase(db, Map("database.force.deny.writing" -> "yes")))
    Collection.alterDatabase(db, Map(
      "database.replica.number" -> "2", "database.max.collections" -> "1"))
    assert(Collection.describeDatabase(db)("database.replica.number") == "2")
    // the cap is enforced at register time (rootcoord create-time quota)
    val c1 = fresh(); val c2 = fresh()
    Collection.registerCollection("one", c1, db)
    intercept[IllegalArgumentException](
      Collection.registerCollection("two", c2, db))
    Collection.alterDatabase(db, Map("database.max.collections" -> "5"))
    Collection.registerCollection("two", c2, db)
    Collection.dropCollection("one", db)
    Collection.dropCollection("two", db)
    Collection.dropDatabase(db)
    // AlterCollectionField general params on a live collection
    val c = fresh()
    intercept[IllegalArgumentException](
      c.alterCollectionField("txt", Map("max_length" -> "-3")))
    intercept[IllegalArgumentException](
      c.alterCollectionField("emb", Map("mmap.enabled" -> "on")))
    c.alterCollectionField("txt", Map("max_length" -> "128"))
    c.alterCollectionField("txt", Map("mmap.enabled" -> "true"))
    assert(c.describeFieldProperties("txt") ==
      Map("max_length" -> "128", "mmap.enabled" -> "true"))
    c.alterCollectionField("emb", Map("warmup" -> "async"))
    assert(c.describeFieldWarmup("emb") == "async")
  }

  test("force-deny quota states gate writes and reads; alterFunction replaces in place") {
    val db = s"deny_${System.nanoTime()}"
    Collection.createDatabase(db)
    val c = fresh()
    c.createIndex("emb", nlist = 2) // so searchIndexed reaches its gate
    Collection.registerCollection("c", c, db)
    // deny writing: every write verb rejected before any job, reads fine
    Collection.alterDatabase(db, Map("database.force.deny.writing" -> "true"))
    intercept[IllegalStateException](c.insert(mkRows(900L until 910L)))
    intercept[IllegalStateException](c.deletePks(Seq(1L.asInstanceOf[Any])))
    WriteVerbs.all(c, mkRows).foreach { case (verb, op) =>
      val e = withClue(verb)(intercept[IllegalStateException](op()))
      assert(e.getMessage.contains("denies write"), verb)
    }
    assert(WriteVerbs.jobsOf(spark)(intercept[IllegalStateException](
      c.upsertPartial(Seq((1L, 3L)).toDF("pk", "grp")))) == 0)
    assert(c.count() == 50)
    // deny reading: queries rejected, writes restored
    Collection.alterDatabase(db, Map(
      "database.force.deny.writing" -> "false",
      "database.force.deny.reading" -> "true"))
    intercept[IllegalStateException](c.query("value >= 0", Seq("pk")))
    intercept[IllegalStateException](c.count())
    ReadVerbs.all(c).foreach { case (verb, op) =>
      val e = withClue(verb)(intercept[IllegalStateException](op()))
      assert(e.getMessage.contains("denies read"), verb)
    }
    c.insert(mkRows(900L until 910L))
    Collection.alterDatabase(db, Map("database.force.deny.reading" -> "false"))
    assert(c.count() == 60)
    Collection.dropCollection("c", db)
    Collection.dropDatabase(db)
    // alterFunction: replacement computes for NEW rows only
    import graft.functions.IngestFunctions.MinHashFunction
    val c2 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c2.addFunction(MinHashFunction("txt", "sig", numHashes = 4))
    intercept[IllegalArgumentException](c2.alterFunction(
      MinHashFunction("txt", "other_out", numHashes = 8))) // unknown output
    c2.insert(mkRows(0L until 5L))
    c2.alterFunction(MinHashFunction("txt", "sig", numHashes = 8))
    c2.insert(mkRows(10L until 15L))
    val sizes = c2.query("", Seq("pk", "sig")).orderBy($"pk")
      .select($"pk", org.apache.spark.sql.functions.size($"sig"))
      .as[(Long, Int)].collect().toMap
    assert(sizes(0L) == 4, "old rows keep the 4-hash signature")
    assert(sizes(10L) == 8, "new rows compute with the replacement")
  }

  test("addCollectionStructField: validation, describe, null-fill, element search") {
    import Collection.StructSubField
    val c = fresh() // 50 rows, no struct field yet
    // validation: capacity, types, required params, duplicate names
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("v", "FloatVector", Map("dim" -> "4"))), maxCapacity = 0))
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("v", "Banana")), maxCapacity = 4))
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("v", "FloatVector")), maxCapacity = 4)) // dim missing
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("t", "VarChar")), maxCapacity = 4)) // max_length missing
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("v", "Int64"), StructSubField("v", "Int64")), maxCapacity = 4))
    // the add: older rows serve null, describe reports the schema
    c.addCollectionStructField("chunks", Seq(
      StructSubField("rank", "Int64"),
      StructSubField("tag", "VarChar", Map("max_length" -> "32")),
      StructSubField("cvec", "FloatVector", Map("dim" -> "4"))), maxCapacity = 8)
    val (nullable, subs, cap) = c.describeStructField("chunks")
    assert(nullable && cap == 8 && subs.map(_.name) == Seq("rank", "tag", "cvec"))
    intercept[IllegalArgumentException](c.addCollectionStructField("chunks",
      Seq(StructSubField("rank", "Int64")), maxCapacity = 8)) // already exists
    // post-DDL inserts carry the struct array; element search sees them
    val withChunks = (100L until 110L).map { i =>
      (i, vec(i), s"doc $i", i % 5,
        Seq((i, s"t$i", vec(i)), (i + 1, s"u$i", vec(i + 1))))
    }.toDF("pk", "emb", "txt", "grp", "chunks")
    c.insert(withChunks)
    val pre = c.query("pk == 7", Seq("pk", "chunks"))
    assert(pre.select($"chunks").head().isNullAt(0), "pre-DDL rows serve null")
    val post = c.query("pk == 105", Seq("pk", "chunks"))
    assert(post.select(org.apache.spark.sql.functions.size($"chunks"))
      .as[Int].head() == 2)
    // drop clears the struct schema; re-add works
    c.dropField("chunks")
    intercept[NoSuchElementException](c.describeStructField("chunks"))
    c.addCollectionStructField("chunks",
      Seq(StructSubField("rank", "Int64")), maxCapacity = 2)
    assert(c.describeStructField("chunks")._3 == 2)
  }

  test("bulk import records tasks; progress introspection polls them") {
    val c = fresh()
    val dir = "/tmp/graft_test_import_" + System.nanoTime()
    // export a parquet fragment through spark, then facade-import it
    mkRows(200L until 220L).write.parquet(s"$dir/pq")
    val id = c.bulkImport("parquet", s"$dir/pq")
    assert(c.count() == 70)
    val task = c.getImportProgress(id)
    assert(task.state == "Completed" && task.progress == 100 &&
      task.format == "parquet" && task.files == Seq(s"$dir/pq"))
    assert(c.listImports.map(_.id).contains(id))
    intercept[NoSuchElementException](c.getImportProgress(id + 999L))
    // binlog import records a task too
    val c2 = fresh()
    c2.exportBinlog(s"$dir/binlog", segments = 2)
    val c3 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c3.importBinlog(s"$dir/binlog")
    assert(c3.listImports.size == 1 && c3.listImports.head.format == "binlog")
  }

  test("partition-key upsert is atomic: a rejected insert half leaves no tombstones") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      partitionKeyField = Some("grp"), numPartitions = 4))
    c.insert(mkRows(0L until 20L))
    c.dropField("txt") // inserts still carrying txt are rejected
    val e = intercept[IllegalArgumentException](c.upsert(mkRows(0L until 5L)))
    assert(e.getMessage.contains("dropped"))
    // the delete half must NOT have landed without the insert half
    assert(c.count() == 20)
    assert(c.count("pk < 5") == 5)
    // the partial path gates on the write privilege BEFORE any
    // tombstone work — a read-only caller must not half-delete rows
    val reg = new Rbac.Registry
    reg.createRole("reader"); reg.addUserToRole("r", "reader")
    reg.grant("reader", "CollectionReadOnly", "c13")
    c.setUser(Rls.UserContext("r")); c.enableRbac(reg, "c13")
    intercept[SecurityException](
      c.upsertPartial(mkRows(0L until 3L).select($"pk", $"grp")))
    c.disableRbac()
    assert(c.count() == 20)
  }

  test("2PC import: uncommitted is invisible; commit lands; abort rolls back") {
    val c = fresh()
    val base = c.count()
    val dir = "/tmp/graft_test_import2pc_" + System.nanoTime()
    mkRows(300L until 310L).write.parquet(s"$dir/a")
    mkRows(400L until 405L).write.parquet(s"$dir/b")
    val idA = c.bulkImportUncommitted("parquet", s"$dir/a")
    val idB = c.bulkImportUncommitted("parquet", s"$dir/b")
    // staged batches are invisible (services.go:2981 — visible on commit)
    assert(c.count() == base)
    assert(c.getImportProgress(idA).state == "Uncommitted")
    // commit A: exactly its rows land; idempotent re-commit
    c.commitImport(idA)
    assert(c.count() == base + 10)
    assert(c.getImportProgress(idA).state == "Completed")
    c.commitImport(idA)
    // abort B: nothing lands; idempotent re-abort; reason recorded
    c.abortImport(idB)
    assert(c.count() == base + 10)
    val tb = c.getImportProgress(idB)
    assert(tb.state == "Failed" && tb.reason == Collection.ImportAbortedByUser)
    c.abortImport(idB)
    // terminal states reject the OTHER verb with the named error
    val e1 = intercept[IllegalStateException](c.abortImport(idA))
    assert(e1.getMessage.contains("terminal/committed state Completed, abort not allowed"))
    val e2 = intercept[IllegalStateException](c.commitImport(idB))
    assert(e2.getMessage.contains("is in state Failed, expected Uncommitted"))
    // a commit lands the STAGED bytes, not the path's later content
    val idC = c.bulkImportUncommitted("parquet", s"$dir/a")
    mkRows(500L until 520L).write.mode("overwrite").parquet(s"$dir/a")
    c.commitImport(idC)
    assert(c.count() == base + 10) // pks 300-309 again: LWW dedups, no 500s
    assert(c.count("pk >= 500") == 0)
  }

  test("utility RPCs: alloc ts, flush-all state, alias describe, index state/alter, plans") {
    val c = fresh()
    // AllocTimestamp: strictly increasing, no visibility side effects
    val before = c.count()
    val t1 = c.allocTimestamp(); val t2 = c.allocTimestamp()
    assert(t2 > t1 && c.count() == before)
    // GetIndexState / GetIndexBuildProgress / AlterIndex lifecycle
    assert(c.getIndexState("emb") == "IndexStateNone")
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    assert(c.getIndexState("emb") == "Finished")
    val (indexed, total) = c.getIndexBuildProgress("emb")
    assert(indexed == 50 && total == 50)
    c.insert(mkRows(50L until 60L))
    assert(c.getIndexBuildProgress("emb") == ((50L, 60L)))
    c.alterIndex("emb", Map("mmap.enabled" -> "true"))
    assert(c.describeIndexProperties("emb") == Map("mmap.enabled" -> "true"))
    intercept[IllegalArgumentException](
      c.alterIndex("emb", Map("mmap.enabled" -> "yes")))
    intercept[IllegalArgumentException](
      c.alterIndex("txt", Map("mmap.enabled" -> "true"))) // no index there
    c.dropIndex("emb")
    assert(c.getIndexState("emb") == "IndexStateNone")
    assert(c.describeIndexProperties("emb").isEmpty) // props die with the index
    // CompactionStateWithPlans: the plan lists the output segments
    val dir = "/tmp/graft_test_rpcs_" + System.nanoTime()
    c.flush(s"$dir/seg1")
    c.deletePks(Seq(1L.asInstanceOf[Any]))
    val id = c.manualCompaction(s"$dir/compact")
    val (st, plans) = c.getCompactionStateWithPlans(id)
    assert(st.state == "Completed" && plans.nonEmpty &&
      plans.forall(_.contains("compact")))
    // registry-level: FlushAll state + alias describe + health/version
    // (a dedicated database keeps the JVM-global registry deterministic)
    val db = s"rpcsdb_${System.nanoTime()}"
    val name = "rpcs"
    Collection.createDatabase(db)
    Collection.registerCollection(name, c, db)
    c.insert(mkRows(100L until 110L)) // growing tail again
    assert(!Collection.getFlushAllState(db))
    Collection.flushAll(s"$dir/flushall", db)
    assert(Collection.getFlushAllState(db))
    val alias = s"alias_${System.nanoTime()}"
    Collection.createAlias(alias, c)
    assert(Collection.describeAlias(alias) == ((db, Some(name))))
    Collection.dropAlias(alias)
    intercept[NoSuchElementException](Collection.describeAlias(alias))
    assert(Collection.checkHealth && Collection.Version.nonEmpty)
    Collection.dropCollection(name, db)
    Collection.dropDatabase(db)
  }

  test("loadPartitions/releasePartitions: scoped visibility, idempotency, state") {
    val c = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c.createPartition("p1")
    c.createPartition("p2")
    c.insertInto("p1", mkRows(0L until 20L))
    c.insertInto("p2", mkRows(20L until 50L))
    c.insert(mkRows(50L until 60L)) // _default
    // partial load: unscoped reads serve loaded partitions only
    c.loadPartitions(Seq("p1"))
    assert(c.loadState == "Loaded" && c.getLoadingProgress == 100)
    assert(c.describeLoadedPartitions == Some(Seq("p1")))
    assert(c.count() == 20)
    // a scoped read naming an unloaded partition errors
    intercept[IllegalArgumentException](
      c.query("", Seq("pk"), partitionNames = Seq("p2")))
    // search is gated the same way (it rides the same read view)
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    assert(c.search("emb", qs, k = 3, metric = Metric.L2,
      outputFields = Seq("pk")).select($"pk").as[Long].collect().forall(_ < 20))
    // additive + idempotent
    c.loadPartitions(Seq("p2"))
    c.loadPartitions(Seq("p2"))
    assert(c.count() == 50)
    // unknown names error on both verbs
    intercept[IllegalArgumentException](c.loadPartitions(Seq("nope")))
    intercept[IllegalArgumentException](c.releasePartitions(Seq("nope")))
    // full load supersedes the partial scope
    c.load()
    assert(c.describeLoadedPartitions.isEmpty && c.count() == 60)
    // releasing under a full load narrows it
    c.releasePartitions(Seq("p1"))
    assert(c.describeLoadedPartitions == Some(Seq("_default", "p2")))
    assert(c.count() == 40)
    // releasing an unloaded partition is an idempotent no-op
    c.releasePartitions(Seq("p1"))
    assert(c.count() == 40)
    // partitionStatistics is a datacoord-side stat: not gated
    assert(c.partitionStatistics("p1")("row_count") == "20")
    // collection statistics likewise serve segment metadata, so the
    // partial scope (p2-only right now) must not shrink row_count
    assert(c.statistics("row_count") == "60")
    // binlog export is the migration-out path: it reads storage, so a
    // partial load must not drop unloaded partitions from the backup
    val exDir = "/tmp/graft_test_export_scope_" + System.nanoTime()
    c.exportBinlog(exDir, segments = 2)
    val c2 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c2.importBinlog(exDir)
    assert(c2.count() == 60)
    // releasing the last loaded partitions leaves NotLoad; reads
    // (residency-free in this engine) serve everything again
    c.releasePartitions(Seq("p2", "_default"))
    assert(c.loadState == "NotLoad" && c.getLoadingProgress == 0)
    assert(c.count() == 60)
  }

  test("forceMerge consolidates small segments; optimize rebuilds indexes") {
    val c = fresh()
    val dir = "/tmp/graft_test_optimize_" + System.nanoTime()
    c.flush(s"$dir/seg1")
    c.insert(mkRows(100L until 120L))
    c.flush(s"$dir/seg2")
    c.insert(mkRows(200L until 210L))
    c.flush(s"$dir/seg3")
    // validations per the reference: positive and >= segment max size
    intercept[IllegalArgumentException](c.forceMerge(s"$dir/bad", -1L))
    intercept[IllegalArgumentException](c.forceMerge(s"$dir/bad", 512L))
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    val preBuildTs = c.describeIndex("emb").indexedRows
    // optimize: force-merge + index rebuild + (not loaded: no re-pin)
    val id = c.optimize(s"$dir/opt")
    val st = c.getCompactionState(id)
    assert(st.state == "Completed" && st.segmentsBefore == 3 && st.segmentsAfter == 1)
    assert(c.getQuerySegmentInfo.map(i => (i.state, i.rows)) == Seq(("Sealed", 80L)))
    // the merge dir is sized like a flush: at most one data file per
    // read split of the merged inputs' bytes, however many files they had
    def parquetFiles(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).filter(_.getName.endsWith(".parquet"))
    }
    val inputBytes = Seq("seg1", "seg2", "seg3")
      .flatMap(s => parquetFiles(s"$dir/$s")).map(_.length).sum
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val mergedFiles = parquetFiles(c.getQuerySegmentInfo.head.path).size
    assert(mergedFiles >= 1 && mergedFiles <= (inputBytes + split - 1) / split,
      s"$mergedFiles merged files for $inputBytes input bytes")
    // the rebuilt index covers the merged segment (nothing pending)
    assert(c.getQuerySegmentInfo.head.indexedFields == Seq("emb"))
    assert(c.describeIndex("emb").indexedRows == preBuildTs) // same 80 rows
    // reads unchanged by construction
    assert(c.count() == 80)
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    assert(c.searchIndexed("emb", qs, k = 1, nprobe = 4, metric = Metric.L2)
      .select($"pk").as[Long].head() == 7L)
    // a single segment force-merges to a no-op but still records an id
    val id2 = c.forceMerge(s"$dir/noop", 2048L)
    assert(c.getCompactionState(id2).segmentsAfter == 1)
  }

  test("alterCollection properties: metadata echoes, collection.ttl wires reads") {
    val c = fresh() // 50 rows inserted at consecutive TSO ticks
    // arbitrary metadata round-trips
    c.alterCollection(Map("mmap.enabled" -> "true"))
    assert(c.describeCollectionProperties("mmap.enabled") == "true")
    val all = c.count()
    // a huge ttl in the ts domain: everything survives
    c.alterCollection(Map("collection.ttl" -> Long.MaxValue.toString))
    assert(c.count() == all)
    // ttl = 0: everything written at or before readTs is expired
    c.alterCollection(Map("collection.ttl" -> "0"))
    assert(c.count() == 0)
    // an explicit read-time ttl still overrides the property
    assert(c.readView(ttl = Some(lit(Long.MaxValue))).count() == all)
    // dropping the property restores full visibility
    c.dropCollectionProperties(Seq("collection.ttl"))
    assert(c.count() == all)
    // a non-numeric ttl is rejected at ALTER time, not at first read
    intercept[IllegalArgumentException](
      c.alterCollection(Map("collection.ttl" -> "3600s")))
    // the INDEXED search path agrees with the scan path on ttl expiry
    c.createIndex("emb", nlist = 4, trainSample = 100)
    c.alterCollection(Map("collection.ttl" -> "0"))
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    assert(c.searchIndexed("emb", qs, k = 3, nprobe = 4).isEmpty)
    c.dropCollectionProperties(Seq("collection.ttl"))
    assert(!c.searchIndexed("emb", qs, k = 3, nprobe = 4).isEmpty)
  }

  test("searchByPk: vectors fetched by id, null vectors yield zero hits") {
    val c = fresh()
    // query by id must equal query by that id's own vector
    val byPk = c.searchByPk("emb", Seq(7L), k = 3, metric = Metric.L2,
        outputFields = Seq("pk"))
      .select($"qid", $"rank", $"pk").as[(Long, Long, Long)].collect().toSet
    val byVec = c.search("emb", Seq((7L, vec(7))).toDF("qid", "qvec"), k = 3,
        metric = Metric.L2, outputFields = Seq("pk"))
      .select($"qid", $"rank", $"pk").as[(Long, Long, Long)].collect().toSet
    assert(byPk == byVec && byPk.nonEmpty)
    // an absent id errors; MVCC applies (a deleted id is absent)
    intercept[NoSuchElementException](c.searchByPk("emb", Seq(9999L), k = 3))
    c.deletePks(Seq(7L))
    intercept[NoSuchElementException](c.searchByPk("emb", Seq(7L), k = 3))
    // a null stored vector contributes zero hits, not an error
    val cn = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4)))
    cn.insert(Seq((1L, Option(Seq(1f, 0f, 0f, 0f))), (2L, Option.empty[Seq[Float]]),
        (3L, Option(Seq(0f, 1f, 0f, 0f)))).toDF("pk", "emb"))
    val mixed = cn.searchByPk("emb", Seq(1L, 2L, 3L), k = 2, metric = Metric.L2)
      .select($"qid").as[Long].collect().toSet
    assert(mixed == Set(1L, 3L)) // id 2 (null vector) returns no rows
  }

  test("attached functions: pre-add tails, defaulted inputs, empty-schema drops") {
    import graft.functions.IngestFunctions
    // adding a function OVER an existing growing tail: old rows serve
    // null for the output, new batches compute it (the evolution union)
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.insert(Seq((1L, "alpha beta")).toDF("pk", "txt"))
    c.addFunction(IngestFunctions.MinHashFunction("txt", "sig", numHashes = 16))
    c.insert(Seq((2L, "gamma delta")).toDF("pk", "txt"))
    val sigs = c.query("", Seq("pk", "sig")).orderBy($"pk").collect()
    assert(sigs(0).isNullAt(1) && !sigs(1).isNullAt(1))
    // an omitted-but-DEFAULTED function input is materialized before the
    // function runs — the insert succeeds and embeds the default text
    val c2 = Collection.create(spark, CollectionSchema(pkField = "pk",
      fieldDefaults = Map("txt" -> "fallback text")))
    c2.addFunction(IngestFunctions.MinHashFunction("txt", "sig", numHashes = 16))
    c2.insert(Seq(Tuple1(5L)).toDF("pk"))
    assert(!c2.query("", Seq("sig")).collect().head.isNullAt(0))
    // dropField works from the DECLARED schema even before any insert
    val c3 = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4, "emb2" -> 4)))
    c3.dropField("emb2") // no batch ever carried it — still droppable
    intercept[IllegalArgumentException](c3.dropField("emb")) // last vector
  }

  test("collection-attached functions compute outputs at ingest") {
    import graft.functions.IngestFunctions
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.addFunction(IngestFunctions.MinHashFunction("txt", "sig", numHashes = 16))
    c.insert(Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("pk", "txt"))
    // the signature exists on every row and matches a manual computation
    val got = c.query("", Seq("pk", "sig"))
      .select($"pk", $"sig").as[(Long, Seq[Long])].collect().toMap
    val want = IngestFunctions.applyAll(
        Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
          .toDF("pk", "txt"),
        Seq(IngestFunctions.MinHashFunction("txt", "sig", numHashes = 16)))
      .select($"pk", $"sig").as[(Long, Seq[Long])].collect().toMap
    assert(got == want)
    // supplying the output field is rejected; duplicate producers refuse
    intercept[IllegalArgumentException] {
      c.insert(Seq((3L, "x", Seq(1L))).toDF("pk", "txt", "sig"))
    }
    intercept[IllegalArgumentException] {
      c.addFunction(IngestFunctions.Bm25Function("txt", "sig"))
    }
    // drop stops computing for NEW rows; listFunctions reflects it
    c.dropFunction("sig")
    assert(c.listFunctions.isEmpty)
    c.insert(Seq((3L, "iota kappa")).toDF("pk", "txt"))
    assert(c.query("pk == 3", Seq("pk", "sig"))
      .select($"sig").collect().head.isNullAt(0))
    intercept[IllegalArgumentException](c.dropFunction("sig"))
  }

  test("renameCollection, flushAll, and calcDistance utility RPCs") {
    val db = s"renamedb_${System.nanoTime()}"
    Collection.createDatabase(db)
    val c1 = fresh()
    val c2 = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    c2.insert(mkRows(0L until 10L))
    Collection.registerCollection("one", c1, db)
    Collection.registerCollection("two", c2, db)
    // rename moves the name; old name gone, same object under the new
    Collection.renameCollection("one", "uno", db)
    assert(!Collection.hasCollection("one", db) &&
      (Collection.getCollection("uno", db) eq c1))
    intercept[NoSuchElementException](Collection.renameCollection("one", "x", db))
    intercept[IllegalArgumentException](Collection.renameCollection("uno", "two", db))
    // flushAll seals every growing tail in the db, skipping flushed ones
    val dir = "/tmp/graft_test_flushall_" + System.nanoTime()
    assert(Collection.flushAll(dir, db) == Seq("two", "uno"))
    assert(!c1.hasGrowing && !c2.hasGrowing)
    assert(Collection.flushAll(dir, db).isEmpty) // nothing left to seal
    assert(c1.count() == 50 && c2.count() == 10) // sealed reads intact
    // calcDistance: request-sized pairwise distances
    val d = Collection.calcDistance(spark,
      Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)),
      Seq(Array(1f, 0f, 0f, 0f)), Metric.L2)
      .as[(Long, Long, Double)].collect()
      .map { case (l, r, v) => (l, r) -> v }.toMap
    assert(d.size == 2 && d((0L, 0L)) == 0.0 && d((1L, 0L)) == 2.0)
  }

  test("mutable columns: setField patches merge-on-read, LWW, fold, replicate") {
    val c = fresh()
    // patch grp for pk < 20, then re-patch pk < 5 (LWW among patches)
    c.setField("grp", (0L until 20L).map(i => (i, 100L)).toDF("pk", "grp"))
    c.setField("grp", (0L until 5L).map(i => (i, 200L)).toDF("pk", "grp"))
    def grpOf(pk: Long): Long =
      c.query(s"pk == $pk", Seq("grp")).select($"grp").as[Long].head()
    assert(grpOf(0L) == 200L && grpOf(10L) == 100L && grpOf(30L) == 30L % 5)
    // other columns untouched, no row rewrite visible to readers
    assert(c.query("pk == 3", Seq("txt")).select($"txt").as[String].head() == "doc 3")
    // a LATER full-row upsert supersedes older patches on that pk
    c.upsert(mkRows(Seq(4L)))
    assert(grpOf(4L) == 4L % 5 && grpOf(3L) == 200L)
    // validations: system/vector/unknown-shape/nonexistent updates refuse
    intercept[IllegalArgumentException] {
      c.setField("pk", Seq((1L, 9L)).toDF("pk", "pk2"))
    }
    intercept[IllegalArgumentException] {
      c.setField("emb", Seq((1L, vec(9))).toDF("pk", "emb"))
    }
    // a typo'd field is an ERROR, not a silently-dropped patch
    intercept[IllegalArgumentException] {
      c.setField("grpp", Seq((1L, 9L)).toDF("pk", "grpp"))
    }
    // deleted rows stay deleted regardless of patches
    c.deletePks(Seq(7L))
    assert(c.count("pk == 7") == 0)
    // compaction folds patches into the column files and clears the log
    val dir = "/tmp/graft_test_mutcol_" + System.nanoTime()
    c.flush(s"$dir/seal")
    c.compact(s"$dir/compact")
    assert(grpOf(0L) == 200L && grpOf(10L) == 100L && grpOf(30L) == 30L % 5)
    // CDC: patches replicate through the change feed with origin ts
    val replica = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    replica.applyChanges(c.changesSince(0L))
    assert(replica.query("pk == 0", Seq("grp")).select($"grp").as[Long].head() == 200L)
    assert(replica.query("pk == 10", Seq("grp")).select($"grp").as[Long].head() == 100L)
  }

  test("setField on a DDL-added field is visible and survives compaction") {
    val c = fresh()
    // add a field with a default; NO batch has materialized it yet —
    // the patch must still land on the masked column (overlay runs
    // after field DDL), not be clobbered by the pre-addTs default mask
    c.addCollectionField("tier", -1L)
    c.setField("tier", Seq((3L, 7L)).toDF("pk", "tier"))
    def tierOf(pk: Long): Long =
      c.query(s"pk == $pk", Seq("tier")).select($"tier").as[Long].head()
    assert(tierOf(3L) == 7L && tierOf(4L) == -1L)
    // compaction must NOT erase the acknowledged patch: the column is
    // absent from the sealed layout, so the patch log entry is deferred,
    // not folded-and-cleared
    val dir = "/tmp/graft_test_maskpatch_" + System.nanoTime()
    c.flush(s"$dir/seal")
    c.compact(s"$dir/compact")
    assert(tierOf(3L) == 7L && tierOf(4L) == -1L)
    // once a post-DDL batch materializes the column, a second compaction
    // folds the physical-field patches for good
    c.insert(Seq((60L, vec(60), "doc 60", 0L, 5L))
      .toDF("pk", "emb", "txt", "grp", "tier"))
    c.setField("tier", Seq((60L, 8L)).toDF("pk", "tier"))
    assert(tierOf(60L) == 8L)
    // dropping the patched field wins over the pending patch
    c.dropField("tier")
    assert(!c.query("pk == 3", Seq("pk")).columns.contains("tier"))
  }

  test("searchIndexed serves patched scalar values (index-vs-view agreement)") {
    val c = fresh()
    val dir = "/tmp/graft_test_idxpatch_" + System.nanoTime()
    c.flush(s"$dir/seal")
    c.createIndex("emb", nlist = 4, trainSample = 1000)
    // patch a row whose version predates the index build: it is in
    // neither the post-build tail nor the changed-pk mask, so the value
    // must come from the patch overlay on the clustered layout
    c.setField("grp", Seq((7L, 999L)).toDF("pk", "grp"))
    val qs = Seq((0L, vec(7))).toDF("qid", "qvec")
    val idx = c.searchIndexed("emb", qs, k = 1, nprobe = 4, metric = Metric.L2,
      outputFields = Seq("pk", "grp")).select($"pk", $"grp")
      .as[(Long, Long)].head()
    assert(idx == ((7L, 999L)))
    // and a patched POST-build row served via the interim layout agrees
    c.insert(mkRows(Seq(70L)))
    c.setField("grp", Seq((70L, 888L)).toDF("pk", "grp"))
    val qs2 = Seq((0L, vec(70))).toDF("qid", "qvec")
    val tail = c.searchIndexed("emb", qs2, k = 1, nprobe = 4, metric = Metric.L2,
      outputFields = Seq("pk", "grp")).select($"pk", $"grp")
      .as[(Long, Long)].head()
    assert(tail == ((70L, 888L)))
    // brute-force search agrees with both (the contract under test)
    val brute = c.search("emb", qs, k = 1, metric = Metric.L2,
      outputFields = Seq("pk", "grp")).select($"grp").as[Long].head()
    assert(brute == 999L)
  }

  test("hasPartition, partitionStatistics, and listAliases metadata surfaces") {
    val c = fresh()
    c.createPartition("hot")
    c.insertInto("hot", mkRows(100L until 110L))
    assert(c.hasPartition("hot") && !c.hasPartition("cold"))
    assert(c.partitionStatistics("hot")("row_count") == "10")
    assert(c.partitionStatistics(Collection.DefaultPartition)("row_count") == "50")
    intercept[IllegalArgumentException](c.partitionStatistics("cold"))
    val a1 = s"alias_a_${System.nanoTime()}"
    val a2 = s"alias_b_${System.nanoTime()}"
    Collection.createAlias(a1, c)
    Collection.createAlias(a2, c)
    assert(Collection.listAliases(c) == Seq(a1, a2).sorted)
    Collection.dropAlias(a1)
    Collection.dropAlias(a2)
    assert(Collection.listAliases(c).isEmpty)
  }

  test("runAnalyzer tokenizes ad-hoc texts with params and optional hash") {
    val out = Collection.runAnalyzer(spark,
      Seq("Hello, World!", "graft 分词"),
      Map("tokenizer" -> "standard"), withHash = true)
    val rows = out.select($"text_idx", $"position", $"token")
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(rows == Seq((0L, 0, "hello"), (0L, 1, "world"), (1L, 0, "graft")))
    assert(out.columns.contains("token_hash"))
    // empty input → zero rows, not an error (the RPC's empty-placeholder path)
    assert(Collection.runAnalyzer(spark, Nil, Map.empty).count() == 0)
  }

  test("re-adding a dropped field never resurrects old data") {
    val c = fresh()
    c.dropField("grp")
    c.addCollectionField("grp", -1L)
    // pre-DDL rows serve the default, not their original grp values
    assert(c.readView().select($"grp").as[Long].collect().forall(_ == -1L))
    // post-DDL inserts carry real values; omitted column fills the default
    c.insert(Seq((100L, vec(100), "d", 9L)).toDF("pk", "emb", "txt", "grp"))
    c.insert(Seq((101L, vec(101), "d")).toDF("pk", "emb", "txt"))
    val byPk = c.readView().select($"pk", $"grp").as[(Long, Long)].collect().toMap
    assert(byPk(100L) == 9L && byPk(101L) == -1L && byPk(0L) == -1L)
    // a plain add on a fresh name = default fill for all older rows
    c.addCollectionField("flag", "new")
    val flags = c.readView().select($"flag").as[String].collect()
    assert(flags.nonEmpty && flags.forall(_ == "new"))
  }

  test("getSegmentsInfo: ids, levels, and file counts per sealed segment") {
    val c = fresh()
    val path = "/tmp/graft_test_seginfo_" + System.nanoTime()
    c.flush(path)
    c.insert(mkRows(100L until 120L))
    c.flush(path)
    val infos = c.getSegmentsInfo
    assert(infos.size == 2)
    assert(infos.map(_.rows).sorted == Seq(20L, 50L))
    assert(infos.forall(_.level == "L1"))
    assert(infos.forall(_.state == "Flushed"))
    assert(infos.forall(i => i.bytes > 0 && i.numFiles > 0))
    assert(infos.map(_.id).distinct.size == 2, "ids are distinct and stable")
    assert(infos.map(_.id) == c.getSegmentsInfo.map(_.id))
    // a compaction output reports as L2 (the reference's level ladder)
    c.delete("pk == 3")
    c.compact(path + "/compacted")
    val after = c.getSegmentsInfo
    assert(after.size == 1 && after.head.level == "L2")
    assert(after.head.rows == 69L)
  }

  test("listIndexedSegment and describeSegmentIndexData report coverage") {
    val c = fresh()
    val path = "/tmp/graft_test_idxseg_" + System.nanoTime()
    c.flush(path)
    c.createIndex("emb", nlist = 4)
    // the pre-build segment is fully covered
    assert(c.listIndexedSegment("emb").size == 1)
    val d = c.describeSegmentIndexData("emb")
    assert(d.size == 1 && d.head.indexType == "IVF_FLAT" &&
      d.head.nlist == 4 && d.head.rows == 50L)
    // a post-build segment is NOT covered (served via the interim path)
    c.insert(mkRows(200L until 210L))
    c.flush(path)
    assert(c.getSegmentsInfo.size == 2)
    assert(c.listIndexedSegment("emb").size == 1)
    intercept[NoSuchElementException](c.listIndexedSegment("nope"))
    // getIndexStatistics composes state + row counters
    val st = c.getIndexStatistics("emb")
    assert(st.state == "Finished" && st.indexType == "IVF_FLAT")
    assert(st.indexedRows == 50L && st.totalRows == 60L &&
      st.pendingRows == 10L)
    intercept[NoSuchElementException](c.getIndexStatistics("nope"))
  }

  test("batchDescribeCollection: per-entry failures, batch succeeds") {
    val db = "batchdesc_" + System.nanoTime()
    Collection.createDatabase(db)
    val c = fresh()
    Collection.registerCollection("one", c, db)
    val res = Collection.batchDescribeCollection(Seq("one", "ghost"), db)
    assert(res.size == 2)
    assert(res(0)._1 == "one" && res(0)._2.isSuccess &&
      res(0)._2.get.pkField == "pk")
    assert(res(1)._1 == "ghost" && res(1)._2.isFailure)
    intercept[IllegalArgumentException](
      Collection.batchDescribeCollection(Nil, db))
  }

  test("segment summary statistics: flush-time publish, lazy back-fill") {
    val c = fresh()
    val path = "/tmp/graft_test_segstats_" + System.nanoTime()
    c.flush(path)
    c.insert(mkRows(100L until 110L))
    c.flush(path)
    val stats = c.segmentStatistics
    assert(stats.size == 2)
    assert(stats.values.map(_.rows).toSeq.sorted == Seq(10L, 50L))
    assert(stats.values.forall(s => s.bytes > 0 && s.tsFrom <= s.tsTo))
    // segments seal in ts order: the second's range sits above the first's
    val Seq(s1, s2) = stats.toSeq.sortBy(_._2.tsFrom).map(_._2)
    assert(s2.tsFrom > s1.tsTo)
    assert(stats.values.forall(_.tsQuantiles.size == 5))
    // zero-included null counts for every physically present column
    assert(stats.values.forall(_.nullCounts.get("txt").contains(0L)))
    assert(c.effectiveRows("emb") == 60L)
    // compaction outputs back-fill lazily on first consumer read
    c.delete("pk == 3")
    c.compact(path + "/fold")
    val after = c.segmentStatistics
    assert(after.size == 1 && after.head._2.rows == 59L)
    assert(c.getPersistentSegmentInfo.map(_.rows) == Seq(59L))
  }

  test("all-null vector fields refuse an index build (effective rows)") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4, "v2" -> 4)))
    c.insert((0L until 20L).map(i =>
      (i, vec(i), null: Seq[Float])).toDF("pk", "emb", "v2"))
    val path = "/tmp/graft_test_nullvec_" + System.nanoTime()
    c.flush(path)
    val e = intercept[IllegalStateException](c.createIndex("v2", nlist = 2))
    assert(e.getMessage.contains("no non-null vectors"))
    c.createIndex("emb", nlist = 2) // the populated field builds fine
    assert(c.getIndexState("emb") == "Finished")
  }

  test("all-null gate also covers a growing-only (never flushed) tail") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4, "v2" -> 4)))
    c.insert((0L until 20L).map(i =>
      (i, vec(i), null: Seq[Float])).toDF("pk", "emb", "v2"))
    // no flush: sealedSegments is empty, yet the populated tail must not
    // let the all-null field slip past the effective-rows gate
    val e = intercept[IllegalStateException](c.createIndex("v2", nlist = 2))
    assert(e.getMessage.contains("no non-null vectors"))
    c.createIndex("emb", nlist = 2)
    assert(c.getIndexState("emb") == "Finished")
  }

  test("timezone property: naive tstz literals shift, offsets still win") {
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-01-10 11:00:00")),
      (2L, java.sql.Timestamp.valueOf("2025-01-10 13:00:00")))
      .toDF("pk", "t")
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.insert(rows)
    // default UTC: the naive 12:00 literal splits the two rows
    assert(c.count("t > iso'2025-01-10T12:00:00'") == 1)
    // collection property: 07:00 New York IS 12:00 UTC in January;
    // 12:00 New York is 17:00 UTC — above both rows
    c.alterCollection(Map("timezone" -> "America/New_York"))
    assert(c.count("t > iso'2025-01-10T07:00:00'") == 1)
    assert(c.count("t > iso'2025-01-10T12:00:00'") == 0)
    // an explicit offset is never reinterpreted
    assert(c.count("t > iso'2025-01-10T12:00:00Z'") == 1)
    // invalid timezones are rejected at alter time
    intercept[IllegalArgumentException](
      c.alterCollection(Map("timezone" -> "Nope/Zone")))
    // database-level property applies when the collection has none and
    // yields to the collection's own (TimezoneKey precedence)
    val d = Collection.create(spark, CollectionSchema(pkField = "pk"))
    d.insert(rows)
    Collection.createDatabase("tzdb")
    Collection.registerCollection("tz_c", d, "tzdb")
    Collection.alterDatabase("tzdb", Map("timezone" -> "Asia/Shanghai"))
    // 20:00 Shanghai (UTC+8) is 12:00 UTC
    assert(d.count("t > iso'2025-01-10T20:00:00'") == 1)
    d.alterCollection(Map("timezone" -> "UTC"))
    assert(d.count("t > iso'2025-01-10T12:00:00'") == 1)
    Collection.dropCollection("tz_c", "tzdb")
    Collection.dropDatabase("tzdb")
  }

  test("load field list rejects the dynamic meta column") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4), metaField = Some("$meta")))
    c.insert((0L until 10L).map(i =>
      (i, vec(i), s"""{"k": $i}""")).toDF("pk", "emb", "$meta"))
    // the catch-all is not a listable field (reference load_fields
    // validation); listing it must not override skipLoadDynamicField
    val e = intercept[IllegalArgumentException](
      c.load(Seq("pk", "emb", "$meta"), skipLoadDynamicField = true))
    assert(e.getMessage.contains("dynamic"))
    c.load(Seq("pk", "emb"), skipLoadDynamicField = true) // valid list loads
    c.load() // restore full load
  }

  test("time-travel reads prune segments sealed after the read ts") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_tsprune_" + System.nanoTime()
    val t1 = c.insert((0L until 30L).map(i => (i, s"a$i")).toDF("pk", "s"))
    c.flush(path)
    c.insert((100L until 130L).map(i => (i, s"b$i")).toDF("pk", "s"))
    c.flush(path)
    val t3 = c.insert((200L until 230L).map(i => (i, s"c$i")).toDF("pk", "s"))
    c.flush(path)
    // readTs = lastWriteTs - staleness = t1: only the first segment can
    // hold visible rows — the other two prune off the FILE list
    val tt = c.readView(ConsistencyLevel.BoundedStaleness,
      staleness = t3 - t1)
    assert(tt.count() == 30L)
    val files = tt.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/seg-")))
    val segDirs = files.map(_.replaceAll("/seg-([0-9]+)/.*", "/seg-$1")).distinct
    assert(segDirs.size == 1, s"expected one segment dir, got: ${segDirs.toList}")
    // a strong read still serves everything
    assert(c.count() == 90L)
  }

  test("expiredFraction lower-bounds TTL expiry from seal quantiles") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val path = "/tmp/graft_test_expfrac_" + System.nanoTime()
    val t1 = c.insert((0L until 50L).map(i => (i, i)).toDF("pk", "v"))
    c.flush(path)
    val t2 = c.insert((100L until 150L).map(i => (i, i)).toDF("pk", "v"))
    c.flush(path)
    // nothing expired: cutoff below every row ts
    assert(c.expiredFraction(nowTs = t1, ttlTicks = t1) == 0.0)
    // everything expired: cutoff above every row ts → fraction 1
    assert(c.expiredFraction(nowTs = t2 + 1000L, ttlTicks = 0L) == 1.0)
    // half expired (first segment only): the lower-bound contract keeps
    // the reported fraction at or under the true 0.5, above 0
    val half = c.expiredFraction(nowTs = t2, ttlTicks = t2 - t1 - 1)
    assert(half > 0.0 && half <= 0.5, s"got $half")
    assert(c.shouldCompactForTtl(nowTs = t2 + 1000L, ttlTicks = 0L))
    assert(!c.shouldCompactForTtl(nowTs = t1, ttlTicks = t1))
  }

  test("template filter_params flow through query/count/delete (#51617)") {
    val c = fresh()
    // inline and template delivery answer identically
    assert(c.count("pk in {ids}", params = Map("ids" -> Seq(1L, 2L, 3L))) == 3L)
    assert(c.query("pk in {ids}", Seq("pk"),
      params = Map("ids" -> Seq(5L, 7L))).count() == 2L)
    // an EMPTY template list matches nothing — and a delete with one is
    // a noop, not an error (the reference's #51617 delete contract)
    assert(c.count("pk in {ids}", params = Map("ids" -> Nil)) == 0L)
    val before = c.count()
    c.delete("pk in {ids}", params = Map("ids" -> Seq.empty[Long]))
    assert(c.count() == before)
    // the positive control really deletes
    c.delete("pk in {ids}", params = Map("ids" -> Seq(1L, 2L)))
    assert(c.count() == before - 2)
  }

  test("external-table refresh jobs are recorded and pollable") {
    import graft.sources.ExternalTable
    val base = "/tmp/graft_test_refreshjobs_" + System.nanoTime()
    mkRows(0L until 10L).drop("emb").write.parquet(s"$base/frag1")
    val et = ExternalTable.create(spark, "parquet", base,
      Map("pk" -> "pk", "txt" -> "txt"))
    // create() snapshots via an initial refresh — one recorded job
    assert(et.listRefreshJobs.size == 1)
    mkRows(10L until 15L).drop("emb").write.parquet(s"$base/frag2")
    val stats = et.refresh()
    assert(stats.added == 1 && stats.kept == 1)
    val jobs = et.listRefreshJobs
    assert(jobs.size == 2)
    assert(jobs.head.id > jobs(1).id, "newest first")
    assert(jobs.forall(j => j.state == "Completed" && j.progress == 100))
    assert(jobs.head.added == 1 && jobs.head.kept == 1 &&
      jobs.head.removed == 0)
    assert(et.getRefreshProgress(jobs.head.id).state == "Completed")
    intercept[NoSuchElementException](et.getRefreshProgress(999L))
  }

  test("request limits: topk/nq/window caps with the large_topk switch") {
    // reference proxy/util.go:182-218 + testcases/test_large_topk.py:
    // accepted AT the bound, a named error one past it, and the
    // query_mode=large_topk property flips the caps
    val c = fresh()
    val qs = Seq((0L, vec(1))).toDF("qid", "qvec")
    def searchK(k: Int) = c.search("emb", qs, k = k).count()

    // topk bound: 16384 in, 16385 out, 0 out
    assert(searchK(16384) == 50)
    val over = intercept[IllegalArgumentException](searchK(16385))
    assert(over.getMessage.contains("[1, 16384]"), over.getMessage)
    intercept[IllegalArgumentException](searchK(0))

    // nq cap rides the query-vector count (local fast path, no job)
    val manyQ = (0 until 16385).map(i => (i.toLong, vec(i))).toDF("qid", "qvec")
    val nqErr = intercept[IllegalArgumentException](c.search("emb", manyQ, k = 1))
    assert(nqErr.getMessage.contains("nq (number of search vector"), nqErr.getMessage)

    // query window: offset+limit <= 16384; batch iterators share it
    assert(c.query("pk >= 0", Seq("pk"), limit = 16384).count() == 50)
    val win = intercept[IllegalArgumentException](
      c.query("pk >= 0", Seq("pk"), limit = 16385))
    assert(win.getMessage.contains("(offset+limit) should be in range [1, 16384]"),
      win.getMessage)
    intercept[IllegalArgumentException](c.query("pk >= 0", Seq("pk"), limit = 0))
    intercept[IllegalArgumentException](
      c.queryIterator("pk >= 0", Seq("pk"), batch = 16385))
    assert(c.queryIterator("pk >= 0", Seq("pk"), batch = 16384).count() == 50)

    // iterator batchSize shares the topk cap as an ERROR (search_util.go:433)
    intercept[IllegalArgumentException](
      c.searchIterator("emb", qs, batch = 16385))

    // hybrid: final limit and every sub-k validated
    val sub = c.SubSearch("emb", qs, Metric.L2, k = 16385)
    intercept[IllegalArgumentException](c.hybridSearch(Seq(sub), k = 5))
    intercept[IllegalArgumentException](
      c.hybridSearch(Seq(sub.copy(k = 10)), k = 16385))

    // query_mode=large_topk flips the caps to 1,000,000
    c.alterCollection(Map("query_mode" -> "large_topk"))
    assert(searchK(16385) == 50)
    assert(c.query("pk >= 0", Seq("pk"), limit = 1000000).count() == 50)
    val lOver = intercept[IllegalArgumentException](searchK(1000001))
    assert(lOver.getMessage.contains("[1, 1000000]"), lOver.getMessage)

    // property validation: bad value, case-variant key (common.go:577-591)
    val bad = intercept[IllegalArgumentException](
      c.alterCollection(Map("query_mode" -> "turbo")))
    assert(bad.getMessage.contains("invalid query_mode value"), bad.getMessage)
    val ci = intercept[IllegalArgumentException](
      c.alterCollection(Map("QUERY_MODE" -> "large_topk")))
    assert(ci.getMessage.contains("did you mean"), ci.getMessage)
  }

  test("optimize target-size string parse matches the client contract") {
    import Collection.parseTargetSizeMb
    // all units, decimals, mixed case, whitespace
    assert(parseTargetSizeMb("1048576B") == 1L)
    assert(parseTargetSizeMb("1024KB") == 1L)
    assert(parseTargetSizeMb("100MB") == 100L)
    assert(parseTargetSizeMb("2GB") == 2048L)
    assert(parseTargetSizeMb("1.5gB") == 1536L)
    assert(parseTargetSizeMb("  1 TB ") == 1048576L)
    assert(parseTargetSizeMb("1PB") == 1073741824L)
    // the int64-MB boundary parses without overflow
    assert(parseTargetSizeMb("9223372036854775807MB") == Long.MaxValue)
    // malformed → Invalid
    Seq("abc", "1XB", "MB100", "1.2.3GB", "--1GB").foreach { bad =>
      val e = intercept[IllegalArgumentException](parseTargetSizeMb(bad))
      assert(e.getMessage.contains("Invalid"), s"$bad: ${e.getMessage}")
    }
    // under 1MB → too small
    Seq("0MB", "0GB", "0B", "100B", "500KB").foreach { tiny =>
      val e = intercept[IllegalArgumentException](parseTargetSizeMb(tiny))
      assert(e.getMessage.contains("target size too small"),
        s"$tiny: ${e.getMessage}")
    }
  }

  test("view-memo capacity evictions are counted (thrash observability)") {
    val c = fresh()
    (1 to 10).foreach { i =>
      c.createPartition(s"vp$i")
      c.insertInto(s"vp$i", mkRows(Seq(2000L + i)))
    }
    assert(c.viewCacheEvictions == 0L)
    // 10 distinct partition scopes stream through the capacity-8 memo
    (1 to 10).foreach(i => c.partitionStatistics(s"vp$i"))
    assert(c.viewCacheEvictions >= 2L,
      s"expected evictions past capacity, got ${c.viewCacheEvictions}")
    // correctness under eviction churn: every scope still counts right
    (1 to 10).foreach(i =>
      assert(c.partitionStatistics(s"vp$i")("row_count") == "1"))
  }

  test("GraftSession.table memoizes the plan per (session, path)") {
    val t1 = GraftSession.table(spark, sfDir, "customer")
    val t2 = GraftSession.table(spark, sfDir, "customer")
    assert(t1 eq t2, "repeated reads must reuse one analyzed plan")
    assert(GraftSession.table(spark, sfDir, "nation") ne t1)
  }

  test("a plain create cannot steal a name with an in-flight restore reservation") {
    val name = s"resv_target_${System.nanoTime()}"
    Collection.restoreReservations.put(("default", name), java.lang.Long.valueOf(0L))
    try {
      val e = intercept[IllegalArgumentException] {
        Collection.registerCollection(name, fresh())
      }
      assert(e.getMessage.contains("restore"))
    } finally Collection.restoreReservations.remove(("default", name))
    // released: the name is usable again
    val c = fresh()
    Collection.registerCollection(name, c)
    Collection.dropCollection(name)
  }
}
