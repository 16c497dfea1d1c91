package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric

/** File sizing of engine-written segments: a flush writes its tail's
  * bytes, one file per read split and `_partition` value, not one file
  * per partition of the client batches it carries; a tail with no size
  * estimate (an RDD-backed batch) keeps its own partitioning. Reads are
  * unchanged: every facade read, and a fresh open of the layout root,
  * answers the pk → row model.
  */
class FlushSizingSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_${prefix}_").toString

  /** Parquet data files under `dir`, grouped by their parent directory. */
  private def dataFiles(dir: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
  }

  /** The one dir named `<prefix>-*` under `root`. */
  private def onlyDir(root: String, prefix: String): String = {
    val ds = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"$prefix-"))
    assert(ds.length == 1, s"expected one $prefix- dir under $root, got ${ds.toSeq}")
    ds.head.getPath
  }

  // a 4-d vector unique per (pk, version): every live row is its own
  // nearest neighbour at distance 0
  private def vec(pk: Long, v: Int): Seq[Float] = Seq(pk.toFloat, v.toFloat, 0f, 1f)

  private val schema = CollectionSchema(pkField = "pk",
    vectorFields = Map("emb" -> 4), partitionKeyField = Some("grp"),
    numPartitions = 3)

  /** Four local insert/upsert batches and a pk delete on a partition-key
    * collection; returns the pk -> (version, grp) model of what they leave.
    */
  private def populate(c: Collection): Map[Long, (Int, Long)] = {
    // versions bump on upsert
    var model = Map.empty[Long, (Int, Long)]
    def write(pks: Seq[Long], v: Int, upsert: Boolean): Unit = {
      val df = pks.map(p => (p, vec(p, v), s"doc $p v$v", p % 7)).toDF("pk", "emb", "txt", "grp")
      if (upsert) c.upsert(df) else c.insert(df)
      model ++= pks.map(p => p -> ((v, p % 7)))
    }
    write(0L until 40L, 0, upsert = false)
    write(40L until 80L, 0, upsert = false)
    write(10L until 30L, 1, upsert = true)
    write(Seq(5L, 15L, 50L, 90L), 2, upsert = true)
    c.deletePks(Seq(3L, 15L, 60L))
    model -- Seq(3L, 15L, 60L)
  }

  /** The hive `_partition=` dirs of a segment dir: one data file each,
    * and nothing else beside them.
    */
  private def assertOneFilePerPartitionValue(seg: String): Unit = {
    val files = dataFiles(seg)
    assert(files.size >= 2, s"expected several _partition dirs, got $files")
    assert(files.keys.forall(_.startsWith(s"${Collection.PartitionCol}=")), files)
    assert(files.values.forall(_ == 1), s"expected one file per partition value, got $files")
    val subdirs = new java.io.File(seg).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.forall(_.startsWith(s"${Collection.PartitionCol}=")), subdirs.toSeq)
  }

  private def rows(c: Collection) =
    c.query("pk >= 0", Seq("pk", "txt", "grp")).as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
  private def expect(m: Map[Long, (Int, Long)]) =
    m.map { case (p, (v, g)) => p -> ((s"doc $p v$v", g)) }

  /** count/get/query/search on `c` answer `model` (pks 5/90 live at v2,
    * 15/60 deleted).
    */
  private def assertReadsMatch(c: Collection, model: Map[Long, (Int, Long)]): Unit = {
    assert(c.count() == model.size)
    assert(rows(c) == expect(model))
    assert(c.get(Seq(5L, 15L, 60L, 90L), Seq("pk", "txt")).as[(Long, String)]
      .collect().toMap == Map(5L -> "doc 5 v2", 90L -> "doc 90 v2"))
    val qs = model.toSeq.sortBy(_._1).map { case (p, (v, _)) => (p, vec(p, v)) }
      .toDF("qid", "qvec")
    val top = c.search("emb", qs, k = 1, metric = Metric.L2, outputFields = Seq("pk"))
      .select($"qid", $"pk").as[(Long, Long)].collect()
    assert(top.length == model.size && top.forall { case (q, p) => q == p })
  }

  test("a flush of four local batches writes one file per partition value; reads match the model") {
    val path = s"${scratch("flush_sizing")}/data"
    val c = Collection.create(spark, schema)
    val model = populate(c)
    c.flush(path)
    // the seg dir: one hive dir per written partition value, one file each
    assertOneFilePerPartitionValue(onlyDir(path, "seg"))
    assertReadsMatch(c, model)
    // a fresh open of the layout root reads the same live rows back, and
    // none of the pks deleted before the flush (its `del-` dir)
    assert(rows(Collection.open(spark, schema, path)) == expect(model))
  }

  test("a compaction after the flush writes one segment dir of the flush's shape; reads match the model") {
    val path = s"${scratch("flush_sizing_compact")}/data"
    val c = Collection.create(spark, schema)
    val model = populate(c)
    c.flush(path)
    c.compact(path)
    // the run dir holds the hive `_partition=` dirs alone: no nested
    // data dir, no tombstones, no watermark
    assertOneFilePerPartitionValue(onlyDir(path, "run"))
    assertReadsMatch(c, model)
    // the compaction folded the flush's delete set: the sweep reclaims it
    val swept = c.retentionSweep(path)
    assert(swept("del_deleted") == 1L && swept("del_kept") == 0L, swept.toString)
    assert(rows(Collection.open(spark, schema, path)) == expect(model))
  }

  test("a TEXT-LOB flush writes its blob-store delta as one file") {
    val root = scratch("flush_sizing_lob")
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      textFields = Map("text" -> TextFieldSpec(enableAnalyzer = true, enableMatch = true)),
      textInlineThreshold = 64))
    def batch(b: Int) = c.insert((1 to 10).map { i =>
      val id = (b * 10 + i).toLong
      (id, s"doc $id " + ("x" * (if (i % 2 == 0) 100 else 0)))
    }.toDF("id", "text"))
    // one batch (its delta keeps the batch's partitions), then three
    // (their deltas are de-duplicated through a shuffle)
    batch(0)
    c.flush(s"$root/a")
    batch(1); batch(2); batch(3)
    c.flush(s"$root/b")
    Seq("a", "b").foreach { d =>
      assert(dataFiles(onlyDir(s"$root/$d/_lobs", "gen")).values.toSeq == Seq(1), d)
    }
    val back = c.query("id >= 1", Seq("id", "text")).as[(Long, String)].collect().toMap
    assert(back.size == 40 && back(2L) == "doc 2 " + ("x" * 100) &&
      back(33L) == "doc 33 ")
  }

  test("an RDD-backed insert has no size estimate and flushes its own partitioning") {
    val path = s"${scratch("flush_sizing_rdd")}/data"
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4)))
    val p = 5
    val rdd = spark.sparkContext.parallelize(
      (0L until 50L).map(i => (i, vec(i, 0), s"doc $i")), p)
    c.insert(rdd.toDF("pk", "emb", "txt"))
    c.flush(path)
    assert(dataFiles(onlyDir(path, "seg")).values.sum == p)
    assert(c.count() == 50)
  }

  test("an attached ingest function lands its column through the coalesced flush") {
    import graft.functions.IngestFunctions.MinHashFunction
    val path = s"${scratch("flush_sizing_fn")}/data"
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4)))
    c.addFunction(MinHashFunction("txt", "sig", numHashes = 4))
    (0 until 4).foreach { b =>
      c.insert((b * 10L until b * 10L + 10L)
        .map(i => (i, vec(i, 0), s"doc $i token$i")).toDF("pk", "emb", "txt"))
    }
    c.flush(path)
    assert(dataFiles(onlyDir(path, "seg")).values.toSeq == Seq(1))
    val sizes = c.query("pk >= 0", Seq("pk", "sig"))
      .select(col("pk"), size(col("sig"))).as[(Long, Int)].collect()
    assert(sizes.length == 40 && sizes.forall(_._2 == 4))
    val reopened = Collection.open(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("emb" -> 4)), path)
    assert(reopened.query("pk >= 0", Seq("pk", "sig"))
      .filter(size(col("sig")) === 4).count() == 40)
  }
}
