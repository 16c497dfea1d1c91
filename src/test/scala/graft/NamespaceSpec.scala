package graft

import org.apache.spark.sql.functions._

/** Multi-tenant namespace contract (reference enable_namespace +
  * `namespace.mode` — common.go:62-67,689-723,961-971;
  * proxy/util.go:2826-2890; shard-split design 20260610) — unit pins
  * the q_namespace oracle battery can't express: hidden-column hygiene,
  * search scoping, pre-set column validation, delete scoping, and the
  * key-mode pushdown plan shape.
  */
class NamespaceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(tenantOf: Long => String) =
    (1L to 30L).map(i => (i, s"d$i", i % 7)).toDF("id", "name", "grp")

  test("hidden $namespace_id never appears in * output; explicit request works") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.insert(rows(_ => "a").filter(col("id") <= 10), Some("a"))
    val star = c.query("id >= 1", Seq("*"), namespace = Some("a"))
    assert(!star.columns.contains(Collection.NamespaceField))
    val explicit = c.query("id >= 1",
      Seq("id", Collection.NamespaceField), namespace = Some("a"))
    assert(explicit.columns.contains(Collection.NamespaceField))
    assert(explicit.select(Collection.NamespaceField).distinct().count() == 1)
  }

  test("search scopes to the tenant corpus (key mode)") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 0.9f)))
      .toDF("id", "vec")
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      vectorFields = Map("vec" -> 2), enableNamespace = true))
    c.insert(df.filter(col("id") <= 2), Some("ta"))
    c.insert(df.filter(col("id") > 2), Some("tb"))
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    // top-2 within tb must be tb's ids even though ta's vectors are
    // strictly closer to the query
    val hits = c.search("vec", q, k = 2, namespace = Some("tb"))
      .select("id").as[Long].collect().toSet
    assert(hits == Set(3L, 4L))
    // and search without a namespace on an enabled collection rejects
    val e = intercept[IllegalArgumentException](c.search("vec", q, k = 1))
    assert(e.getMessage.contains("namespace data is not set but namespace enabled"))
  }

  test("insert validates a caller-supplied namespace column instead of overwriting") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    val ok = rows(_ => "x").filter(col("id") <= 3)
      .withColumn(Collection.NamespaceField, lit("x"))
    c.insert(ok, Some("x"))
    assert(c.count("", namespace = Some("x")) == 3L)
    val bad = rows(_ => "x").filter(col("id") > 3 && col("id") <= 6)
      .withColumn(Collection.NamespaceField, lit("y"))
    val e = intercept[IllegalArgumentException](c.insert(bad, Some("x")))
    assert(e.getMessage.contains("mismatches namespace"))
  }

  test("delete is namespace-scoped: one tenant's delete never touches another") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.insert(rows(_ => "").filter(col("id") <= 10), Some("a"))
    c.insert(rows(_ => "").filter(col("id") > 10 && col("id") <= 20), Some("b"))
    // grp == 1 matches rows in BOTH tenants; delete only in a
    c.delete("grp == 1", namespace = Some("a"))
    assert(c.count("grp == 1", namespace = Some("a")) == 0L)
    assert(c.count("grp == 1", namespace = Some("b")) > 0L)
  }

  test("partition mode: tenants are partitions, auto-created on first write") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.alterCollection(Map(Collection.NamespaceModeKey ->
      Collection.NamespaceModePartition))
    c.insert(rows(_ => "").filter(col("id") <= 5), Some("tenant1"))
    assert(c.hasPartition("tenant1"))
    assert(c.count("", namespace = Some("tenant1")) == 5L)
    // a matching explicit partition list is accepted
    assert(c.query("id >= 1", Seq("id"), partitionNames = Seq("tenant1"),
      namespace = Some("tenant1")).count() == 5L)
  }

  test("every read path resolves the namespace: range, iterator, get, hybrid") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 0.9f)))
      .toDF("id", "vec")
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      vectorFields = Map("vec" -> 2), enableNamespace = true))
    c.insert(df.filter(col("id") <= 2), Some("ta"))
    c.insert(df.filter(col("id") > 2), Some("tb"))
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    // range search in tb: only tb ids even at a radius matching all
    val range = c.rangeSearch("vec", q, radius = -2.0,
      metric = graft.functions.Metric.COSINE, namespace = Some("tb"))
      .select("id").as[Long].collect().toSet
    assert(range == Set(3L, 4L))
    // search iterator respects scope
    val it = c.searchIterator("vec", q, batch = 10, namespace = Some("ta"))
      .select("id").as[Long].collect().toSet
    assert(it == Set(1L, 2L))
    // get only sees the tenant's pk space
    assert(c.get(Seq(1L, 3L), Seq("id"), namespace = Some("ta"))
      .select("id").as[Long].collect().toSet == Set(1L))
    // query iterator scope
    assert(c.queryIterator("id >= 0", Seq("id"), batch = 10,
      namespace = Some("tb")).select("id").as[Long].collect().toSet ==
      Set(3L, 4L))
    // and each path still rejects a missing namespace
    intercept[IllegalArgumentException](c.rangeSearch("vec", q, radius = 0.0))
    intercept[IllegalArgumentException](c.get(Seq(1L), Seq("id")))
    // including the reads that take no namespace at all
    Seq[(String, () => Any)](
      "queryCached" -> (() => c.queryCached("id >= 0", Seq("id"))),
      "searchIndexed" -> (() => c.searchIndexed("vec", q, k = 1, nprobe = 1)),
      "searchByPk" -> (() => c.searchByPk("vec", Seq(1L), k = 1))
    ).foreach { case (verb, op) =>
      val e = withClue(verb)(intercept[IllegalArgumentException](op()))
      assert(e.getMessage.contains("namespace data is not set"), verb)
    }
  }

  test("queryAgg aggregates within the tenant scope") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.insert(rows(_ => "").filter(col("id") <= 10), Some("a"))
    c.insert(rows(_ => "").filter(col("id") > 10 && col("id") <= 30), Some("b"))
    val a = c.queryAgg(outputFields = Seq("count(*)"), namespace = Some("a"))
      .head().getLong(0)
    val b = c.queryAgg(outputFields = Seq("count(*)"), namespace = Some("b"))
      .head().getLong(0)
    assert(a == 10L && b == 20L)
    // the hidden tenant column is not an aggregation target ('$' is not
    // a word char, so the expression isn't even an agg match)
    val e = intercept[IllegalArgumentException](c.queryAgg(
      outputFields = Seq(s"min(${"$"}namespace_id)"), namespace = Some("a")))
    assert(e.getMessage.contains("not allowed"))
  }

  test("partition mode: Insert-only privilege suffices for namespace auto-create") {
    val reg = new Rbac.Registry
    reg.createRole("ingester")
    reg.addUserToRole("w", "ingester")
    reg.grant("ingester", "Insert", "docs")
    reg.grant("ingester", "Query", "docs") // to read the count back
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.alterCollection(Map(Collection.NamespaceModeKey ->
      Collection.NamespaceModePartition))
    c.setUser(Rls.UserContext("w"))
    c.enableRbac(reg, "docs")
    // first write to a NEW tenant auto-creates its partition — engine
    // plumbing, not caller DDL: no CreatePartition grant required
    c.insert(rows(_ => "").filter(col("id") <= 5), Some("newtenant"))
    assert(c.hasPartition("newtenant"))
    assert(c.count("", namespace = Some("newtenant")) == 5L)
    // explicit DDL still requires the privilege
    val e = intercept[SecurityException](c.createPartition("manual"))
    assert(e.getMessage.contains("CreatePartition"))
  }

  test("numeric tenant ids work in partition mode (validatePartitionTag accepts a leading digit)") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.alterCollection(Map(Collection.NamespaceModeKey ->
      Collection.NamespaceModePartition))
    c.insert(rows(_ => "").filter(col("id") <= 4), Some("123"))
    assert(c.hasPartition("123"))
    assert(c.count("", namespace = Some("123")) == 4L)
    // NON-CANONICAL numerics survive the hive flush byte-exact: the
    // layout read re-asserts the partition type from the RAW directory
    // string ('0123' must not round-trip through int 123)
    c.insert(rows(_ => "").filter(col("id") > 4 && col("id") <= 7), Some("0123"))
    val dir = "/tmp/graft_test_zerolead_" + System.nanoTime()
    c.flush(s"$dir/segs")
    assert(c.count("", namespace = Some("0123")) == 3L)
    assert(c.count("", namespace = Some("123")) == 4L)
    // illegal characters still reject with the reference's message shape
    val e = intercept[IllegalArgumentException](
      c.insert(rows(_ => "").filter(col("id") <= 1), Some("bad name")))
    assert(e.getMessage.contains("can only contain"))
  }

  test("upsert and deletePks run the namespace plumbing (key mode)") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.insert(rows(_ => "").filter(col("id") <= 10), Some("a"))
    c.insert(rows(_ => "").filter(col("id") > 10 && col("id") <= 20), Some("b"))
    // upsert stamps the hidden column: the new version stays visible to a
    c.upsert(rows(_ => "").filter(col("id") <= 3)
      .withColumn("name", lit("upserted")), Some("a"))
    assert(c.count("name == \"upserted\"", namespace = Some("a")) == 3L)
    assert(c.count("name == \"upserted\"", namespace = Some("b")) == 0L)
    // pk-list delete only kills pks visible in the caller's namespace
    c.deletePks(Seq(1L, 11L), Some("b")) // 1 belongs to a — must survive
    assert(c.count("id == 1", namespace = Some("a")) == 1L)
    assert(c.count("id == 11", namespace = Some("b")) == 0L)
    // strict both ways on the write verbs
    intercept[IllegalArgumentException](c.upsert(rows(_ => "").limit(1)))
    intercept[IllegalArgumentException](c.deletePks(Seq(2L)))
  }

  test("import verbs take the write gate: an unscoped import is refused before any job") {
    val dir = "/tmp/graft_test_ns_import_" + System.nanoTime()
    rows(_ => "").filter(col("id") > 20).write.parquet(dir)
    Seq(Collection.NamespaceModePartitionKey, Collection.NamespaceModePartition).foreach { mode =>
      val c = Collection.create(spark, CollectionSchema(pkField = "id",
        enableNamespace = true))
      if (mode == Collection.NamespaceModePartition)
        c.alterCollection(Map(Collection.NamespaceModeKey -> mode))
      c.insert(rows(_ => "").filter(col("id") <= 10), Some("t"))
      Seq[(String, () => Any)](
        "bulkImport" -> (() => c.bulkImport("parquet", dir)),
        "importBinlog" -> (() => c.importBinlog(dir)),
        "bulkImportUncommitted" -> (() => c.bulkImportUncommitted("parquet", dir)),
        "commitImport" -> (() => c.commitImport(1L))
      ).foreach { case (verb, call) =>
        var refused: Option[Throwable] = None
        val jobs = WriteVerbs.jobsOf(spark) {
          try call() catch { case e: Exception => refused = Some(e) }
        }
        assert(refused.exists(e => e.isInstanceOf[IllegalArgumentException] &&
          e.getMessage.contains("namespace data is not set but namespace enabled")),
          s"$mode $verb: $refused")
        assert(jobs == 0, s"$mode $verb ran $jobs Spark jobs before refusing")
      }
      assert(c.count("", namespace = Some("t")) == 10L, mode)
    }
  }

  test("partition-key bucket scope prunes the flushed layout at directory level") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      partitionKeyField = Some("grp"), numPartitions = 8))
    c.insert(rows(_ => ""))
    val dir = "/tmp/graft_test_pkbucket_" + System.nanoTime()
    c.flush(s"$dir/segs")
    val bucket = spark.range(1)
      .select(concat(lit("_pk_"), pmod(xxhash64(lit(3L)), lit(8L))))
      .head().getString(0)
    val scoped = c.query("grp == 3", Seq("id"), partitionNames = Seq(bucket))
    // correctness: exactly the grp==3 rows even under the bucket scope
    assert(scoped.count() == rows(_ => "").filter(col("grp") === 3).count())
    // scale: the bucket scope is a directory-level PartitionFilter on the
    // flushed hive layout — other buckets' files are never read
    val planStr = scoped.queryExecution.sparkPlan.toString
    assert(planStr.matches(s"(?s).*PartitionFilters: \\[[^\\]]*_partition#\\d+ = $bucket.*"),
      s"expected a PartitionFilters entry (_partition = $bucket) in:\n$planStr")
  }

  test("key-mode scope reaches the scan as a pushable equality") {
    val c = Collection.create(spark, CollectionSchema(pkField = "id",
      enableNamespace = true))
    c.insert(rows(_ => "").filter(col("id") <= 10), Some("a"))
    c.insert(rows(_ => "").filter(col("id") > 10), Some("b"))
    val plan = c.query("id >= 1", Seq("id"), namespace = Some("a"))
      .queryExecution.optimizedPlan.toString
    // the tenant equality must sit in a Filter (pushable), not above a
    // barrier; no join/aggregate may intervene for a plain scoped read
    assert(plan.contains("namespace_id"), plan)
    assert(!plan.contains("Join"), plan)
  }
}
