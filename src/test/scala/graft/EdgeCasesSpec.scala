package graft

import org.apache.spark.sql.functions._

import graft.functions.{Analyzers, BinaryVector, Metric, TextFunctions}
import graft.operators.{Dedup, Sq8Index, VectorSearch}

/** Boundary behavior across operators: empty inputs, over-sized k,
  * degenerate data. These are the conditions a long-running pipeline
  * actually hits (empty partitions after filters, constant columns,
  * short documents).
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = GraftSession.table(spark, sfDir, "embeddings")

  test("top-k with k larger than the corpus returns the whole corpus, ranked") {
    val n = emb.count().toInt
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val hits = VectorSearch.topK(emb, "vec_id", "embedding", q, "qid", "qvec",
      Metric.L2, k = n + 500)
    assert(hits.count() == n)
    val ranks = hits.select($"rank").as[Long].collect().sorted
    assert(ranks.head == 1L && ranks.last == n.toLong)
  }

  test("rows with null vectors are excluded from search, not an error (null_data parity)") {
    // reference integration suite `null_data`: nullable vector fields —
    // null rows are unsearchable but must not fail the query
    val withNulls = Seq(
      (1L, Some(Array(1f, 0f))), (2L, Some(Array(0f, 1f))), (3L, None))
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1f, 0f))).toDF("qid", "qvec")
    val hits = VectorSearch.topK(withNulls, "vec_id", "embedding", q, "qid", "qvec",
      Metric.L2, k = 10)
    val ids = hits.select($"vec_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L), s"null-vector row must be absent, got $ids")
  }

  test("offset beyond the result set yields empty, not an error") {
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val n = emb.count().toInt
    val hits = VectorSearch.topK(emb, "vec_id", "embedding", q, "qid", "qvec",
      Metric.L2, k = 10, offset = n + 10)
    assert(hits.count() == 0)
  }

  test("BM25 with an empty / all-unknown query returns no hits") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val model = graft.operators.Bm25.build(docs, "doc_id", "text")
    assert(graft.operators.Bm25.search(model, "", 5).count() == 0)
    assert(graft.operators.Bm25.search(model, "zzz qqq", 5).count() == 0)
  }

  test("analyzers on empty and whitespace-only strings yield empty token arrays") {
    val df = Seq("", "   ", "\t\n").toDF("t")
    for (tok <- Seq(Analyzers.Standard, Analyzers.Whitespace)) {
      val toks = df.select(Analyzers.analyze(col("t"), tok).as("x"))
        .as[Seq[String]].collect()
      assert(toks.forall(_.isEmpty), s"$tok on blank input: ${toks.toSeq}")
    }
    // keyword keeps the raw value (a single, possibly-blank token)
    val kw = df.select(Analyzers.analyze(col("t"), Analyzers.Keyword).as("x"))
      .as[Seq[String]].collect()
    assert(kw.forall(_.length == 1))
  }

  test("sq8 on a constant dimension (diff = 0) roundtrips to the constant") {
    val df = Seq((1L, Seq(1f, 5f)), (2L, Seq(1f, 7f))).toDF("id", "v")
    val model = Sq8Index.train(df, "v")
    assert(model.diffs(0) == 0f)
    val rt = df.select(Sq8Index.decode(model, Sq8Index.encode(model, $"v")).as("rt"))
      .as[Seq[Float]].collect()
    assert(rt.forall(_.head == 1f))
  }

  test("dedup over a corpus with no duplicates returns it unchanged") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about entirely other topics here"),
      (3L, "a third unrelated document mentioning nothing shared at all"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", threshold = 0.8)
    assert(kept.count() == 3)
  }

  test("binarize/hamming on empty vectors is zero-distance, not garbage") {
    val df = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    val d = df.select(BinaryVector.hamming(
        BinaryVector.binarize($"a"), BinaryVector.binarize($"b")).as("d"))
      .as[Long].head()
    assert(d == 0L)
  }

  test("shingles of a document shorter than the shingle size fall back to one shingle") {
    val got = Seq("one two").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.tokenize($"t"), 3).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("one two"))
  }

  test("new operators tolerate empty inputs (drivers, hits, struct arrays)") {
    import graft.functions.Metric
    import graft.operators.{SearchAgg, VectorJoin, VectorSearch}
    val v = (0L until 10L).map(i => (i, Seq(i.toFloat, 1f)))
      .toDF("id", "vec")
    // lateral with an empty driver: zero queries, zero hits, no error
    val noDriver = Seq.empty[(Long, Long)].toDF("item_id", "anchor")
    assert(VectorJoin.lateralSearch(noDriver, "item_id", "anchor",
      v, "id", "vec", Metric.L2, k = 2).count() == 0)
    // enrichment of zero hits
    val noHits = Seq.empty[(Long, Long, Double)].toDF("qid", "id", "_score")
    assert(VectorJoin.enrich(noHits, "id",
      Seq((1L, 2.0)).toDF("id", "price"), Seq("price")).count() == 0)
    // group tree over zero hits: no buckets, no error
    val noRows = Seq.empty[(Long, String, Double)].toDF("id", "g", "score")
    assert(SearchAgg.groupTree(noRows,
      SearchAgg.GroupBy(Seq("g"), 3), "id").count() == 0)
    // element search where some rows carry empty struct arrays
    val structed = Seq(
      (1L, Seq((1L, Seq(0f, 0f)))),
      (2L, Seq.empty[(Long, Seq[Float])])
    ).toDF("doc", "raw")
      .select($"doc", transform($"raw",
        c => struct(c.getField("_1").as("cid"), c.getField("_2").as("v"))).as("chunks"))
    val qs = Seq((0L, Seq(0f, 0f))).toDF("qid", "qvec")
    val hits = VectorSearch.elementSearch(structed, "doc", "chunks", "v",
      qs, "qid", "qvec", Metric.L2, k = 5)
    assert(hits.select($"doc").as[Long].collect().toList == List(1L))
  }

  test("CJK mixed tokenizer: empty, whitespace-only, and non-CJK text") {
    def toks(s: String): Seq[String] = Seq(s).toDF("t")
      .select(Analyzers.analyze($"t", Analyzers.CjkMixed).as("x"))
      .as[Seq[String]].head()
    assert(toks("") == Nil)
    assert(toks("   ") == Nil)
    assert(toks("only ascii words") == Seq("only", "ascii", "words"))
  }

  test("TTL boundary: a row expiring exactly at the read ts is invisible") {
    import graft.operators.Mvcc
    // visible requires ts + ttl > readTs (strict): ts=5, ttl=5, read=10 → out
    val data = Seq((1L, 5L), (2L, 6L)).toDF("pk", "_ts")
    val vis = Mvcc.visible(data, "pk", "_ts", lit(10L), ttl = Some(lit(5L)))
      .select($"pk").as[Long].collect().toSet
    assert(vis == Set(2L))
  }

  test("filter cache: eviction past capacity unpersists without breaking reads") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.insert((0L until 40L).map(i => (i, i % 20)).toDF("pk", "grp"))
    // 20 distinct filters overflow the 16-entry cache; all reads stay right
    for (g <- 0 until 20)
      assert(c.queryCached(s"grp == $g", Seq("pk")).count() == 2)
    // early entries were evicted: repeating filter 0 is a miss again
    val (h0, m0) = c.filterCacheStats
    c.queryCached("grp == 0", Seq("pk"))
    val (h1, m1) = c.filterCacheStats
    assert(h1 == h0 && m1 == m0 + 1)
  }

  test("CDC: applying an empty delta is a no-op that keeps the replica readable") {
    val p = Collection.create(spark, CollectionSchema(pkField = "pk"))
    val syncTs = p.insert(Seq((1L, "x")).toDF("pk", "v"))
    val r = Collection.create(spark, CollectionSchema(pkField = "pk"))
    r.applyChanges(p.changesSince(0L))
    r.applyChanges(p.changesSince(syncTs)) // nothing new
    assert(r.count() == 1)
  }

  test("substring index: pattern longer than every document matches nothing") {
    import graft.operators.SubstringIndex
    val docs = Seq((1L, "short"), (2L, "tiny")).toDF("doc_id", "text")
    val idx = SubstringIndex.build(docs, "doc_id", "text")
    assert(SubstringIndex.matchIds(idx, "much longer than any doc").count() == 0)
  }

  test("issue #32294: inner LIKE over newline-bearing JSON text as a SEARCH filter") {
    // testcases/test_issues.py:84 — values[0] is multi-line JSON,
    // values[1] the single-line variant; `metadata like '%passage%'`
    // as a search filter must hit BOTH, with output_fields readback
    // returning the payloads byte-exact (a regex LIKE without
    // dot-matches-newline silently drops values[0])
    val multiline =
      "{\n\"Header 1\": \"Foo1?\", \n\"document_category\": \"acme\", " +
        "\n\"type\": \"passage\"\n}"
    val singleline = """{"Header 1": "Foo1?", "document_category": "acme", "type": "passage"}"""
    val rows = Seq(
      (0L, multiline, Seq(1.0f, 0.0f)),
      (1L, singleline, Seq(0.9f, 0.1f)),
      (2L, "plain decoy row", Seq(0.0f, 1.0f)),
      (3L, "another decoy", Seq(0.1f, 0.9f)))
      .toDF("pk", "metadata", "vector")
    val c = Collection.create(spark, CollectionSchema(pkField = "pk",
      vectorFields = Map("vector" -> 2)))
    c.insert(rows)
    val q = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("qid", "qvec")
    val hits = c.search("vector", q, k = 2, metric = Metric.L2,
      filterExpr = "metadata like \"%passage%\"",
      outputFields = Seq("pk", "metadata"))
      .select($"qid", $"pk", $"metadata").collect()
    assert(hits.length == 4, "nq=2 × limit=2 over the 2 matching rows")
    val perQuery = hits.groupBy(_.getLong(0)).view.mapValues(
      _.map(r => (r.getLong(1), r.getString(2))).toSet).toMap
    val expected = Set(0L -> multiline, 1L -> singleline)
      .map { case (pk, s) => (pk, s) }
    assert(perQuery(0L) == expected && perQuery(1L) == expected)
  }
}
