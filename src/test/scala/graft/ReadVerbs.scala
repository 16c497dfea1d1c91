package graft

/** Every facade read verb (and the binlog export), one small call each,
  * for specs that check the reads pass one gate (RBAC, the database
  * read-deny quota). The collection needs an int64 pk `pk`, a 4-d vector
  * field `emb`, an int field `grp`, a row with pk 1 and an IVF index on
  * `emb`.
  */
object ReadVerbs {

  def all(c: Collection): Seq[(String, () => Any)] = {
    import c.spark.implicits._
    val qs = Seq((0L, Seq.fill(4)(0.5f))).toDF("qid", "qvec")
    Seq(
      "query" -> (() => c.query("grp >= 0", Seq("pk"))),
      "queryHighlighted" -> (() => c.queryHighlighted("grp >= 0", Seq("pk"))),
      "queryAgg" -> (() => c.queryAgg("", Seq("count(*)"))),
      "count" -> (() => c.count()),
      "get" -> (() => c.get(Seq(1L), Seq("pk"))),
      "queryCached" -> (() => c.queryCached("grp >= 0", Seq("pk"))),
      "queryIterator" -> (() => c.queryIterator("", Seq("pk"), batch = 5)),
      "search" -> (() => c.search("emb", qs, k = 1)),
      "searchByPk" -> (() => c.searchByPk("emb", Seq(1L), k = 1)),
      "rangeSearch" -> (() => c.rangeSearch("emb", qs, radius = 0.5)),
      "groupBySearch" -> (() =>
        c.groupBySearch("emb", qs, k = 1, groupFields = Seq("grp"))),
      "searchIterator" -> (() => c.searchIterator("emb", qs, batch = 5)),
      "hybridSearch" -> (() => c.hybridSearch(Seq(c.SubSearch("emb", qs)), k = 1)),
      "searchIndexed" -> (() => c.searchIndexed("emb", qs, k = 1, nprobe = 1)),
      "exportBinlog" -> (() => c.exportBinlog(
        java.nio.file.Files.createTempDirectory("graft_export").toString + "/out")))
  }
}
