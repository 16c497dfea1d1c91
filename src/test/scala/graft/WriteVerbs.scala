package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every facade write verb, one small call each, for specs that check the
  * writes pass one gate (RBAC, the database write-deny quota). `rows`
  * builds full rows of the collection for the given pks; the collection
  * needs an int64 pk `pk`, a 4-d vector field `emb`, a long field `grp`
  * and a row with pk 1. The `applyChanges` feed comes from a small second
  * collection with the same schema.
  */
object WriteVerbs {

  def all(c: Collection, rows: Seq[Long] => DataFrame): Seq[(String, () => Any)] = {
    import c.spark.implicits._
    val source = Collection.create(c.spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> 4)))
    source.insert(rows(Seq(7000L)))
    val feed = source.changesSince(0L)
    Seq(
      "insert" -> (() => c.insert(rows(Seq(7001L)))),
      "upsert" -> (() => c.upsert(rows(Seq(1L)))),
      "upsertPartial" -> (() => c.upsertPartial(Seq((1L, 3L)).toDF("pk", "grp"))),
      "setField" -> (() => c.setField("grp", Seq((1L, 4L)).toDF("pk", "grp"))),
      "delete" -> (() => c.delete("pk == 7001")),
      "deletePks" -> (() => c.deletePks(Seq(7001L))),
      "applyChanges" -> (() => c.applyChanges(feed)))
  }

  /** The Spark jobs `op` starts on this thread (its job group). */
  def jobsOf(spark: SparkSession)(op: => Any): Int = {
    val sc = spark.sparkContext
    def inGroup(group: String)(body: => Any): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val group = s"write-verbs-${System.nanoTime()}"
    inGroup(group)(op)
    // the status tracker fills from the listener bus in order: once a
    // later fence job shows up, every job `op` started has too
    val fence = s"$group-fence"
    inGroup(fence)(spark.range(1).count())
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
