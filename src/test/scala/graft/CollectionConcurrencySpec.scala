package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.functions._

/** Concurrency property of the Collection facade (carried from the r3
  * judge list): a streaming ingest attached via [[Collection.attachStream]]
  * races direct insert / delete / flush callers, all funneling through
  * `stateLock`. The reference serializes the same races through the
  * proxy's channel timestamps (proxy task scheduler, `impl.go` Insert /
  * Delete ordering via TSO); here the lock + session-monotonic ts counter
  * must give the same outcome:
  *
  *  - no lost updates: every inserted pk (direct or streamed) is visible;
  *  - deletes of pre-existing pks never resurrect and never over-delete;
  *  - flush mid-write never drops growing rows (seal + union read path);
  *  - the MVCC view stays internally consistent (count == distinct pks).
  *
  * The interleaving is randomized per run (seeded Random sleeps) but the
  * invariants are exact — disjoint pk ranges per writer make the final
  * state independent of the interleaving.
  */
class CollectionConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long]) =
    ids.map(i => (i, s"doc $i", i % 5)).toDF("pk", "txt", "grp")

  test("attachStream micro-batches race insert/delete/flush without losing or resurrecting rows") {
    val base = Files.createTempDirectory("graft_conc_").toString
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    // pre-existing rows 0..99: the delete thread's targets (inserted
    // happens-before the race, so delete-vs-insert on the same pk is
    // not part of the interleaving — MVCC makes that ordering racy by
    // design, exactly like the reference under concurrent clients)
    c.insert(rows(0L until 100L))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val sq = c.attachStream(
      input.toDF().toDF("pk", "txt", "grp"), s"$base/ck")

    val rnd = new Random(20260813L)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def worker(body: => Unit): Unit = {
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try body catch { case t: Throwable => failures.add(t) }
        }
      })
      ()
    }
    // writer A: pks 1000..1199 in 10 batches
    worker {
      (0 until 10).foreach { b =>
        c.insert(rows((1000L + 20 * b) until (1000L + 20 * (b + 1))))
        Thread.sleep(rnd.nextInt(5).toLong)
      }
    }
    // writer B: pks 2000..2199 in 10 batches
    worker {
      (0 until 10).foreach { b =>
        c.insert(rows((2000L + 20 * b) until (2000L + 20 * (b + 1))))
        Thread.sleep(rnd.nextInt(5).toLong)
      }
    }
    // deleter: pks 0..49 in 5 pk-list batches
    worker {
      (0 until 5).foreach { b =>
        c.deletePks((10L * b until 10L * (b + 1)).map(_.asInstanceOf[Any]))
        Thread.sleep(rnd.nextInt(7).toLong)
      }
    }
    // flusher: seals the growing tail mid-race, 4 times
    worker {
      (0 until 4).foreach { _ =>
        c.flush(s"$base/segs")
        Thread.sleep(rnd.nextInt(9).toLong)
      }
    }
    // streamed ingest: pks 3000..3099 fed while the batch writers run
    start.countDown()
    (0 until 5).foreach { b =>
      input.addData((3000L + 20 * b until 3000L + 20 * (b + 1))
        .map(i => (i, s"doc $i", i % 5)))
      sq.processAllAvailable()
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "workers timed out")
    sq.processAllAvailable()
    sq.stop()
    assert(failures.isEmpty, s"worker failed: ${Option(failures.peek())}")

    // exact final state regardless of interleaving:
    // 100 pre-existing - 50 deleted + 200 + 200 direct + 100 streamed
    val view = c.readView()
    assert(c.count() == 550L)
    assert(view.select(countDistinct(col("pk"))).as[Long].head() == 550L)
    assert(c.count("pk < 50") == 0L, "deleted pks resurrected")
    assert(c.count("pk >= 50 and pk < 100") == 50L)
    assert(c.count("pk >= 1000 and pk < 1200") == 200L, "lost direct writes (A)")
    assert(c.count("pk >= 2000 and pk < 2200") == 200L, "lost direct writes (B)")
    assert(c.count("pk >= 3000") == 100L, "lost streamed micro-batch rows")
    // a flush mid-race must leave sealed segments on disk AND the union
    // read path serving them (at least one seal happened)
    assert(c.sealedSegmentCount(s"$base/segs") >= 1)
  }

  test("field DDL racing readers: every read sees a whole drop or re-add, never a half state") {
    val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
    c.insert(rows(0L until 200L))
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // readers start after the first drop: before it, the original grp
    // values are the correct answer, not a half-applied DDL
    val firstDrop = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def worker(body: => Unit): Unit = {
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try body catch { case t: Throwable => failures.add(t) }
        }
      })
      ()
    }
    // DDL thread: drop and re-add `grp` repeatedly
    worker {
      (0 until 6).foreach { i =>
        c.dropField("grp")
        firstDrop.countDown()
        Thread.sleep(3)
        c.addCollectionField("grp", -1L)
        Thread.sleep(3)
      }
      stop.set(true)
    }
    // reader threads: a read must see grp either absent (mid-drop) or
    // fully masked (-1 for all pre-DDL rows) — never original values
    (0 until 2).foreach { _ =>
      worker {
        firstDrop.await(60, TimeUnit.SECONDS)
        while (!stop.get()) {
          val v = c.readView()
          if (v.columns.contains("grp")) {
            val distinctGrp = v.select(col("grp")).distinct()
              .collect().map(_.getLong(0)).toSet
            assert(distinctGrp == Set(-1L),
              s"half-applied DDL visible: grp values $distinctGrp")
          } else assert(c.count() == 200L)
        }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "workers timed out")
    assert(failures.isEmpty, s"worker failed: ${Option(failures.peek())}")
    // final state: re-added field serves the default everywhere
    assert(c.readView().select(col("grp")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L))
  }

  test("registerCollection enforces max.collections atomically under racing registers") {
    val db = "conc_cap_db_" + System.nanoTime()
    Collection.createDatabase(db)
    Collection.alterDatabase(db, Map("database.max.collections" -> "3"))
    try {
      val c = Collection.create(spark, CollectionSchema(pkField = "pk"))
      val pool = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val fs = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try { Collection.registerCollection(s"c$i", c, db); wins.incrementAndGet() }
            catch { case _: IllegalArgumentException => () }
          }
        })
      }
      start.countDown()
      fs.foreach(_.get(30, TimeUnit.SECONDS))
      pool.shutdown()
      // the cap check and the insert are atomic: exactly cap registers
      // win, never cap+1 (two racers at cap-1 must not both pass)
      assert(wins.get() == 3, s"expected exactly 3 registers to win, got ${wins.get()}")
      assert(Collection.listCollections(db).size == 3)
    } finally {
      Collection.listCollections(db).foreach(Collection.dropCollection(_, db))
      Collection.dropDatabase(db)
    }
  }
}
