package graft

import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by Verify, Bench, tests and examples.
  *
  * Scale notes: shuffle partitions default to the local core count here,
  * but on a real cluster callers should leave
  * `spark.sql.shuffle.partitions` to AQE coalescing
  * (`spark.sql.adaptive.enabled=true` below lets Spark right-size
  * post-shuffle partitions at 100 TB without manual tuning).
  */
object GraftSession {

  /** Local session tuned for the test harness (local[N], AQE on, UTC).
    * `extraConf` pairs are applied last, so they override the defaults.
    */
  def local(cores: Int = 32, appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE right-size the output partitioning of persisted plans
      // (off by default): a pinned read view otherwise caches the raw
      // pre-AQE shuffle partitioning — 32 near-empty blocks per view
      // locally, and at scale whatever the static shuffle partition
      // count was — so every later scan of the cache pays that task
      // fan-out. Scale-correct: AQE targets advisory bytes, not a
      // constant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the JVM-wide generated-code cache defaults to 100 entries; a
      // resident engine running hundreds of distinct plan shapes (this
      // suite: 214 queries x ~10 codegen stages each) evicts constantly
      // and pays a fresh Janino compile (~10-40 ms, driver-side) per
      // stage per run. Size it to hold the working set — memory cost is
      // a few KB of bytecode per entry.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Kryo for broadcast relations / task results (SQL shuffles are
      // Tungsten-binary either way): measured across-the-board win on
      // the broadcast-join-heavy facade paths (retention_sweep
      // 3.73->2.69 s, text_lob 2.96->2.22 s control-vs-Kryo medians,
      // idle-gated). Standard production setting; buffer.max raised so
      // a large broadcast relation never hits Kryo's 64m default cap.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryoserializer.buffer.max", "256m")
      // local-only: the test parquet files are single-digit MB, so the
      // default 128 MB split puts a whole table in ONE task — expensive
      // per-row expressions (minhash, simhash) then run single-threaded.
      // On a real cluster leave the default; files are many and large.
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS); read as long (nanos)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = builder.config(extraConf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine's MVCC time domain is epoch-nanos int64, mirroring the
    * reference's boundary conversion (TIMESTAMPTZ is carried as int64
    * epoch internally — reference `Types.h:70-102`). Source parquet may
    * encode the `ts` column either as INT64 TIMESTAMP(NANOS) (read as
    * Long via `nanosAsLong`) or as `timestamp[us]` (read as
    * TIMESTAMP / TIMESTAMP_NTZ): both must land as Long nanos.
    */
  private[graft] val tsDomainCols = Set("ts", "_ts")

  /** Normalize MVCC ts columns (`ts`/`_ts` plus any in `extra`) from
    * Timestamp/TimestampNTZ to epoch-nanos Long, once, at the load
    * boundary — every downstream consumer (MVCC visibility, TTL,
    * truncate horizon, consistency-level resolution, tuple encoders)
    * then works in a single Long domain. Long-typed inputs pass
    * through untouched (idempotent). Business-time columns
    * (`o_orderdate`, `l_shipdate`) are NOT touched — they stay
    * timestamp-typed and compare in the calendar domain.
    *
    * Scale note: the conversion is a pure per-row expression
    * (`unix_micros * 1000`) inside whole-stage codegen — no shuffle,
    * no UDF. The TIMESTAMP_NTZ → TIMESTAMP cast is instant-preserving
    * because the session timezone is pinned to UTC above.
    */
  def normalizeTs(df: DataFrame, extra: Set[String] = Set.empty): DataFrame = {
    val targets = tsDomainCols ++ extra
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (targets.contains(f.name) &&
          (f.dataType == TimestampType || f.dataType == TimestampNTZType))
        d.withColumn(f.name, unix_micros(col(f.name).cast(TimestampType)) * 1000L)
      else d
    }
  }

  // The driver-provided tables are immutable inputs: one footer-
  // inference pass per (session, path) is enough — re-inferring on
  // every facade call costs a scheduler job each (~tens of ms of
  // driver latency per query at fixture scale, pure metadata at any
  // scale). The cached object is a LAZY plan: every action still scans
  // the parquet files; only the schema/listing work is reused — the
  // catalog-metadata cache any resident engine keeps.
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Read one of the driver-provided parquet tables under `dir`,
    * with the MVCC ts columns normalized to epoch-nanos Long.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // a long-lived process that creates and stops many sessions (test
    // suites, notebook drivers) must not retain stopped sessions' plans
    // forever: purge dead-session entries on access — O(live entries),
    // all driver-side metadata
    val it = tableCache.keySet.iterator
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    tableCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) => normalizeTs(s.read.parquet(p)) })
  }

  /** Spread a small scan across the cluster before EXPENSIVE per-row
    * projections/aggregations (regex chains, JSON kind dispatch,
    * hashing): a parquet file is parallelizable only at row-group
    * granularity, so a small input (often a single row group) otherwise
    * runs every downstream expression single-threaded no matter the
    * split size. A no-op when the scan already yields >= default
    * parallelism (plan-stats estimate, no job) — at real scale files
    * carry many row groups and this adds nothing. Apply ABOVE pushable
    * filters only: Catalyst pushes filters through a repartition, so
    * wrapping a filter query would just re-serialize it (and lose
    * nothing by not wrapping — scan-time filters belong at the scan).
    * Same device as the dedup family's round-1 `parallelize`, shared.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val estParts = df.queryExecution.optimizedPlan.stats.sizeInBytes / maxSplit
    if (estParts < target) df.repartition(target) else df
  }
}
