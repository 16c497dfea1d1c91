package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.expr.ExprCompiler
import graft.functions.Metric
import graft.operators.{ConsistencyLevel, Mvcc, VectorSearch}

/** Field options beyond the Spark type (reference: FieldSchema —
  * `is_primary_key`/`autoID` `Types.h:113-114`, dim, analyzer params,
  * partition key, dynamic `$meta`).
  */
final case class CollectionSchema(
    pkField: String,
    vectorFields: Map[String, Int] = Map.empty, // name -> dim
    tsField: String = "_ts",
    metaField: Option[String] = None,
    autoId: Boolean = false,
    // default_value per field (Types.h:114 DefaultValueType;
    // tests/integration/null_data): an omitted column or an explicit
    // null is filled with the default at insert time.
    fieldDefaults: Map[String, Any] = Map.empty,
    // nullable=false fields WITHOUT a default: inserts carrying a null
    // (or omitting the column entirely) are rejected, the reference's
    // proxy-side validation. Fields not listed here are nullable.
    nonNullable: Set[String] = Set.empty,
    // per-field warmup policy (reference: the field-level `warmup` param,
    // pkg/common WarmupKey family; test_milvus_client_alter_warmup.py):
    // "sync" fields materialize eagerly at load() and block until
    // resident, "async" kicks the materialization off without blocking,
    // "disable" leaves the field to lazy first-touch. Validated at
    // create (case-sensitive, per the reference's invalid-value tests).
    fieldWarmup: Map[String, String] = Map.empty,
    // Declared JSON-typed fields (reference DataType.JSON, schema.proto):
    // StringType columns holding JSON documents. Filters over their
    // paths take the typed-kind bucket semantics (#51489/#51567/#51568)
    // — without the declaration a StringType field's paths would extract
    // untyped, silently diverging from the direct-compile path.
    jsonFields: Set[String] = Set.empty,
    // is_partition_key / is_clustering_key declarations (schema.proto):
    // field-partial load validates the key fields are in the load list
    // (test_field_partial_load.py:369,393). A declared partition key
    // routes every write to the hash bucket of ITS key value across
    // `numPartitions` internal partitions (the reference's
    // partition-key collections; num_partitions defaults to 16,
    // rootcoord create_collection_task).
    partitionKeyField: Option[String] = None,
    numPartitions: Int = 16,
    clusteringKeyField: Option[String] = None,
    // Multi-tenant namespaces (schema.proto enable_namespace +
    // common.go:62-67; shard-split design 20260610): every write/read
    // MUST carry a namespace (CheckNamespace is strict both ways). The
    // `namespace.mode` collection property picks the isolation carrier —
    // "partition_key" (default): a hidden `$namespace_id` VarChar column;
    // "partition": the namespace IS a named partition.
    enableNamespace: Boolean = false,
    // Declared TEXT fields (reference DataType.TEXT,
    // test_milvus_client_text_lob.py): string fields whose oversized
    // values are LOB-externalized at write time (threshold below) and
    // resolved transparently on every read — text_match / BM25 / hybrid
    // / iterators / upsert-delete all see the payload as if inline.
    // The spec carries the field's analyzer/match declarations; the
    // schema-shape rejections (no default_value, no partition key, no
    // user scalar index, enable_match gate) validate at create.
    textFields: Map[String, TextFieldSpec] = Map.empty,
    // TEXT inline threshold in BYTES (the reference's
    // MILVUS_TEXT_INLINE_THRESHOLD, default 64 KiB): a payload of
    // `textInlineThreshold` or more bytes is stored as a LOB ref;
    // anything below stays inline in the row data.
    textInlineThreshold: Int = 65536)

/** Per-TEXT-field declarations (reference FieldSchema for
  * DataType.TEXT: nullable / enable_analyzer / enable_match /
  * analyzer_params — test_milvus_client_text_lob.py's
  * build_text_lob_schema). `analyzerParams` take the same map shape as
  * [[graft.functions.Analyzers.analyzeWith]] and are validated at
  * collection create (an unknown tokenizer fails there, never at first
  * query). text_match / phrase_match over a declared TEXT field require
  * `enableMatch` — the reference's "does not enable match" query error.
  */
final case class TextFieldSpec(
    nullable: Boolean = true,
    enableAnalyzer: Boolean = false,
    enableMatch: Boolean = false,
    analyzerParams: Map[String, String] = Map.empty)

/** Growing-segment seal policies (reference:
  * datacoord/segment_allocation_policy.go — sealL1SegmentByCapacity,
  * sealL1SegmentByLifetime; integration suite
  * tests/integration/sealpolicies). When a policy trips at write time
  * the growing tail auto-seals into a fresh segment directory under
  * `path`, exactly as [[Collection.flush]] would. Age is measured in
  * session-TSO ticks (the stand-in for the reference's HLC timestamps);
  * checks run on the write path — Spark-first, no background sweeper.
  */
final case class SealPolicy(
    path: String,
    maxRows: Long = Long.MaxValue,
    maxAgeTicks: Long = Long.MaxValue) {
  require(maxRows != Long.MaxValue || maxAgeTicks != Long.MaxValue,
    "a seal policy needs at least one bound (maxRows or maxAgeTicks)")
}

/** The user-facing collection facade (SURVEY §7's design stance): the
  * reference's client surface — Insert / Delete / Upsert / Flush /
  * Search / Query / Get / count, with MVCC visibility, consistency
  * levels, and the filter-expression language — over a sealed parquet
  * layout plus a growing in-session buffer, backed entirely by the
  * operator library. A reference user's workflow (`impl.go` Insert
  * :2429, Delete :2557, Upsert task_upsert.go, Search :2817, Query
  * :3739) maps 1:1 onto these methods.
  *
  * State model (the Spark re-expression of growing/sealed segments):
  * `sealedPath` holds flushed parquet; `growing` is the un-flushed
  * DataFrame tail (the reference's growing segment — searchable
  * immediately); `tombs` holds (pk, ts) delete markers. `flush()`
  * seals the growing tail. Timestamps are a session-monotonic counter
  * (the TSO stand-in); reads resolve a ts from the consistency level
  * exactly like `proxy/util.go:1301-1320`.
  *
  * Scale notes: every read is `sealed ∪ growing` with the same plan the
  * operator library uses (visibility anti-join only when tombstones
  * exist, broadcast queries, partial-agg top-k). The growing tail lives
  * as a DataFrame — on a real deployment it would be the streaming
  * union (`Streaming.dedupedIngest`), which shares this exact read path.
  */
final class Collection private (
    val spark: SparkSession,
    val schema: CollectionSchema,
    sealedPath: Option[String]) {

  // The sealed state: the live segment dirs in read order (an opened
  // layout starts as its root) and the truncate horizon. The sealed
  // source derives from them through [[sealedOf]]; [[reseal]] alone
  // changes them after construction.
  @volatile private var sealedSegments: Vector[String] = sealedPath.toVector
  @volatile private var truncateHorizon: Long = 0L

  /** Everything this handle derives from one sealed segment dir.
    *
    * `df` is the dir's ts-normalized frame (MVCC works in epoch-nanos
    * Long; driver parquet may carry timestamp[us] — a no-op on
    * engine-written dirs), built once when the record is made: a dir
    * this handle wrote is read with the schema it wrote, any other dir
    * through [[Collection.readLayoutAt]]'s footer inference. Its file
    * listing is therefore fixed at registration, which keeps an opened
    * root from picking up the segments later flushed under it.
    *
    * `stats` (the MEP 20260602 segment summary) and `pkRange` (the pk
    * [min, max], None for an empty segment) come from one aggregate
    * over `df`: flush forces it at seal time, a compaction output or
    * opened root runs it on its first consumer read. `pkBloom` (MEP
    * 20260324's "bloom filter plus min/max range") is built on the
    * first point probe that passes the range check. All three are lazy
    * vals of the record: the map below only creates records (a file
    * listing, plus footers for an inferred dir), and no record's work
    * reaches back into the map.
    */
  private final class SegRecord(path: String, written: Option[StructType]) {
    val df: DataFrame = GraftSession.normalizeTs(written.fold(
      Collection.readLayoutAt(spark, path)) { w =>
        // what inference would return: data fields in write order, the
        // hive partition column (if any) last, nullable and always
        // string (the all-numeric-tenant fix readLayoutAt re-reads for)
        val (data, part) = w.fields.partition(_.name != Collection.PartitionCol)
        spark.read.schema(StructType(
          (data ++ part.map(_.copy(
            dataType = org.apache.spark.sql.types.StringType,
            nullable = true))).toIndexedSeq)).parquet(path)
      }, Set(schema.tsField))
    lazy val (stats, pkRange) = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      summarize(df, fs.getContentSummary(new Path(path)).getLength)
    }
    lazy val pkBloom: org.apache.spark.util.sketch.BloomFilter =
      df.stat.bloomFilter(schema.pkField, math.max(stats.rows, 1L), 0.001)
  }

  /** The records of the live segment dirs. [[reseal]] registers every
    * dir of its new list before publishing it and trims the map to that
    * list after, so the keys are exactly `sealedSegments` between
    * reseals; a reader holding an older list gets a throwaway record
    * for a dir the reseal dropped ([[recordOf]]) and never re-adds it.
    */
  private val segRecords = new java.util.concurrent.ConcurrentHashMap[String, SegRecord]()

  /** Register `p`, seeding its frame with `written` when this handle
    * just wrote the dir (saves the footer-inference job). A live dir's
    * record is never rebuilt.
    */
  private def register(p: String, written: Option[StructType] = None): SegRecord =
    segRecords.computeIfAbsent(p, new SegRecord(_, written))

  private def recordOf(p: String): SegRecord =
    Option(segRecords.get(p)).getOrElse(new SegRecord(p, None))

  /** The record map's keys — the live-dir invariant made observable. */
  private[graft] def segmentRecordDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    segRecords.keySet.asScala.toSet
  }

  /** Segment dirs -> sealed source: the dirs' frames in a left-deep
    * by-name union in list order, then the truncate cut.
    */
  private def sealedOf(segs: Seq[String],
      horizon: Long = truncateHorizon): Option[DataFrame] =
    segs.map(recordOf(_).df)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(df => if (horizon > 0L) df.filter(col(schema.tsField) > horizon) else df)

  @volatile private var sealedDf: Option[DataFrame] = {
    sealedSegments.foreach(register(_))
    sealedOf(sealedSegments)
  }

  /** Publish `segs` as the live segment list, rebuild the sealed source
    * from its records, trim the record map to it, move a pinned
    * resident collapse to the new state ([[collapse]]) and [[repin]],
    * so a loaded collection keeps exactly one pin per resident artifact
    * and NotLoad none. Flush, fold, compaction and force-merge
    * [[register]] their new dir with its written schema first.
    */
  private def reseal(segs: Vector[String]): Unit = {
    import scala.jdk.CollectionConverters._
    segs.foreach(register(_))
    sealedDf = sealedOf(segs)
    sealedSegments = segs
    segRecords.keySet.retainAll(segs.asJava)
    collapseTs = lastWriteTs
    collapse = collapse.filter(_.pinned)
      .flatMap(c => collapseOf(c.scope)).map(_.copy(pinned = true))
    repin()
  }

  @volatile private var growing: Option[DataFrame] = None
  // an opened layout starts from the delete set its last flush
  // persisted ([[Collection.liveDeleteDir]]), held in memory: a later
  // flush supersedes that dir, and a sweep may then delete it
  @volatile private var tombs: Option[DataFrame] =
    sealedPath.flatMap(Collection.liveDeleteDir(spark, _))
      .map(spark.read.parquet(_).localCheckpoint(true))

  // ---- per-field warmup policy (reference: pkg/common WarmupKey
  // family + test_milvus_client_alter_warmup.py). Validated at create;
  // alterable per field; honored by load().
  schema.fieldWarmup.foreach { case (f, v) => Collection.requireWarmup(v, f) }
  @volatile private var fieldWarmup: Map[String, String] = schema.fieldWarmup

  // ---- TEXT-LOB schema validation (create-time, the reference's
  // proxy-side schema checks — test_milvus_client_text_lob.py:2204
  // partition key, :2233 default_value, :2294 analyzer config). The
  // per-field half is shared with [[addCollectionTextField]] (the
  // add-field DDL runs the same proxy validation, :1839).
  private def validateTextField(f: String, spec: TextFieldSpec): Unit = {
    require(!schema.fieldDefaults.contains(f),
      s"TEXT field '$f' does not support default_value")
    require(!schema.partitionKeyField.contains(f),
      "the partition key field must be of DataType.INT64 or DataType.VARCHAR, " +
        s"got TEXT field '$f'")
    require(f != schema.pkField,
      "the primary key field must be of DataType.INT64 or DataType.VARCHAR, " +
        s"got TEXT field '$f'")
    require(spec.enableAnalyzer || !spec.enableMatch,
      s"TEXT field '$f' sets enable_match without enable_analyzer")
    if (spec.enableAnalyzer)
      // build the analyzer pipeline once against a dummy column — an
      // unknown tokenizer/filter raises HERE, at create/DDL time, with
      // the param error naming the analyzer problem (the reference
      // validates analyzer_params in CreateCollection)
      try graft.functions.Analyzers.analyzeWith(lit(""), spec.analyzerParams)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"invalid analyzer params for TEXT field '$f': ${e.getMessage}")
      }
  }
  require(schema.textInlineThreshold > 0,
    s"text inline threshold must be positive, got ${schema.textInlineThreshold}")
  schema.textFields.foreach { case (f, spec) => validateTextField(f, spec) }

  // TEXT fields added by DDL after create (add_collection_field with
  // DataType.TEXT, test_milvus_client_text_lob.py:1839): value is the
  // spec plus the DDL ts — rows OLDER than the DDL serve null (and a
  // re-add after dropField must not resurrect old values, so the read
  // view masks by ts exactly like the default-fill DDL).
  @volatile private var dynamicTextFields
      : Map[String, (TextFieldSpec, Long)] = Map.empty

  /** Effective TEXT-field declarations: create-time ∪ DDL-added, minus
    * dropped (a dropped field stops externalizing, resolving, and
    * match-gating; its blobs become [[lobGc]] orphans).
    */
  private def textFieldSpecs: Map[String, TextFieldSpec] =
    (schema.textFields ++ dynamicTextFields.view.mapValues(_._1).toMap) --
      droppedFields.keySet

  /** Describe the effective TEXT fields (the describe-collection
    * surface for DataType.TEXT — name → spec).
    */
  def describeTextFields: Map[String, TextFieldSpec] = textFieldSpecs

  /** Add a TEXT field to a live collection (reference
    * MilvusClient.add_collection_field with DataType.TEXT,
    * test_milvus_client_text_lob.py:1839): validated like a create-time
    * TEXT field; rows older than the DDL (and rows omitting the column)
    * read null; newer inserts take the same threshold externalization.
    */
  def addCollectionTextField(field: String, spec: TextFieldSpec): Unit =
    mutate {
      requirePriv("AlterCollection")
      require(field != schema.pkField && field != schema.tsField &&
        field != Collection.PartitionCol, s"cannot redefine system field '$field'")
      require(!textFieldSpecs.contains(field),
        s"TEXT field '$field' already exists")
      require(spec.nullable,
        s"an added TEXT field must be nullable — existing rows have no value for '$field'")
      validateTextField(field, spec)
      val ts = nextTs()
      droppedFields -= field // re-add: the ts mask below prevents resurrection
      dynamicTextFields += field -> ((spec, ts))
      append(ts)
    }

  // ---- TEXT-LOB blob store (reference: storagev2 LobFileInfo +
  // garbage_collector_lob.go; Spark shape in [[graft.operators.Lob]]).
  // Content-addressed (`ref` digest, payload) rows: `lobGrowing` is the
  // un-flushed delta (payloads written since the last flush),
  // `lobSealed` the parquet-backed store under `<path>/_lobs` — the
  // underscore prefix keeps Spark's file index from ever surfacing blob
  // files in a DATA read of the layout. Oversized payloads move exactly
  // once (externalize at write, seal at flush); compaction streams the
  // hidden ref columns and never rewrites payloads (the reference's
  // AddLobFilesToTransaction REUSE_ALL), and [[lobGc]] is the manifest
  // walk as one ids-only semi join.
  @volatile private var lobSealed: Option[DataFrame] =
    sealedPath.flatMap { p =>
      val dirs = Collection.lobLiveDirs(spark, p)
      if (dirs.isEmpty) None
      else Some(dirs.map(spark.read.parquet(_)).reduce(_ unionByName _))
    }
  @volatile private var lobGrowing: Option[DataFrame] = None

  // dedup is unconditional: the same payload may seal in several gen
  // deltas (one flush per batch), and content addressing promises ONE
  // row per digest to the resolve join and the GC count alike
  private def lobStore: Option[DataFrame] = {
    // volatile read ORDER is load-bearing for lock-free readers racing
    // flush()/lobGc(): both publish the new sealed store FIRST and
    // clear lobGrowing second. Reading growing BEFORE sealed can only
    // over-observe (a just-flushed delta through both references —
    // absorbed by the unconditional dedup below), never under-observe;
    // the reverse order could pair the OLD sealed store with the
    // already-cleared growing tail and silently resolve dangling refs.
    val g = lobGrowing
    val s = lobSealed
    ((s, g) match {
      case (Some(s0), Some(g0)) => Some(s0.unionByName(g0))
      case (a, b)               => a.orElse(b)
    }).map(_.dropDuplicates("_lob_ref"))
  }

  /** Live blob count (introspection; the q_text_lob gate pins threshold
    * classification with it — only at/above-threshold payloads land in
    * the store).
    */
  def lobBlobCount: Long = lobStore.map(_.count()).getOrElse(0L)

  /** Whether the sealed blob store should be cache-pinned: the
    * collection is loaded AND some declared TEXT field is in the load
    * scope (a field-partial load listing no TEXT field never joins the
    * store). Read by [[repin]] only.
    */
  private def lobResident: Boolean = loadedFlag &&
    textFieldSpecs.keysIterator.exists(f => loadedFields.forall(_.contains(f)))

  /** Threshold-externalize every declared TEXT field present in a write
    * batch, appending the payload deltas to the growing blob tail. The
    * one write chokepoint helper: [[insertImpl]] (insert/upsert/import/
    * binlog/stream) and [[applyChanges]] (a CDC feed — whose payloads
    * arrive inline) both route through it, so every replica keeps the
    * same LOB storage contract. The blob delta is pinned eagerly (the
    * WAL-append analogue — payload bytes land once); the data-side refs
    * re-derive from the same deterministic input.
    */
  private def externalizeTextFields(batch: DataFrame): DataFrame =
    if (textFieldSpecs.isEmpty) batch
    else textFieldSpecs.keysIterator
      .filter(batch.columns.contains)
      .foldLeft(batch) { (df, f) =>
        val (data, delta) = graft.operators.Lob.externalizeText(
          df, f, Collection.lobRefCol(f), schema.textInlineThreshold)
        val pinned = delta.localCheckpoint(true)
        lobGrowing = Some(lobGrowing
          .map(_.unionByName(pinned).dropDuplicates("_lob_ref"))
          .getOrElse(pinned))
        data
      }

  /** AlterCollectionField (reference: alter_collection_field with
    * field_params={"warmup": ...}): set or change a field's warmup
    * policy; invalid policies are rejected with the reference's error.
    */
  def alterFieldWarmup(field: String, policy: String): Unit = stateLock.synchronized {
    requirePriv("AlterCollection")
    Collection.requireWarmup(policy, field)
    fieldWarmup += field -> policy
  }

  /** The per-field warmup map DescribeCollection exposes (fields with
    * no policy are simply absent, the reference's None).
    */
  def describeFieldWarmup: Map[String, String] = fieldWarmup

  // ---- AlterCollectionField, general params (reference impl.go
  // AlterCollectionField with field_params: max_length for VarChar,
  // max_capacity for arrays, mmap.enabled — validated on write, echoed
  // by describe; warmup routes through the warmup validator).
  @volatile private var fieldProps: Map[String, Map[String, String]] = Map.empty

  def alterCollectionField(field: String, params: Map[String, String]): Unit =
    stateLock.synchronized {
      requirePriv("AlterCollection")
      params.foreach { case (k, v) =>
        k match {
          case "max_length" | "max_capacity" =>
            require(scala.util.Try(v.toInt).toOption.exists(_ > 0),
              s"$k must be a positive integer, got '$v'")
          case "mmap.enabled" =>
            require(v == "true" || v == "false", s"$k must be true|false, got '$v'")
          case "warmup" => Collection.requireWarmup(v, field)
          case _ => // free-form keys stored as-is, like collection properties
        }
      }
      params.get("warmup").foreach(w => fieldWarmup += field -> w)
      fieldProps += field -> (fieldProps.getOrElse(field, Map.empty) ++ params)
    }

  def describeFieldProperties(field: String): Map[String, String] =
    fieldProps.getOrElse(field, Map.empty)

  // ---- seal policies (segment_allocation_policy.go) ----
  private var sealPolicy: Option[SealPolicy] = None
  private var growingRows: Long = 0L // tracked only while a policy is set
  private var growingSinceTs: Option[Long] = None

  /** Install (or, with None semantics via [[clearSealPolicy]], remove)
    * the auto-seal policy. Row accounting starts from the next insert —
    * set the policy before writing, like the reference's config keys.
    */
  def setSealPolicy(p: SealPolicy): Unit = stateLock.synchronized { sealPolicy = Some(p) }
  def clearSealPolicy(): Unit = stateLock.synchronized { sealPolicy = None }

  /** Number of segment directories sealed at `path` so far. */
  def sealedSegmentCount(path: String): Int = {
    val d = new java.io.File(path)
    if (!d.isDirectory) 0 else d.listFiles().count(_.getName.startsWith("seg-"))
  }

  // ---- load / release (reference impl.go LoadCollection /
  // ReleaseCollection / GetLoadState): "loaded" maps to the sealed
  // layout pinned in executor memory (persist + materialize), released
  // = on-disk parquet only. The growing tail is memory-resident by
  // construction, exactly like the reference's growing segment.
  @volatile private var loadedFlag: Boolean = false

  // field-partial load scope (reference: load_fields +
  // skip_load_dynamic_field — testcases/test_field_partial_load.py):
  // None = every field loaded. Enforcement is a projection on the read
  // view (an unloaded column never reaches any derived plan — parquet
  // being columnar, its bytes are never read) plus compile-time
  // rejection of filters/outputs naming unloaded fields.
  @volatile private var loadedFields: Option[Set[String]] = None
  @volatile private var skipDynamic: Boolean = false

  /** LoadCollection. `loadFields` non-empty = field-partial load: the
    * list must carry the pk, at least one vector field, and any
    * declared partition/clustering key (the reference's validations);
    * dynamic fields cannot be listed — `skipLoadDynamicField` is the
    * switch that unloads `$meta`. A reload replaces the previous list.
    */
  def load(loadFields: Seq[String] = Nil,
      skipLoadDynamicField: Boolean = false): Unit = mutate {
    requirePriv("Load")
    if (loadFields.nonEmpty) {
      val fs = loadFields.toSet
      // the dynamic-field catch-all is NOT a listable field (reference
      // load_field validation): listing `$meta` would let the keep-set
      // override skipLoadDynamicField below and keep the column loaded
      val known =
        exprSchema.fieldNames.toSet + schema.pkField -- schema.metaField
      val unknown = fs.diff(known)
      val hint =
        if (unknown.exists(schema.metaField.contains))
          " (dynamic fields cannot be listed — use skip_load_dynamic_field)"
        else ""
      require(unknown.isEmpty,
        s"load field list names unknown field(s): ${unknown.mkString(", ")}$hint")
      require(fs.contains(schema.pkField),
        s"load field list does not contain primary key field ${schema.pkField}")
      if (schema.vectorFields.nonEmpty)
        require(schema.vectorFields.keys.exists(fs.contains),
          "load field list does not contain vector field")
      schema.partitionKeyField.foreach(k => require(fs.contains(k),
        s"load field list does not contain partition key field $k"))
      schema.clusteringKeyField.foreach(k => require(fs.contains(k),
        s"load field list does not contain clustering key field $k"))
      loadedFields = Some(fs)
    } else loadedFields = None
    skipDynamic = skipLoadDynamicField
    loadedPartitions = None // a full load supersedes any partial scope
    loadedFlag = true
    repin()
    // warmup policies (reference: field warmup sync/async/disable):
    // sync — or no policy at all — blocks until resident (the
    // LoadCollection contract); async kicks the materialization off
    // without blocking; disable-only leaves residency to first touch.
    val policies = fieldWarmup.values.toSet
    if (fieldWarmup.isEmpty || policies.contains("sync"))
      sealedDf.foreach(_.count())
    else if (policies.contains("async"))
      sealedDf.foreach { df =>
        val t = new Thread(
          () => { try df.count() catch { case _: Throwable => () }; () },
          "graft-warmup")
        t.setDaemon(true)
        t.start()
      }
  }

  def release(): Unit = mutate {
    requirePriv("Release")
    unload()
  }

  /** NotLoad with no partition or field scope and no resident collapse
    * (release and close).
    */
  private def unload(): Unit = {
    loadedPartitions = None
    loadedFields = None
    skipDynamic = false
    loadedFlag = false
    collapse = None
    repin()
  }

  /** The field-partial load list in effect, if any (DescribeCollection's
    * load_fields echo).
    */
  def describeLoadedFields: Option[Set[String]] = loadedFields

  /** `Loaded` | `NotLoad` (GetLoadState). */
  def loadState: String = if (loadedFlag) "Loaded" else "NotLoad"

  // ---- partition-scoped load (reference impl.go LoadPartitions /
  // ReleasePartitions; test_milvus_client_partition.py): load only some
  // named partitions — reads then serve the LOADED partitions only, and
  // a partition_names-scoped read naming an unloaded partition is an
  // error, the querycoord "partition not loaded" contract. None = no
  // partial scope (whole-collection load/release governs). Residency
  // follows the scope: the pinned view filters on `_partition`, which
  // reaches the flushed hive layout as a PartitionFilter, so only the
  // loaded partitions' bytes materialize.
  @volatile private var loadedPartitions: Option[Set[String]] = None

  // the executor-cache pins the load scope holds, keyed by what each
  // pins: (source frame, partition scope) -> the persisted frame
  @volatile private var pins: Seq[((DataFrame, Option[Set[String]]), DataFrame)] = Nil

  /** The one residency rule: the only code that persists or unpersists
    * the sealed layout, its partition-scoped view, the blob store or a
    * resident collapse. Wanted: the pinned resident collapse, plus
    * when loaded the sealed source (filtered to the loaded partitions
    * under a partial load) and the blob store when [[lobResident]].
    * Held pins not wanted are unpersisted, wanted ones not held are
    * persisted — so a loaded collection holds exactly one pin per
    * resident artifact and a NotLoad one only its pinned collapse.
    * Pins are lazy: the first read (or [[load]]'s warmup) materializes
    * them.
    */
  private def repin(): Unit = {
    val wanted =
      residentCollapse.map(_ -> None).toList ++
        (if (!loadedFlag) Nil
        else sealedDf.map(_ -> loadedPartitions).toSeq ++
          lobSealed.filter(_ => lobResident).map(_ -> None))
    val (keep, drop) = pins.partition { case (k, _) => wanted.contains(k) }
    drop.foreach(_._2.unpersist())
    pins = keep ++ wanted.filterNot(k => keep.exists(_._1 == k)).map {
      case k @ (src, scope) =>
        k -> scope.fold(src)(set =>
            src.filter(col(Collection.PartitionCol).isin(set.toSeq: _*)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** LoadPartitions: idempotent, additive; every name must exist (the
    * reference errors on unknown partitions). A fully-loaded collection
    * absorbs the call as a no-op, matching the reference's
    * load-partition-after-load-collection tests.
    */
  def loadPartitions(names: Seq[String]): Unit = mutate {
    requirePriv("Load")
    require(names.nonEmpty, "partition name list must be non-empty")
    val unknown = names.filterNot(partitionSet.contains)
    require(unknown.isEmpty, s"no such partition(s): ${unknown.mkString(", ")}")
    if (!(loadedFlag && loadedPartitions.isEmpty)) { // full load absorbs
      loadedPartitions = Some(loadedPartitions.getOrElse(Set.empty) ++ names)
      loadedFlag = true
      repin()
    }
  }

  /** ReleasePartitions: idempotent (releasing an unloaded partition, or
    * releasing after the collection was released, succeeds); unknown
    * partitions error. Releasing under a FULL load narrows it to a
    * partial load of the remaining partitions; releasing the last
    * loaded partition leaves the collection NotLoad.
    */
  def releasePartitions(names: Seq[String]): Unit = mutate {
    requirePriv("Release")
    require(names.nonEmpty, "partition name list must be non-empty")
    val unknown = names.filterNot(partitionSet.contains)
    require(unknown.isEmpty, s"no such partition(s): ${unknown.mkString(", ")}")
    if (loadedFlag) {
      val remaining = loadedPartitions.getOrElse(partitionSet) -- names
      loadedPartitions = Some(remaining).filter(_.nonEmpty)
      loadedFlag = remaining.nonEmpty
      repin()
    }
  }

  /** GetLoadingProgress (reference impl.go): percent of the current
    * load target resident. Loads here are synchronous (async warmup
    * still reports loaded, like the reference's warmup policies), so
    * the answer is 0 (NotLoad) or 100 (Loaded, full or partial).
    */
  def getLoadingProgress: Int = if (loadedFlag) 100 else 0

  /** The partitions a partial load currently serves (None = no partial
    * scope in effect).
    */
  def describeLoadedPartitions: Option[Seq[String]] =
    loadedPartitions.map(_.toSeq.sorted)

  private[graft] def sealedStorageLevel =
    sealedDf.map(_.storageLevel)

  // ---- named partitions (reference impl.go CreatePartition /
  // DropPartition / ShowPartitions; search/query take partition_names).
  // Spark-first: a `_partition` tag column, scoped reads filter on it
  // BEFORE any vector/aggregate work — the SURVEY §1 mapping.
  @volatile private var partitionSet: Set[String] = Set(Collection.DefaultPartition)

  // partition-key buckets are collection-internal partitions present
  // from creation (the reference pre-creates num_partitions partitions
  // for is_partition_key collections)
  schema.partitionKeyField.foreach { _ =>
    partitionSet ++= (0 until schema.numPartitions).map(i => s"_pk_$i")
  }

  def listPartitions: Seq[String] = partitionSet.toSeq.sorted

  /** HasPartition (reference impl.go). */
  def hasPartition(name: String): Boolean = partitionSet.contains(name)

  /** GetPartitionStatistics (reference impl.go): visible row count of
    * one named partition — the partition scope prunes before counting,
    * exactly like a partition_names-scoped query.
    */
  def partitionStatistics(name: String): Map[String, String] = {
    requirePriv("GetStatistics")
    require(partitionSet.contains(name), s"no such partition '$name'")
    // datacoord-side stat (the reference serves it off segment metadata,
    // not the query path), so it bypasses the partial-load gate
    Map("row_count" -> rlsFilter(readViewUnscoped(
      ttl = propertyTtl,
      preFilter = Some(col(Collection.PartitionCol) === name)))
      .count().toString)
  }

  def createPartition(name: String): Unit = stateLock.synchronized {
    requirePriv("CreatePartition")
    createPartitionInternal(name)
  }

  /** The privilege-free partition registration shared by the DDL RPC
    * and namespace auto-creation (partition mode creates the tenant's
    * partition on first WRITE — engine plumbing, not caller DDL, so a
    * tenant holding only Insert must not need CreatePartition). Name
    * validation follows the reference's validatePartitionTag
    * (proxy/util.go:340-367): non-empty, chars from
    * [letters digits _ -]; a leading digit IS legal (numeric tenant
    * ids) — the hive read-back stays string via the
    * partitionColumnTypeInference pin above.
    */
  private def createPartitionInternal(name: String): Unit = stateLock.synchronized {
    require(name.trim.nonEmpty,
      s"Invalid partition name: $name. Partition name should not be empty.")
    require(name.forall(c => c == '_' || c == '-' || c.isLetterOrDigit),
      s"Invalid partition name: $name. Partition name can only contain " +
        "numbers, letters and underscores.")
    // `_pk_<bucket>` is how partition-key routing stamps rows — ANY
    // caller-named partition under the prefix (DDL or a
    // namespace-partition tenant id) would be indistinguishable from a
    // hash bucket, and snapshot capture/restore would silently drop its
    // registration. Engine plumbing that legitimately carries the
    // prefix never routes through here: bucket pre-seeding writes
    // partitionSet directly, and the restore replay pre-filters.
    require(!name.startsWith("_pk_"),
      s"Invalid partition name: $name. The '_pk_' prefix is reserved " +
        "for partition-key buckets.")
    require(!partitionSet.contains(name), s"partition '$name' already exists")
    partitionSet += name
  }

  /** Drop a partition and tombstone its rows (the reference releases
    * the partition's segments; MVCC tombstones are this engine's
    * release). The default partition cannot be dropped.
    */
  def dropPartition(name: String): Long = mutate {
    requirePriv("DropPartition")
    require(name != Collection.DefaultPartition, "cannot drop the default partition")
    require(partitionSet.contains(name), s"no such partition '$name'")
    val ts = nextTs()
    val victims = readViewUnscoped()
      .filter(col(Collection.PartitionCol) === name)
      .select(col(schema.pkField), lit(ts).as(schema.tsField))
      .localCheckpoint(true)
    append(ts, tombstones = Some(victims))
    partitionSet -= name
    ts
  }

  // ---- multi-tenant namespaces (20260610 shard-split prerequisite:
  // handleNamespaceField in rootcoord/create_collection_task.go + the
  // proxy's CheckNamespace/resolveNamespacePartitionNames plumbing,
  // proxy/util.go:2826-2870). Spark-first: partition_key mode scopes
  // reads with a `$namespace_id == ns` equality that Catalyst pushes
  // through the MVCC filters to the scan (zone-map pruning; directory
  // pruning once flushed partition-sorted); partition mode reuses the
  // named-partition machinery (directory-level PartitionFilters). At
  // 100 TB a tenant read touches the tenant's files, never the corpus.

  private def namespaceMode: String =
    collectionProperties.getOrElse(Collection.NamespaceModeKey,
      Collection.NamespaceModePartitionKey)

  /** The namespace scope of every read and write: the argument must be
    * present EXACTLY when the collection enables namespaces
    * (CheckNamespace common.go:961-971); partition mode maps it to its
    * partition (a caller-supplied partition list must match), key mode
    * keeps partitions and filters on the hidden column downstream
    * (resolveNamespacePartitionNames util.go:2844-2863 + namespaceForPlan
    * :2865). Returns (effectivePartitionNames, keyModePredicateNamespace).
    */
  private def namespaceScope(ns: Option[String],
      partitionNames: Seq[String]): (Seq[String], Option[String]) = ns match {
    case _ if schema.enableNamespace != ns.isDefined =>
      throw new IllegalArgumentException(
        if (ns.isDefined) "namespace data is set but namespace disabled"
        else "namespace data is not set but namespace enabled")
    case None => (partitionNames, None)
    case Some(n) if namespaceMode == Collection.NamespaceModePartition =>
      if (partitionNames.nonEmpty &&
          partitionNames != Seq(n)) throw new IllegalArgumentException(
        s"""partition names ${partitionNames.mkString("[", ", ", "]")} """ +
          s"""mismatch namespace "$n"""")
      (Seq(n), None)
    case Some(n) => (partitionNames, Some(n))
  }

  private def namespacePredicate(keyNs: Option[String]): Option[Column] =
    keyNs.map(n => col("`" + Collection.NamespaceField + "`") === lit(n))

  /** A read's resolved scope: the partitions it reads and, in key mode,
    * the tenant its rows must carry. Only [[readScope]] makes one, so no
    * facade read reaches a scoped view without its privilege check.
    */
  private final class ReadScope(parts: Seq[String], keyNs: Option[String]) {
    def view(level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
        ignoreGrowing: Boolean = false,
        pkDomain: Option[graft.operators.PkPruning.Domain] = None): DataFrame = {
      val v = readView(level, partitionNames = parts,
        ignoreGrowing = ignoreGrowing, pkDomain = pkDomain)
      namespacePredicate(keyNs).map(v.filter).getOrElse(v)
    }
  }

  /** The read gate (the reference's privilege interceptor plus every
    * read task's namespace preExecute): checks `priv` — RBAC and the
    * database force-deny quota — then resolves the namespace scope.
    * Every facade read and filter-delete takes its view from here, and
    * runs it before any validation that can start a Spark job.
    */
  private def readScope(priv: String, namespace: Option[String],
      partitionNames: Seq[String] = Nil): ReadScope = {
    requirePriv(priv)
    val (parts, keyNs) = namespaceScope(namespace, partitionNames)
    new ReadScope(parts, keyNs)
  }

  private final class WriteScope(parts: Seq[String], keyNs: Option[String]) {

    /** addNamespaceData (proxy/util.go:2872+, task_upsert.go:1400,1583):
      * partition mode tags the tenant's partition, auto-created on first
      * write; key mode stamps the hidden `$namespace_id` column, and
      * caller-supplied values must MATCH, never be silently overwritten.
      */
    def stamp(rows: DataFrame): DataFrame = (parts, keyNs) match {
      case (Seq(ns), _) =>
        stateLock.synchronized {
          if (!hasPartition(ns)) createPartitionInternal(ns)
        }
        rows.withColumn(Collection.PartitionCol, lit(ns))
      case (_, Some(ns)) if rows.columns.contains(Collection.NamespaceField) =>
        val owned = namespacePredicate(keyNs).get
        require(rows.filter(owned.isNull || !owned).limit(1).count() == 0,
          s"""namespace field data mismatches namespace "$ns"""")
        rows
      case (_, Some(ns)) => rows.withColumn(Collection.NamespaceField, lit(ns))
      case _ => rows
    }

    /** The tenant's rows of `df` (a merge basis read outside the read gate). */
    def owns(df: DataFrame): DataFrame = parts match {
      case Seq(ns) => df.filter(col(Collection.PartitionCol) === ns)
      case _       => namespacePredicate(keyNs).map(df.filter).getOrElse(df)
    }
  }

  /** The write gate, [[readScope]]'s twin for every facade write that
    * stamps rows: checks `priv` (RBAC and the database write-deny quota),
    * then resolves the namespace, before anything that can start a job.
    * Only it makes a [[WriteScope]], so no write stamps rows unchecked.
    */
  private def writeScope(priv: String, namespace: Option[String]): WriteScope = {
    requirePriv(priv)
    val (parts, keyNs) = namespaceScope(namespace, Nil)
    new WriteScope(parts, keyNs)
  }

  /** Insert into a NAMED partition (reference Insert with
    * partition_name): rows are tagged and ride the normal write path.
    */
  def insertInto(partition: String, rows: DataFrame): Long = {
    require(partitionSet.contains(partition), s"no such partition '$partition'")
    insert(rows.withColumn(Collection.PartitionCol, lit(partition)))
  }

  /** Predicate scoping a read to named partitions; every name must
    * exist (the reference errors on unknown partition_names rather than
    * silently returning nothing). Applied BELOW the MVCC resolution:
    * partitions are physically separate sub-collections, so visibility
    * resolves within the scope — and the predicate reaches the parquet
    * scan as a PartitionFilter (directory pruning) instead of dying
    * above the latest-by-pk aggregate.
    */
  private def partitionPredicate(names: Seq[String]): Option[Column] =
    if (names.isEmpty)
      // partial load in effect: an unscoped read serves the loaded
      // partitions ONLY (querycoord semantics — released partitions'
      // data is simply not served)
      loadedPartitions.map(set =>
        col(Collection.PartitionCol).isin(set.toSeq: _*))
    else {
      val unknown = names.filterNot(partitionSet.contains)
      require(unknown.isEmpty, s"no such partition(s): ${unknown.mkString(", ")}")
      loadedPartitions.foreach { set =>
        val unloaded = names.filterNot(set.contains)
        require(unloaded.isEmpty,
          s"partition(s) not loaded: ${unloaded.mkString(", ")}")
      }
      Some(col(Collection.PartitionCol).isin(names: _*))
    }

  /** Guards every read-modify-write of the mutable collection state
    * (growing/tombs/sealedDf/lastWriteTs/indexes). attachStream invokes
    * insert from the streaming micro-batch thread, so concurrent user
    * writes would otherwise lose a batch or observe torn state.
    */
  private[this] val stateLock = new Object

  /** Session TSO (rootcoord's timestamp oracle stand-in). Seeded past
    * the sealed data's max ts on open — otherwise a delete at counter
    * ts=1 would sit below every existing row's timestamp and apply to
    * nothing.
    */
  // snapshot registry rebuilds from `<path>/_snapshots/<id>` on open(),
  // so snapshots survive a driver restart like the reference's
  // metastore-backed snapshot meta (each entry's meta/manifest parquet
  // under its own dir is the durable record). Declared BEFORE the tso —
  // its read horizons feed the reseed below, and declaration order is
  // initialization order.
  @volatile private var snapshotReg: Map[String, Collection.SnapState] =
    sealedPath.map(Collection.loadSnapshotRegistry(spark, _)).getOrElse(Map.empty)

  // active restore/export pins per snapshot id (reference PR #48143: an
  // in-flight job pins its snapshot; DropSnapshot refuses while pins
  // exist). Runtime-only by design — a pin is an in-flight job, and a
  // restarted driver has no in-flight jobs to protect. The registry
  // lives on the COMPANION keyed by qualified root + id (like
  // gcPauseReg): drop markers and the retention sweep are root-global,
  // so a pin held through one handle must block dropSnapshot — and
  // therefore the sweep — through EVERY handle of the same root; an
  // instance-local map let handle B drop and sweep the dirs out from
  // under handle A's in-flight restore/export. Snapshots without a
  // persisted root (never flushed to one) key under a handle-local
  // sentinel — no other handle can see them anyway.
  private def snapshotPinKey(id: String): (String, String) =
    (snapshotRoots.get(id).map(r => Collection.qualifiedRoot(spark, r))
      .getOrElse(s"mem:${System.identityHashCode(this)}"), id)

  // snapshot id -> the layout root its `_snapshots/<id>` artifacts live
  // under: dropSnapshot writes its durable `_dropped` marker there, so
  // a drop survives reopen (without it, loadSnapshotRegistry would
  // resurrect every dropped snapshot) and the sweep can tell "dropped"
  // from "created by another handle"
  @volatile private var snapshotRoots: Map[String, String] =
    sealedPath.map(p => snapshotReg.keysIterator.map(_ -> p).toMap)
      .getOrElse(Map.empty)

  private val tso = new AtomicLong(Seq(
    sealedDf.map(_.agg(max(col(schema.tsField))).head() match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }).getOrElse(0L),
    // ...AND past every persisted layout tick: dir names (seg/fold/run/
    // merge/del, blob gen/snap) and snapshot read horizons carry nextTs
    // ticks that can exceed the max ROW ts (flush names its dirs AFTER
    // stamping the rows). Reissuing a tick at or below a fold/run dir's
    // would make the supersession rule in readLayoutAt silently drop a
    // post-restart segment; reissuing one at or below a snapshot's read
    // ts would leak post-restart writes into a pre-restart snapshot
    // (the registry, loaded above, carries the horizons — no second
    // meta read).
    sealedPath.map(Collection.maxLayoutTick(spark, _)).getOrElse(0L),
    snapshotReg.values.map(_.ts).maxOption.getOrElse(0L)).max)
  private def nextTs(): Long = tso.incrementAndGet()

  /** AllocTimestamp (reference impl.go → rootcoord TSO): hand out the
    * next tick of this collection's timestamp oracle. Pure allocation —
    * callers use it to pin externally-coordinated read/write points
    * (e.g. a cross-system snapshot ts); it does not move `lastWriteTs`,
    * so visibility is unaffected.
    */
  def allocTimestamp(): Long = nextTs()

  @volatile private var lastWriteTs: Long = tso.get()

  /** Rows visible to readers before MVCC (sealed ∪ growing). */
  private def raw: DataFrame = (sealedDf, growing) match {
    case (Some(s), Some(g)) => s.unionByName(g, allowMissingColumns = true)
    case (Some(s), None)    => s
    case (None, Some(g))    => g
    case (None, None) => throw new IllegalStateException("empty collection — insert first")
  }

  /** AutoID block allocator (reference: rootcoord's ID allocator hands
    * out contiguous blocks per insert). A partition-stride scheme
    * (monotonically_increasing_id + batch offset) is NOT collision-free
    * across batches — the 2^33 partition stride can land exactly on
    * another batch's offset — so ids are allocated as a counted block
    * and assigned by a contiguous zipWithIndex, exactly unique.
    */
  private val idAlloc = new AtomicLong(1L << 40)

  /** Insert rows (reference `Proxy.Insert`): stamps the write ts; with
    * autoID, assigns collision-free pks from the ts counter base. The
    * rows land in the growing tail — immediately searchable, exactly
    * like a growing segment. Returns the write ts.
    */
  def insert(rows: DataFrame, namespace: Option[String] = None): Long =
    insertImpl(writeScope("Insert", namespace).stamp(rows))

  /** @param preservePks restore path only: rows arriving from a
    *   snapshot already carry their pks — the autoId allocator must not
    *   re-assign (the reference restore preserves ids), and appending a
    *   second pk column would break every later read.
    * @param superseded the partition-key upsert's tombstones, appended
    *   with the rows in one [[append]] (see [[rekeyWrite]]).
    */
  private[graft] def insertImpl(rows: DataFrame,
      preservePks: Boolean = false,
      superseded: Option[DataFrame] = None): Long = mutate {
    val ts = nextTs()
    // untagged rows land in the default partition; insertInto pre-tags;
    // a declared partition key routes each row to the hash bucket of
    // ITS key value (is_partition_key; a map-only stamp that becomes a
    // directory once flushed — partition-scoped reads then prune files)
    val tagged =
      if (rows.columns.contains(Collection.PartitionCol)) rows
      else schema.partitionKeyField match {
        case Some(k) if rows.columns.contains(k) =>
          rows.withColumn(Collection.PartitionCol,
            concat(lit("_pk_"),
              pmod(xxhash64(col(k)), lit(schema.numPartitions.toLong))))
        case _ =>
          rows.withColumn(Collection.PartitionCol, lit(Collection.DefaultPartition))
      }
    // a dropped field is gone from the schema — inserts carrying it are
    // rejected at the proxy boundary (drop-collection-field contract)
    droppedFields.keysIterator.find(tagged.columns.contains).foreach { f =>
      throw new IllegalArgumentException(
        s"field '$f' was dropped from the collection schema")
    }
    // collection-attached ingest functions (reference: FunctionSchemas
    // in the collection schema — the proxy runs every function on each
    // insert/import batch before the data lands; Add/Drop RPCs below).
    // A batch carrying a function's OUTPUT field is rejected — function
    // outputs are engine-computed, never user-supplied.
    ingestFunctions.map(_.outputField).find(tagged.columns.contains).foreach { f =>
      throw new IllegalArgumentException(
        s"field '$f' is the output of a collection function — it is " +
          "computed at ingest and cannot be supplied")
    }
    // default_value fill (null_data contract): an omitted column
    // materializes as the default for every row; an explicit null is
    // coalesced to the default. Pure column expressions — map-only.
    // DDL-added fields (addCollectionField) fill the same way.
    // Runs BEFORE the attached functions so an omitted-but-defaulted
    // function INPUT is materialized by its default first.
    val ddlDefaults = maskedFields.view.mapValues(_._2).toMap
    val defaulted0 = (schema.fieldDefaults ++ ddlDefaults).foldLeft(tagged) {
      case (df, (f, v)) =>
        if (!df.columns.contains(f)) df.withColumn(f, lit(v))
        else df.withColumn(f, coalesce(col(f), lit(v)))
    }
    val defaulted =
      graft.functions.IngestFunctions.applyAll(defaulted0, ingestFunctions)
    // nullable=false without a default: reject nulls up front (the
    // reference validates row-wise in the proxy before the WAL append).
    // The existence check is one bounded limit(1) action per declared
    // field — opt-in cost, not on the default write path. TEXT fields
    // declared nullable=false take the same gate (and it runs BEFORE
    // externalization, while oversized values are still inline).
    val nonNullable = schema.nonNullable ++
      textFieldSpecs.collect { case (f, s) if !s.nullable => f }
    nonNullable.filterNot(schema.fieldDefaults.contains).foreach { f =>
      require(defaulted.columns.contains(f),
        s"field '$f' is not nullable and has no default — column missing from insert")
      require(defaulted.filter(col(f).isNull).isEmpty,
        s"field '$f' is not nullable — insert carries null values")
    }
    // TEXT-LOB externalization at the write chokepoint, so insert /
    // upsert / partial-upsert / import / binlog / stream batches all
    // route oversized payloads into the blob store the same way. Runs
    // AFTER the ingest functions (a BM25 function's sparse output is
    // computed from the full inline text) and after the null gate.
    val externalized = externalizeTextFields(defaulted)
    val stamped = externalized.withColumn(schema.tsField, lit(ts))
    var countedRows: Option[Long] = None // reused by the seal policy check
    val withPk =
      if (!schema.autoId || preservePks) stamped
      else {
        val n = stamped.count() // the block-allocation RPC analogue
        countedRows = Some(n)
        val base = idAlloc.getAndAdd(n)
        val struct_ = stamped.schema
        val rdd = stamped.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
        }
        spark.createDataFrame(rdd,
            struct_.add(org.apache.spark.sql.types.StructField(schema.pkField, LongType)))
      }
    // schema evolution: once a field DDL has run — or a collection
    // function was dropped, leaving its output on old rows only —
    // batches may differ in columns (a pre-DDL tail vs a post-DDL
    // insert) — union by name with null fill, the mergeSchema analogue.
    // Without DDL stay strict so a misspelled column fails loudly
    // instead of null-filling.
    val evolved = droppedFields.nonEmpty || maskedFields.nonEmpty ||
      dynamicTextFields.nonEmpty || functionsEverChanged
    append(ts, rows = Some(withPk), tombstones = superseded,
      allowMissingColumns = evolved)
    // seal-policy check (capacity / lifetime): rows are counted only
    // while a policy is installed, so the extra action is opt-in
    sealPolicy.foreach { p =>
      growingRows += countedRows.getOrElse(withPk.count())
      if (growingSinceTs.isEmpty) growingSinceTs = Some(ts)
      if (growingRows >= p.maxRows ||
          ts - growingSinceTs.get >= p.maxAgeTicks)
        flush(p.path) // reentrant on stateLock; resets the counters
    }
    ts
  }

  /** Delete by filter expression or pk list (reference `Proxy.Delete`):
    * appends (pk, ts) tombstones; nothing is rewritten until
    * [[compact]]. Returns the delete ts. `params` are template variables
    * (the client's filter_params) — an empty template list deletes
    * nothing, it does not error (the reference's #51617 delete contract).
    */
  def delete(filterExpr: String,
      params: Map[String, Any] = Map.empty,
      namespace: Option[String] = None): Long = mutate {
    // task_delete.go:138 — deletes are namespace-checked and -scoped too
    val scope = readScope("Delete", namespace)
    val ts = nextTs()
    // evaluate on the CURRENT VISIBLE VIEW, not raw versions: a predicate
    // matching only a superseded (upserted-over) version must not delete
    // the pk (reference delete-by-expr runs against visible entities).
    // Materialize NOW (localCheckpoint): a lazy plan would re-evaluate
    // against rows inserted later and delete them retroactively.
    // A pk-anchored delete (the reference's delete-by-pk shape) prunes
    // the sealed file list like any other pk read (MEP 20260324).
    val victims = scope.view(pkDomain = pkDomainOf(filterExpr))
      .filter(compiled(filterExpr, params))
      .select(col(schema.pkField), lit(ts).as(schema.tsField))
      .localCheckpoint(true)
    append(ts, tombstones = Some(victims))
    ts
  }

  def deletePks(pks: Seq[Any], namespace: Option[String] = None): Long =
    mutate {
      val scope = readScope("Delete", namespace)
      val ts = nextTs()
      val t = namespace match {
        case None =>
          import scala.jdk.CollectionConverters._
          val pkType = raw.schema(schema.pkField).dataType
          spark.createDataFrame(
            pks.map(p => org.apache.spark.sql.Row(p, ts)).asJava,
            StructType(Seq(
              org.apache.spark.sql.types.StructField(schema.pkField, pkType),
              org.apache.spark.sql.types.StructField(schema.tsField, LongType))))
        case _ =>
          // tenant-scoped pk delete (task_delete.go resolves namespaces
          // in preExecute like every read): tombstone only the pks
          // VISIBLE in the caller's namespace — a raw (pk, ts)
          // tombstone would delete the pk across every tenant
          scope.view()
            .filter(col(schema.pkField).isin(pks: _*))
            .select(col(schema.pkField), lit(ts).as(schema.tsField))
            .localCheckpoint(true)
      }
      append(ts, tombstones = Some(t))
      ts
    }

  /** Upsert (reference task_upsert.go): new versions of existing pks +
    * inserts, resolved last-writer-wins at read time by ts. Namespace
    * plumbing runs exactly as on insert (task_upsert.go:1400,1583) — a
    * tenant's upsert lands stamped/routed, never with a null hidden
    * column invisible to every scoped read.
    */
  def upsert(rows: DataFrame, namespace: Option[String] = None): Long = {
    val stamped = writeScope("Upsert", namespace).stamp(rows)
    // partition-key re-route (issue #30607): the new version lands in
    // the bucket of its NEW key value — possibly a different bucket
    // than the old version's — and a partition-scoped read applies its
    // scope UNDER the LWW collapse, so the superseded version must be
    // tombstoned explicitly (the reference's upsert is delete+insert in
    // the WAL, task_upsert.go); plain collections keep the cheaper
    // pure-LWW path, where global reads already pick the newest version
    if (schema.partitionKeyField.isDefined) rekeyWrite(stamped)
    else insertImpl(stamped)
  }

  /** The partition-key upsert's delete+insert pair, committed TOGETHER
    * in one [[append]]: the delete ts is reserved below the insert ts,
    * and a rejected insert (dropped field, null contract) appends
    * neither half (the reference's WAL writes both atomically). The
    * tombstones make the superseded version — possibly in a DIFFERENT
    * bucket — invisible under any partition scope.
    */
  private def rekeyWrite(stamped: DataFrame): Long = mutate {
    require(stamped.columns.contains(schema.pkField),
      s"upsert rows need the pk column ${schema.pkField}")
    val delTs = nextTs()
    val t = stamped.select(col(schema.pkField), lit(delTs).as(schema.tsField))
      .distinct().localCheckpoint(true)
    insertImpl(stamped, superseded = Some(t))
  }

  /** Partial upsert (reference task_upsert_partial_op.go + the array
    * field-op client surface): `rows` carry the pk plus ONLY the fields
    * being updated — missing fields carry forward from the current
    * version; provided fields replace it (null = keep current), or
    * apply an array op from `fieldOps` (append/remove). Resolved by one
    * join against the current view, then written as a full new version.
    * The merge basis is the UNSCOPED view: a caller's RLS read scope
    * must not silently blank fields of a row they're updating.
    */
  def upsertPartial(rows: DataFrame,
      fieldOps: Map[String, Mvcc.FieldOp] = Map.empty,
      namespace: Option[String] = None): Long = {
    val scope = writeScope("Upsert", namespace)
    val pk = schema.pkField
    require(rows.columns.contains(pk), s"partial upsert rows need the pk column $pk")
    val provided = rows.columns.filterNot(_ == pk).toSet
    // merge basis: RLS-unscoped (see above) but tenant-scoped — a tenant
    // merges against ITS version of the pk (task_upsert.go:1400)
    val current = scope.owns(readViewUnscoped())
    // key mode re-stamps the hidden column on write (a new pk has no
    // current version to carry it from), so it leaves the merge set
    val dataCols = current.columns.filterNot(c => c == schema.tsField ||
      (namespace.isDefined && c == Collection.NamespaceField)).toSeq
    val cur = current.select(dataCols.map(c =>
      if (c == pk) col(c) else col(c).as(s"_cur_$c")): _*)
    val joined = rows.join(cur, Seq(pk), "left")
    val full = joined.select(dataCols.map { c =>
      def empty = array().cast(current.schema(c).dataType)
      if (c == pk) col(c)
      else if (!provided.contains(c)) col(s"_cur_$c").as(c)
      else fieldOps.get(c) match {
        case Some(Mvcc.ArrayAppend) =>
          concat(coalesce(col(s"_cur_$c"), empty), coalesce(col(c), empty)).as(c)
        case Some(Mvcc.ArrayRemove) =>
          filter(coalesce(col(s"_cur_$c"), empty),
            e => !array_contains(coalesce(col(c), empty), e)).as(c)
        case _ => coalesce(col(c), col(s"_cur_$c")).as(c)
      }
    }: _*)
    val pinned = full.localCheckpoint(true) // pin: the merge must not re-resolve later
    // partial upsert can CHANGE the partition key: drop the carried
    // bucket tag so the write re-routes by the merged key value (#30607)
    if (schema.partitionKeyField.isDefined)
      rekeyWrite(scope.stamp(pinned.drop(Collection.PartitionCol)))
    else insertImpl(scope.stamp(pinned))
  }

  /** Attach a Structured Streaming source as this collection's live
    * ingest (reference §2.7: WAL → querynode growing segment): each
    * micro-batch lands through [[insert]] — stamped with a write ts,
    * immediately searchable — so batch reads over `sealed ∪ growing`
    * see streamed rows with the same MVCC semantics as direct inserts.
    * Micro-batches are materialized on arrival (localCheckpoint inside
    * a foreachBatch is the exactly-once handoff point; the checkpoint
    * location makes replays idempotent at the source).
    */
  def attachStream(stream: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // pin the batch's contents before it leaves the micro-batch scope
        insert(batch.localCheckpoint(true))
        ()
      }
      .start()

  /** Fold pending mutable-column patches into the sealed layout
    * (20260709-mutable-columns.md: compaction folds the patch overlay
    * into the column files). Shared by [[compact]] and
    * [[createSnapshot]] — a snapshot manifest records FILES, so
    * acknowledged setField writes must be on disk before manifesting or
    * the snapshot would silently serve pre-patch values. Folds only
    * patches whose column physically exists; a patch on a DDL-added
    * (masked) field not yet carried by any batch stays in the log —
    * clearing it here would erase the acknowledged write permanently
    * (it keeps applying merge-on-read until a batch materializes the
    * column).
    */
  private def foldPatchesIntoLayout(path: String): Unit =
    if (colPatches.nonEmpty) {
      val preFold = sealedDf.getOrElse(
        throw new IllegalStateException("nothing to compact — empty collection"))
      val (foldable, deferred) =
        colPatches.partition { case (f, _) => preFold.columns.contains(f) }
      if (foldable.nonEmpty) Collection.gcRootLock(
          Collection.qualifiedRoot(spark, path)).synchronized {
        // root-locked write span (see flush); reentrant under compact
        val folded = applyColumnPatches(preFold, lit(lastWriteTs), foldable)
        val foldPath = s"$path/fold-${nextTs()}"
        writeSegment(folded, foldPath)
        register(foldPath, Some(folded.schema))
        reseal(Vector(foldPath))
      }
      colPatches = deferred
    }

  /** L0 / delete-merge compaction (reference: datacoord L0 policy,
    * compaction_l0_view.go / compaction_task_l0.go): fold pending
    * patches, then — when tombstones exist — rewrite the sealed layout
    * through the read path's own MVCC rule at compactTs = the last write
    * ts, `latestByPk(visible(sealed, tombstones))`, collapsed per scope
    * key, drop the tombstones, and keep serving: reads stop paying the
    * per-query anti-join for old deletes. The rewrite is one segment dir,
    * `run-<ts>`, written by [[writeSegment]] like every sealed dir, and
    * it supersedes every earlier dir (see
    * [[Collection.resolveLayoutDirs]]). Requires a flushed collection
    * (the reference also compacts sealed segments only).
    */
  def compact(path: String): Unit = mutate {
    requirePriv("Compaction")
    require(growing.isEmpty, "flush the growing tail before compacting")
    // root-lock the rewrite span (see flush): the sweep through another
    // handle must never see the run dir half-written
    Collection.gcRootLock(Collection.qualifiedRoot(spark, path)).synchronized {
      compactLocked(path)
    }
  }

  private def compactLocked(path: String): Unit = {
    // fold mutable-column patches first (20260709-mutable-columns.md:
    // compaction folds the patch overlay into the column files; vectors
    // and untouched columns stream through, row timestamps are kept)
    foldPatchesIntoLayout(path)
    val sealedData = sealedDf.getOrElse(
      throw new IllegalStateException("nothing to compact — empty collection"))
    tombs.foreach { t =>
      // each compaction runs in a fresh run directory: overwriting a
      // directory the live sealed source reads from is illegal in
      // Spark (and the reference likewise seals into new segment files)
      val runPath = s"$path/run-${nextTs()}"
      // the read path's delete+LWW rule, so the rewrite keeps only the
      // newest live version per key. Safe because compactTs =
      // lastWriteTs and reads below the compaction watermark are
      // already rejected — no surviving read can distinguish the
      // physical drop. This is also what lets [[lobGc]] reclaim an
      // upserted-over TEXT payload: its ref physically leaves the data
      // here. The key is (pk, partition, namespace) — the SCOPE key,
      // not the bare pk: a partition- or tenant-scoped read collapses
      // within its scope and can still serve a version that loses the
      // global LWW; a bare-pk collapse would silently drop it.
      val scopeCols = Seq(Collection.PartitionCol, Collection.NamespaceField)
        .filter(sealedData.columns.contains)
      val collapsed = Mvcc.latestByPk(
        Mvcc.visible(sealedData, schema.pkField, schema.tsField,
          lit(lastWriteTs), tombstones = Some(t)),
        schema.pkField, schema.tsField, schema.pkField, scopeCols)
      // materialize the DDL-added TEXT ts-mask physically too: a
      // re-added field's pre-drop rows lose their old values AND LOB
      // refs in the rewrite, so lobGc can reclaim those payloads
      // (they were unreadable already — the read view masks them)
      val ddlFolded = dynamicTextFields.foldLeft(collapsed) {
        case (df, (f, (_, addTs))) =>
          Seq(f, Collection.lobRefCol(f)).filter(df.columns.contains)
            .foldLeft(df)((d, c0) => d.withColumn(c0,
              when(col(schema.tsField) >= lit(addTs), col(c0))))
      }
      // the rewrite also materializes lazy field drops (the reference's
      // compaction drops the dropped fields' binlogs): the dropped
      // columns — and their hidden LOB refs, which until now pinned
      // their blobs against lobGc — leave the layout here
      val merged = ddlFolded.drop(droppedFields.keysIterator
        .flatMap(f => Seq(f, Collection.lobRefCol(f))).toSeq: _*)
      writeSegment(merged, runPath)
      register(runPath, Some(merged.schema))
      reseal(Vector(runPath)) // the single live segment
      tombs = None // all folded (compactTs = lastWriteTs leaves no residual)
    }
  }

  /** TEXT-LOB garbage collection (reference:
    * datacoord/garbage_collector_lob.go — walk the live segments'
    * manifests, delete every LOB file no segment references; runs as
    * its own batch job, never inline with writes). A blob is LIVE while
    * ANY physically-present row version still points at it — a
    * superseded upsert keeps pinning its payload until [[compact]]
    * rewrites the version away, exactly like the reference's
    * manifest-walk (deletes/compaction never touch the store
    * directly).
    *
    * Shape: one ids-only union of the hidden ref columns + a left-semi
    * join — digests shuffle, payloads move once (the survivor rewrite
    * into a fresh `snap-<ts>` dir; see [[Collection.lobLiveDirs]]).
    * Earlier gen/snap dirs stop being part of the store immediately;
    * physical deletion is [[retentionSweep]], run after a retention
    * window (in-flight readers may still hold plans over the old dirs —
    * the same fresh-directory discipline [[compact]] uses).
    *
    * Returns the number of orphaned payloads collected.
    */
  def lobGc(path: String): Long = mutate {
    requirePriv("Compaction")
    // same root-lock span as retentionSweep: a returned gcPause
    // guarantees no in-flight reclamation on this root
    Collection.gcRootLock(Collection.qualifiedRoot(spark, path)).synchronized {
      requireGcNotPaused("lobGc", path)
      lobGcLocked(path)
    }
  }

  private def lobGcLocked(path: String): Long = {
    lobStore match {
      case None => 0L
      case Some(store) =>
        // the manifest walk scans EVERY text field's refs that ever
        // existed — including dropped fields' (their columns are still
        // physically present, so their refs still pin blobs until a
        // compaction rewrite; after it they fall out here and GC them)
        val refCols = (schema.textFields.keySet ++ dynamicTextFields.keySet)
          .iterator.map(Collection.lobRefCol)
          .filter(c => (sealedDf.toSeq ++ growing.toSeq)
            .exists(_.columns.contains(c)))
          .toSeq
        val live: Option[DataFrame] =
          (sealedDf.toSeq ++ growing.toSeq).flatMap { df =>
            refCols.filter(df.columns.contains).map(c =>
              df.filter(col(c).isNotNull).select(col(c).as("_lob_ref")))
          }.reduceOption(_ union _)
        // snapshot-pinned refs join the used set (the reference's
        // IsSegmentGCBlocked path in garbage_collector_lob.go:214-258:
        // a dropped segment protected by a snapshot keeps its LOB files
        // alive) — each snapshot's pins were precomputed ONCE at create
        // into an ids-only parquet, so this is an O(pinned) read, never
        // a re-scan of snapshot data files
        val pinned: Option[DataFrame] = snapshotReg.values
          .flatMap(_.refsDir).toSeq
          .map(spark.read.schema(Collection.refsSchema).parquet(_))
          .reduceOption(_ union _)
        val used = (live.toSeq ++ pinned.toSeq).reduceOption(_ union _)
        val total = store.count()
        val kept = used match {
          case Some(refs) =>
            store.join(refs.distinct(), Seq("_lob_ref"), "left_semi")
          case None => store.filter(lit(false)) // no rows at all — all orphans
        }
        // ids-only count first: the common defensive/no-orphan call must
        // not pay a full-store payload rewrite (the semi join above
        // prunes to the ref column for a count)
        val keptCount = kept.count()
        if (keptCount == total) 0L
        else {
          val snapPath = s"$path/_lobs/snap-${nextTs()}"
          sized(kept).write.parquet(snapPath)
          // schema-supplied read-back (see SegRecord): no footer job
          lobSealed = Some(spark.read.schema(kept.schema).parquet(snapPath))
          lobGrowing = None // folded into the snapshot
          repin() // residency moves from the superseded store to the snapshot
          total - keptCount
        }
    }
  }

  // ---- collection snapshots × LOB pinning (reference:
  // internal/datacoord/snapshot.go — a snapshot is METADATA ONLY, a
  // manifest of the segment files live at snapshot time;
  // garbage_collector_lob.go:214-258 — the LOB GC's used-set includes
  // files referenced by snapshot-protected segments, so a snapshot
  // keeps its LOB payloads alive; the 20260609 export design copies the
  // manifested files into a self-contained directory).
  //
  // Spark shape: the manifest records DIRECTORY units (sealed segment
  // dirs + live blob dirs). Compaction and lobGc write FRESH
  // directories and never delete old ones inline (physical removal is
  // [[retentionSweep]], which honors these manifests as pins) — so a
  // directory manifest is as stable as the reference's file manifest,
  // at any corpus size an O(dirs) metadata write.

  /** CreateSnapshot (reference CreateSnapshot RPC → snapshot.go): seal
    * the tail, then record under `<path>/_snapshots/<id>` the current
    * segment + blob directory set, the point-in-time tombstone cut, and
    * the snapshot's pinned LOB refs (the manifest walk, paid once here
    * so [[lobGc]] reads an ids-only table instead of re-scanning
    * snapshot data files). Returns the snapshot read ts.
    */
  def createSnapshot(path: String, id: String,
      description: String = ""): Long = mutate {
    requirePriv("CreateSnapshot")
    Collection.requireValidSnapshotName(id)
    require(!snapshotReg.contains(id), s"snapshot '$id' already exists")
    flush(path) // reentrant on stateLock; the manifest must cover the tail
    // acknowledged setField writes live in the in-memory patch log, not
    // in files — fold them down first or the manifest would silently
    // serve pre-patch values
    foldPatchesIntoLayout(path)
    // patches the fold DEFERRED (their column not yet materialized by
    // any batch) cannot ride a file manifest — refuse loudly rather
    // than silently diverging from the live merge-on-read
    require(colPatches.isEmpty,
      s"snapshot cannot carry patches on not-yet-materialized columns " +
        s"(${colPatches.keys.mkString(", ")}) — insert a batch carrying " +
        "the column, then snapshot")
    val ts = lastWriteTs
    val root = s"$path/_snapshots/$id"
    // manifest CONCRETE directories: an open()ed collection's segment
    // list may be the layout ROOT, which readLayoutAt re-resolves per
    // read (supersession) — a later compaction would silently change
    // what the snapshot serves
    val dataDirs = sealedSegments
      .flatMap(d => Collection.resolveLayoutDirs(spark, d)).distinct
    // documented divergence from test_snapshot_create_empty_collection
    // (:233, which allows it): this engine's row schema is inferred
    // from data, so an empty collection has no frame to manifest —
    // the same reason its live read errors rather than answering empty
    require(dataDirs.nonEmpty, "nothing to snapshot — empty collection")
    val lobDirs = Collection.lobLiveDirs(spark, path)
    import spark.implicits._
    (dataDirs.map(("data", _)) ++ lobDirs.map(("lob", _)))
      .toDF("kind", "dir").coalesce(1)
      .write.mode("errorifexists") // snapshots are immutable once taken
      .parquet(s"$root/manifest")
    val tombsDir = tombs.flatMap { t =>
      val cut = t.filter(col(schema.tsField) <= ts)
      if (cut.isEmpty) None
      else { cut.write.parquet(s"$root/tombs"); Some(s"$root/tombs") }
    }
    // pinned refs: every `$lob_` column of the manifested segments,
    // whatever field it belonged to — file-level protection like the
    // reference's (superseded LWW versions inside a manifested file pin
    // their payloads too; the snapshot read may not surface them but
    // the files reference them)
    val refsDir = {
      val refs = sealedDf.toSeq.flatMap { df =>
        df.columns.filter(_.startsWith("$lob_")).map(c =>
          df.filter(col(c).isNotNull).select(col(c).as("_lob_ref")))
      }.reduceOption(_ union _).map(_.distinct())
      refs.filter(r => !r.isEmpty).map { r =>
        r.coalesce(1).write.parquet(s"$root/refs"); s"$root/refs"
      }
    }
    // read-semantics state a file manifest can't carry: the TTL
    // property, fields dropped at or before the snapshot, and the
    // DDL-added TEXT fields' add timestamps — captured HERE so the
    // snapshot read keeps the exact visibility a live read had at this
    // ts, whatever DDL happens later
    val st = Collection.SnapState(ts, truncateHorizon,
      collectionProperties.get("collection.ttl").map(_.toLong),
      droppedFields.collect { case (f, dts) if dts <= ts => f }.toSeq.sorted,
      dynamicTextFields.collect {
        case (f, (_, addTs)) if addTs <= ts => f -> addTs }.toMap,
      maskedFields.collect { case (f, (addTs, dflt)) if addTs <= ts =>
        val (tag, v) = Collection.encodeDefault(f, dflt)
        f -> ((addTs, tag, v))
      }.toMap,
      dataDirs, lobDirs, tombsDir, refsDir, description,
      // named-partition DDL and collection properties restore as
      // first-class state (a partition EMPTY at snapshot time must
      // still exist on the restore target; a TTL'd source must not
      // restore into a never-expiring collection). Engine-managed
      // `_pk_<bucket>` entries stay out: a partition-key target
      // pre-seeds its own buckets from the schema, and replaying them
      // would collide (or trip the reserved-prefix DDL gate)
      partitionSet.toSeq.filterNot(p =>
        p == Collection.DefaultPartition || p.startsWith("_pk_")).sorted,
      collectionProperties)
    Collection.writeSnapMeta(spark, s"$root/meta", st)
    snapshotReg += id -> st
    snapshotRoots += id -> path
    ts
  }

  /** Read snapshot `id`: exactly the manifested segments collapsed at
    * the snapshot ts, payloads resolved against the manifested blob
    * dirs — later writes, compactions, and [[lobGc]] runs on the live
    * collection are invisible by construction.
    */
  def readSnapshot(id: String): DataFrame = {
    requirePriv("Query")
    val st = snapshotReg.getOrElse(id, throw new NoSuchElementException(
      s"snapshot '$id' not found"))
    // row-level security re-applies per caller, exactly like query():
    // the snapshot artifact is shared and unscoped, the READ is not
    rlsFilter(Collection.snapshotView(spark, schema, st))
  }

  /** ListSnapshots: id → snapshot read ts. */
  def listSnapshots: Map[String, Long] = snapshotReg.view.mapValues(_.ts).toMap

  /** DropSnapshot: unregister — the next [[lobGc]] stops pinning its
    * refs and [[retentionSweep]] reclaims its `_snapshots/<id>`
    * artifacts. The drop is DURABLE: a zero-byte `_dropped` marker
    * lands under the artifact dir, so a reopen's registry rebuild skips
    * it (no resurrection) and the sweep can distinguish "dropped" from
    * "created through another handle on the same root" — the marker is
    * a metadata write, so in-flight snapshot readers are unaffected
    * (physical deletion stays the sweep's job). An in-flight
    * [[restoreSnapshotAs]]/[[restoreSnapshot]]/[[exportSnapshot]] pins
    * the snapshot (reference PR #48143: Drop fails with "active pins
    * exist" until the job completes —
    * test_milvus_client_snapshot.py:343).
    */
  def dropSnapshot(id: String): Unit = stateLock.synchronized {
    requirePriv("DropSnapshot")
    // no name validation here — the rules tightened across versions and
    // a registry persisted under the older rules must stay droppable
    // (an undroppable snapshot pins its dirs against the sweep forever);
    // the membership check below rejects every invalid name anyway
    require(snapshotReg.contains(id), s"snapshot '$id' not found")
    val pins = snapshotPinCount(id)
    require(pins == 0,
      s"cannot drop snapshot '$id': $pins active pins exist — " +
        "unpin before dropping")
    // durable marker FIRST, registry second: if the marker write throws
    // (transient store error) the drop fails atomically — a registry
    // mutated first would desync from disk (this handle says dropped,
    // a reopen resurrects)
    snapshotRoots.get(id).foreach { root =>
      import org.apache.hadoop.fs.Path
      val marker = new Path(s"$root/_snapshots/$id/_dropped")
      val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(marker.getParent)) fs.create(marker, true).close()
    }
    snapshotReg -= id
    snapshotRoots -= id
  }

  /** DescribeSnapshot (snapshot_manager.go:150-161 — detailed snapshot
    * info read back from the store): the read ts, manifested dir
    * counts, pinned-blob count, and the captured visibility state.
    */
  def describeSnapshot(id: String): Map[String, String] = {
    requirePriv("DescribeSnapshot")
    val st = snapshotReg.getOrElse(id, throw new NoSuchElementException(
      s"snapshot '$id' not found"))
    Map(
      "ts" -> st.ts.toString,
      "data_dirs" -> st.dataDirs.size.toString,
      "lob_dirs" -> st.lobDirs.size.toString,
      "pinned_refs" -> st.refsDir
        .map(d => spark.read.parquet(d).count().toString).getOrElse("0"),
      "has_tombstones" -> st.tombsDir.nonEmpty.toString,
      "ttl" -> st.ttlTicks.map(_.toString).getOrElse(""),
      "dropped_fields" -> st.dropped.mkString(","),
      "description" -> st.description)
  }

  /** RestoreSnapshot (snapshot_manager.go:177-206 — read snapshot data,
    * create the target collection, restore its rows): materialize
    * snapshot `id` into a NEW live collection. The restore WRITES the
    * snapshot view once instead of sharing the source's directories, so
    * the restored collection owns its layout — TEXT payloads arrive
    * inline through the view and re-externalize into the target's own
    * blob store (the CDC re-seed shape), the source's later GC can't
    * touch it, and the result is immediately writable/indexable like
    * any other collection. An admin-scope operation (the reference
    * gates it by privilege and copies whole segments), so the view is
    * UNSCOPED — RLS re-applies per query on the target.
    */
  def restoreSnapshot(id: String): Collection = {
    // pinned for the whole write, same as the job path: a concurrent
    // dropSnapshot + retentionSweep mid-restore would otherwise delete
    // the manifested dirs under the running Spark job (PR #48143)
    val st = stateLock.synchronized {
      requirePriv("RestoreSnapshot")
      val st = snapshotReg.getOrElse(id, throw new NoSuchElementException(
        s"snapshot '$id' not found"))
      pinSnapshot(id)
      st
    }
    try materializeRestore(st)
    finally stateLock.synchronized(unpinSnapshot(id))
  }

  // caller holds stateLock for both; the registry itself is concurrent
  // (cross-handle pins arrive under OTHER handles' stateLocks)
  private def pinSnapshot(id: String): Unit = {
    Collection.snapshotPinReg.merge(snapshotPinKey(id), Integer.valueOf(1),
      (a, b) => Integer.valueOf(a.intValue + b.intValue))
    ()
  }
  private def unpinSnapshot(id: String): Unit = {
    Collection.snapshotPinReg.computeIfPresent(snapshotPinKey(id),
      (_, v) => if (v.intValue <= 1) null else Integer.valueOf(v.intValue - 1))
    ()
  }
  private def snapshotPinCount(id: String): Int =
    Option(Collection.snapshotPinReg.get(snapshotPinKey(id)))
      .map(_.intValue).getOrElse(0)

  /** The restore write itself, shared by the anonymous [[restoreSnapshot]]
    * and the job-registry [[restoreSnapshotAs]].
    */
  private def materializeRestore(st: Collection.SnapState): Collection = {
    // materialize the view NOW (localCheckpoint: distributed executor
    // blocks, never a driver collect) — the restored collection must
    // hold NO plan over the SOURCE's directories, because the moment
    // the job completes the pin releases and a dropSnapshot +
    // [[retentionSweep]] may legally delete them. Payload bytes move
    // once (the reference's restore likewise copies whole segments).
    val view = Collection.snapshotView(spark, schema, st).localCheckpoint(true)
    val target = Collection.create(spark, schema)
    // DDL-added TEXT declarations replay onto the target (the reference
    // restores the full schema): without them the insert below would
    // store multi-MB payloads INLINE and match queries would lose the
    // field's analyzer. A field dropped after the snapshot has no live
    // spec anymore — its data restores as a plain column.
    st.textAdds.keysIterator.foreach { f =>
      textFieldSpecs.get(f).foreach(target.addCollectionTextField(f, _))
    }
    // collection properties replay first (a TTL'd source must not
    // restore into a never-expiring collection; a namespace-mode source
    // keeps enforcing namespaces on the target). Values were validated
    // when the source accepted them; alterCollection re-validates.
    if (st.props.nonEmpty) target.alterCollection(st.props)
    // named partitions restore as first-class DDL (the reference's
    // restore recreates them — test_milvus_client_snapshot.py:936,:991):
    // listPartitions on the target must show them and partition-scoped
    // reads must accept them — INCLUDING a partition that was empty at
    // snapshot time, which only the captured DDL list knows about. The
    // data-derived pass backstops metas written before the `partitions`
    // column existed. The default partition and partition-key hash
    // buckets (`_pk_*`, a reserved prefix) are engine-managed, not DDL
    // names. One bounded distinct over the checkpointed view —
    // partition count, never row count.
    // skip buckets and already-present names defensively: a meta
    // written by the capture-side bug window (or a legacy user
    // partition under the now-reserved prefix) must not make its
    // snapshot unrestorable
    st.partitions.filterNot(p =>
        p.startsWith("_pk_") || target.hasPartition(p))
      .foreach(target.createPartitionInternal)
    if (view.columns.contains(Collection.PartitionCol)) {
      view.select(col(Collection.PartitionCol)).distinct().collect()
        .map(_.getString(0))
        .filter(p => p != null && p != Collection.DefaultPartition &&
          !p.startsWith("_pk_") && !target.hasPartition(p))
        .sorted.foreach(target.createPartitionInternal)
    }
    // original write timestamps drop — the target stamps its own (the
    // reference's restored segments likewise live under the target's
    // collection id with fresh segment ids). The write goes through
    // insertImpl directly: pks are PRESERVED (autoId must not re-assign
    // restored ids), and pre-stamped namespace/partition tags ride —
    // the public insert() gates (namespace required, autoId pk ban)
    // guard USER batches, not a snapshot's own rows.
    target.insertImpl(view.drop(schema.tsField), preservePks = true)
    target
  }

  /** RestoreSnapshot, the full RPC contract (reference
    * snapshot_manager.go RestoreSnapshot → a RestoreSnapshotJob in the
    * job registry; test_milvus_client_snapshot.py:543,628,664,677,1545):
    * restore snapshot `id` into a NEW collection registered as
    * `db.targetName`, tracked as a restore job. Returns the job id —
    * poll [[Collection.getRestoreSnapshotState]]. This engine's restore
    * is synchronous, so the returned job is already Completed at 100
    * (the zero-width-window device the import registry uses); the
    * Pending→InProgress→Completed states, start_time, and time_cost are
    * still recorded so the polling contract holds. While the job runs
    * the snapshot is PINNED — [[dropSnapshot]] fails with "active pins
    * exist" (PR #48143). A pre-existing target name rejects up front
    * ("duplicate collection", :628).
    *
    * `onPinned` is a test seam: invoked after the pin lands and before
    * the restore write, on the calling thread, outside `stateLock` — a
    * spec can deterministically observe the mid-restore state without
    * racing the write.
    */
  def restoreSnapshotAs(id: String, targetName: String,
      db: String = "default",
      onPinned: () => Unit = () => ()): Long = {
    val (jobId, st) = stateLock.synchronized {
      requirePriv("RestoreSnapshot")
      val st = snapshotReg.getOrElse(id, throw new NoSuchElementException(
        s"snapshot '$id' not found"))
      // every target check up front — an invalid name or missing
      // database must fail here, not after the whole restore write
      Collection.requireValidName("collection", targetName)
      Collection.requireDatabase(db)
      require(!Collection.hasCollection(targetName, db),
        s"duplicate collection: '$db.$targetName' already exists")
      // RESERVE the target name before any write: two concurrent
      // restores to the same target both pass the check above, and the
      // loser would otherwise fail only in registerCollection AFTER
      // materializing the whole corpus (leaking the unregistered
      // target). The reservation makes the loser fail fast, here.
      require(Collection.restoreReservations
          .putIfAbsent((db, targetName), java.lang.Long.valueOf(0L)) == null,
        s"duplicate collection: '$db.$targetName' already exists " +
          "(a restore to this target is in progress)")
      // anything that throws between the successful reservation and the
      // job registration below would otherwise leak the reservation and
      // permanently block this (db, target) name — release it on the
      // way out (once the job IS registered, completeRestoreJob owns
      // the release on both the success and failure paths)
      try {
        val jobId = Collection.nextRestoreJobId()
        Collection.restoreJobs.put(jobId, Collection.RestoreJob(jobId, id,
          targetName, db, "RestoreSnapshotInProgress", 0,
          System.currentTimeMillis(), 0L))
        pinSnapshot(id)
        (jobId, st)
      } catch {
        case e: Throwable =>
          Collection.restoreReservations.remove((db, targetName))
          throw e
      }
    }
    // the write runs OUTSIDE stateLock: a concurrent dropSnapshot must
    // be able to reach the pin check and fail loudly, not queue behind
    // the whole restore
    try {
      onPinned()
      val target = materializeRestore(st)
      stateLock.synchronized {
        Collection.registerRestored(targetName, target, db)
        completeRestoreJob(jobId, "RestoreSnapshotCompleted", 100, "")
      }
      jobId
    } catch {
      case e: Throwable =>
        stateLock.synchronized {
          completeRestoreJob(jobId, "RestoreSnapshotFailed", 0,
            String.valueOf(e.getMessage))
        }
        throw e
    }
  }

  // terminal-state bookkeeping shared by the success and failure paths:
  // stamp time_cost (floored to 1ms — "time_cost > 0 after completion"
  // is part of the polling contract) and release the pin. Caller holds
  // stateLock.
  private def completeRestoreJob(jobId: Long, state: String, progress: Int,
      reason: String): Unit = {
    val j = Collection.restoreJobs.get(jobId)
    Collection.restoreJobs.put(jobId, j.copy(state = state,
      progress = progress, reason = reason,
      timeCost = math.max(1L, System.currentTimeMillis() - j.startTime)))
    unpinSnapshot(j.snapshot)
    Collection.restoreReservations.remove((j.db, j.targetName))
    Collection.reapRestoreJobs()
  }

  /** ExportSnapshot (20260609 design): copy the manifested segment and
    * blob directories plus the tombstone cut and read ts into `destDir`
    * — fully self-contained, [[Collection.openSnapshotExport]] serves
    * it after the source collection (including its `_lobs`) is gone.
    * Returns the number of directories copied.
    */
  def exportSnapshot(id: String, destDir: String): Int = {
    // pinned for the whole copy, same as the restore paths: a
    // concurrent dropSnapshot + retentionSweep would otherwise delete
    // manifested dirs mid-copy — a FileNotFound at best, a silently
    // partial (yet openable) export at worst
    val st = stateLock.synchronized {
      requirePriv("ExportSnapshot")
      val st = snapshotReg.getOrElse(id, throw new NoSuchElementException(
        s"snapshot '$id' not found"))
      pinSnapshot(id)
      st
    }
    try {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val conf = spark.sparkContext.hadoopConfiguration
      val dest = new Path(destDir)
      val fs = dest.getFileSystem(conf)
      require(!fs.exists(dest), s"export target $destDir already exists")
      var n = 0
      def copyInto(src: String, sub: String): Unit = {
        val sp = new Path(src)
        // index-prefixed names: manifested dirs are unique within their
        // parent, but an export flattens several parents into one
        FileUtil.copy(sp.getFileSystem(conf), sp, fs,
          new Path(s"$destDir/$sub/d$n-${sp.getName}"), false, conf)
        n += 1
      }
      st.dataDirs.foreach(copyInto(_, "data"))
      st.lobDirs.foreach(copyInto(_, "_lobs"))
      st.tombsDir.foreach(copyInto(_, "_tombs"))
      Collection.writeSnapMeta(spark, s"$destDir/_meta", st)
      n
    } finally stateLock.synchronized(unpinSnapshot(id))
  }

  // ---- GC pause/resume (reference garbage_collector.go:285-360 + the
  // GcControl RPC): a backup/migration tool pauses physical reclamation
  // for a window so nothing it is copying disappears underneath it.
  // Contract pins from the reference: ticket names are NOT unique (the
  // REST route sends empty tickets) — the effective pause is the MAX
  // pauseUntil over live records; Resume deletes every record carrying
  // its ticket name; expired records are simply ignored. The registry
  // is JVM-wide and keyed by the ROOT PATH (the reference's pause
  // lives in the single GC coordinator, so every caller sees it; a
  // per-handle pause would let a second open() of the same root sweep
  // right through a backup's window). Like the reference, it does not
  // survive a driver restart.

  /** Pause physical GC ([[retentionSweep]] and [[lobGc]]) over `path`
    * for `durationMs`. Stacking pauses extends to the latest deadline.
    */
  def gcPause(path: String, ticket: String, durationMs: Long): Unit = {
    requirePriv("Compaction")
    require(durationMs > 0, s"pause duration must be positive, got $durationMs")
    val key = Collection.qualifiedRoot(spark, path)
    // acquiring the root lock blocks behind any in-flight sweep/lobGc
    // on this root (any handle) — when this call RETURNS, reclamation
    // has stopped, which is the pause-then-copy contract (the
    // reference's Pause waits for the worker's ack the same way)
    Collection.gcRootLock(key).synchronized {
      val now = System.currentTimeMillis()
      // saturating add: "pause forever" via Long.MaxValue must not wrap
      // negative and read as not-paused
      val until = { val u = now + durationMs; if (u < now) Long.MaxValue else u }
      Collection.gcPauseReg.compute(key,
        (_, v) => Option(v).getOrElse(Vector.empty)
          .filter(_._2 > now) :+ ((ticket, until)))
    }
  }

  /** Resume: drop every pause record over `path` carrying `ticket`
    * (ticket-scoped, like the reference's resume — other callers'
    * records stand).
    */
  def gcResume(path: String, ticket: String): Unit = {
    requirePriv("Compaction")
    Collection.gcPauseReg.compute(Collection.qualifiedRoot(spark, path),
      (_, v) => Option(v).getOrElse(Vector.empty).filterNot(_._1 == ticket)
        match { case e if e.isEmpty => null; case rest => rest })
  }

  /** GetStatus (GcStatus{IsPaused, TimeRemaining}) for `path`. Prunes
    * the root's expired records (and an emptied key) as a side effect,
    * so a long-lived driver cycling through many roots doesn't
    * accumulate dead registry entries.
    */
  def gcStatus(path: String): Map[String, String] = {
    val now = System.currentTimeMillis()
    val until = Option(Collection.gcPauseReg.computeIfPresent(
        Collection.qualifiedRoot(spark, path),
        (_, v) => v.filter(_._2 > now) match {
          case e if e.isEmpty => null
          case rest => rest
        }))
      .getOrElse(Vector.empty).map(_._2).maxOption.getOrElse(0L)
    if (now < until)
      Map("is_paused" -> "true", "time_remaining_ms" -> (until - now).toString)
    else Map("is_paused" -> "false", "time_remaining_ms" -> "0")
  }

  // loud refusal for this engine's CALLER-invoked GC entry points (the
  // reference's background loops silently skip; a library caller asking
  // for work that a pause forbids should hear why). Prunes expired
  // records as a side effect.
  private def requireGcNotPaused(op: String, path: String): Unit = {
    val now = System.currentTimeMillis()
    val live = Option(Collection.gcPauseReg.compute(
        Collection.qualifiedRoot(spark, path),
        (_, v) => Option(v).getOrElse(Vector.empty).filter(_._2 > now)
          match { case e if e.isEmpty => null; case rest => rest }))
      .getOrElse(Vector.empty)
    live.map(_._2).maxOption.foreach { until =>
      throw new IllegalStateException(
        s"$op refused: garbage collection over $path is paused for " +
          s"another ${until - now} ms (tickets: " +
          live.map(_._1).distinct.mkString("'", "', '", "'") +
          ") — gcResume first")
    }
  }

  /** Physical retention sweep (reference:
    * datacoord/garbage_collector.go `recycleDroppedSegments` — the GC
    * that actually DELETES dropped/compacted segment files from object
    * storage; `garbage_collector_lob.go:214-258` — segments protected
    * by a snapshot are carved out). Every compact/fold/forceMerge/lobGc
    * in this engine writes a FRESH directory and leaves the superseded
    * one on disk (in-flight readers may still hold plans over it);
    * without a sweep, storage grows by roughly one corpus per
    * clustering compaction. This deletes, under `path`, every engine
    * directory that
    *   (a) neither this instance's current layout nor a REOPEN of the
    *       root would serve (`seg-`/`fold-`/`run-`/`merge-` dirs out of
    *       [[Collection.resolveLayoutDirs]]'s union, `del-` dirs other
    *       than [[Collection.liveDeleteDir]], `_lobs` gen/snap dirs out
    *       of [[Collection.lobLiveDirs]]), and
    *   (b) no snapshot on this root manifests (the snapshot carve-out —
    *       manifested data/blob dirs stay until their snapshot drops;
    *       the pin set reconciles with DISK, so another handle's
    *       snapshots pin too),
    * plus `_snapshots/<id>` artifact dirs bearing the durable
    * `_dropped` marker (and half-written create junk older than
    * `halfWrittenGraceMs`).
    * Cost rides the DIRECTORY COUNT (two listings + set math on dir
    * names — no data files are read), never corpus bytes, so the sweep
    * stays O(dirs) at any scale. Run it like the reference runs its GC:
    * out of band, after a retention window has passed since the
    * superseding rewrite, when no external reader still holds plans
    * over pre-rewrite directories (this instance's own plans only
    * reference served dirs — every rewrite re-reads its fresh output).
    *
    * Returns the per-kind deleted/kept directory counts.
    */
  def retentionSweep(path: String,
      halfWrittenGraceMs: Long = 3600000L): Map[String, Long] =
      stateLock.synchronized {
    requirePriv("Compaction")
    // the root lock spans the whole sweep: a concurrent gcPause blocks
    // until no reclamation is in flight on this root (see gcRootLock)
    Collection.gcRootLock(Collection.qualifiedRoot(spark, path)).synchronized {
      requireGcNotPaused("retentionSweep", path)
      retentionSweepLocked(path, halfWrittenGraceMs)
    }
  }

  private def retentionSweepLocked(path: String,
      halfWrittenGraceMs: Long): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def qualified(p: String): String = {
      val pp = new Path(p)
      pp.getFileSystem(conf).makeQualified(pp).toString
    }
    def list(dir: Path, accept: String => Boolean): Seq[Path] = {
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(p => accept(p.getName))
    }
    val snapAll = list(new Path(s"$path/_snapshots"), _ => true)
    def hasFile(p: Path, name: String): Boolean =
      p.getFileSystem(conf).exists(new Path(p, name))
    // the pin set reconciles with DISK, not just this instance's
    // registry: snapshots created through another handle (or another
    // JVM) on the same root must pin too, and only the durable
    // `_dropped` marker — never absence from a possibly-stale in-memory
    // view — marks a snapshot as reclaimable. Foreign ids load their
    // MANIFEST only (the sweep needs just the dir lists; meta state is
    // irrelevant here) — O(unknown snapshots) small parquet reads.
    val foreignPins: Seq[(String, String)] = snapAll
      .filter(p => !snapshotReg.contains(p.getName) &&
        !hasFile(p, "_dropped") && hasFile(p, "meta"))
      .flatMap(p => spark.read.schema(Collection.manifestSchema)
        .parquet(s"$p/manifest").collect()
        .map(r => r.getAs[String]("kind") -> r.getAs[String]("dir")))
    val pinnedData = snapshotReg.values.flatMap(_.dataDirs) ++
      foreignPins.collect { case ("data", d) => d }
    val pinnedLob = snapshotReg.values.flatMap(_.lobDirs) ++
      foreignPins.collect { case ("lob", d) => d }
    // keep = union of BOTH layout views: what this instance serves
    // (sealedSegments can hold merge-* dirs a reopen would not resolve)
    // and what reopening the root would resolve (so a sweep never
    // strands a later open()), plus every pinned snapshot manifest
    val keepData = (sealedSegments.flatMap(Collection.resolveLayoutDirs(spark, _)) ++
      Collection.resolveLayoutDirs(spark, path) ++ pinnedData)
      .map(qualified).toSet
    val dataAll = list(new Path(path), n =>
      Seq("seg-", "fold-", "run-", "merge-").exists(n.startsWith))
    val dataDead = dataAll.filterNot(p => keepData.contains(qualified(p.toString)))
    // delete sets: only the live one (what a reopen would seed from) stays
    val keepDel = Collection.liveDeleteDir(spark, path).map(qualified).toSet
    val delAll = list(new Path(path), _.startsWith("del-"))
    val delDead = delAll.filterNot(p => keepDel.contains(qualified(p.toString)))
    val keepLob = (Collection.lobLiveDirs(spark, path) ++ pinnedLob)
      .map(qualified).toSet
    val lobAll = list(new Path(s"$path/_lobs"), n =>
      n.startsWith("gen-") || n.startsWith("snap-"))
    val lobDead = lobAll.filterNot(p => keepLob.contains(qualified(p.toString)))
    // artifact dirs reclaim in two cases: (a) durably dropped AND no
    // longer referenced by THIS instance's registry (a foreign drop
    // must not destroy tombs/refs a local SnapState still reads — the
    // local holder reclaims after its own drop or a reopen); (b)
    // half-written junk (no meta — a crash between manifest and meta;
    // without this, the crashed id leaks forever and can never be
    // re-created past the manifest's errorifexists) older than the
    // grace window, because a FRESH metaless dir may be another
    // handle's create in progress (the reference GC's isExpire check)
    val now = System.currentTimeMillis()
    val snapDead = snapAll.filter { p =>
      def local = snapshotReg.contains(p.getName)
      def expiredJunk = !hasFile(p, "meta") && !local &&
        now - p.getFileSystem(conf).getFileStatus(p).getModificationTime >=
          halfWrittenGraceMs
      (hasFile(p, "_dropped") && !local) || expiredJunk
    }
    (dataDead ++ delDead ++ lobDead ++ snapDead).foreach(p =>
      p.getFileSystem(conf).delete(p, true))
    Map(
      "data_deleted" -> dataDead.size.toLong,
      "data_kept" -> (dataAll.size - dataDead.size).toLong,
      "del_deleted" -> delDead.size.toLong,
      "del_kept" -> (delAll.size - delDead.size).toLong,
      "lob_deleted" -> lobDead.size.toLong,
      "lob_kept" -> (lobAll.size - lobDead.size).toLong,
      "snapshots_deleted" -> snapDead.size.toLong,
      "snapshots_kept" -> (snapAll.size - snapDead.size).toLong)
  }

  /** Truncate (reference: 20260129-truncate_collection.md — clear all
    * data, keep the collection's schema/indexes/config): drops every row
    * written up to now. Implemented as a ts-horizon cut, so it is a
    * metadata operation like the reference's (no rewrite; rows at or
    * below the horizon stop being visible and later inserts are
    * unaffected). Built indexes over pre-truncate data are dropped.
    * Residency follows the load scope like any other reseal: a loaded
    * collection re-pins the cut source, a NotLoad one pins nothing.
    */
  def truncate(): Long = mutate {
    requirePriv("Truncate")
    val ts = nextTs()
    // a full-range tombstone per existing pk would be O(rows); instead
    // cut the raw view at the horizon, which visible() honors because
    // every remaining read path goes through readView. The horizon also
    // lets changesSince refuse cursors from before it (the pre-truncate
    // changelog no longer reproduces this collection's state).
    truncateHorizon = ts
    reseal(sealedSegments)
    growing = growing.map(_.filter(col(schema.tsField) > ts))
    tombs = None
    colPatches = Map.empty // every patched row is cut at the horizon
    indexes.valuesIterator.foreach(releaseIndexState)
    indexes = Map.empty
    changeLog = Vector.empty
    append(ts)
    ts
  }

  /** Whether an un-flushed growing tail exists (GetFlushState's
    * observable: flushed ⇔ no growing rows).
    */
  def hasGrowing: Boolean = growing.isDefined

  /** Seal the growing tail to parquet (reference flush; datanode
    * write-buffer → binlog): ONLY the tail is written, into a fresh
    * segment directory `path/seg-N` — the incremental segment seal, not
    * a full-dataset rewrite — and the collection keeps serving the union
    * of segment reads. Every flush writes a fresh directory, never one a
    * live segment list names, so repeated flushes to one path are safe.
    * The segment (and its blob-store delta) is written one file per read
    * split and partition value, whatever partitioning the client's
    * batches carried ([[sized]]); a tail with no size estimate (an
    * RDD-backed batch) keeps its own partitioning. When tombstones
    * exist, the flush also writes the whole delete set to a `del-<ts>`
    * dir, which a later [[Collection.open]] seeds its deletes from
    * ([[Collection.liveDeleteDir]]).
    */
  def flush(path: String): Unit = stateLock.synchronized {
    requirePriv("Flush")
    // root-lock the write span: a retentionSweep through ANOTHER handle
    // of this root must not list this flush's half-written seg/gen dir
    // as unreferenced junk mid-write (the sweep holds the same lock for
    // its whole run; lock order stateLock -> root lock everywhere)
    Collection.gcRootLock(Collection.qualifiedRoot(spark, path)).synchronized {
      flushLocked(path)
    }
  }

  /** `df` sized to one file per read split
    * (`spark.sql.files.maxPartitionBytes`) by the engine's one sizing
    * rule, [[graft.operators.Compaction.sized]]: a flush writes its
    * tail's bytes, not one file per client batch partition, so every
    * later scan of the dir (the seal-time summary, compaction, the
    * collapse rebuild) pays one task per split.
    */
  private def sized(df: DataFrame): DataFrame =
    graft.operators.Compaction.sized(df, spark.sessionState.conf.filesMaxPartitionBytes)

  /** Write a sealed segment dir, [[sized]] — the one writer of every
    * `seg-` (flush), `fold-` (patch fold), `run-` (compaction) and
    * `merge-` (force-merge) dir, so all of them share one shape. Sealed
    * segments are laid out BY NAMED PARTITION (hive-style directories):
    * a partition_names-scoped read then prunes whole directories at the
    * file source (PartitionFilters) before any row is touched — the
    * reference's partition-level segment pruning, expressed as Spark
    * partitioned parquet. Every such dir keeps the same directory
    * DEPTH: a later open() of the whole layout root lists every
    * historical dir, and mixed depths are a Spark partition-discovery
    * error.
    */
  private def writeSegment(df: DataFrame, path: String): Unit = {
    val w = sized(df).write
    if (df.columns.contains(Collection.PartitionCol))
      w.partitionBy(Collection.PartitionCol).parquet(path)
    else w.parquet(path)
  }

  private def flushLocked(path: String): Unit = {
    // seal the blob-store delta BEFORE the data segment (the reference
    // lands LOB files before sealing the segment that references them):
    // a crash between the two writes must leave unreferenced blobs (a
    // lobGc orphan), never sealed rows with dangling refs that would
    // silently resolve to null. Each flush appends a `gen-<ts>` delta
    // dir under `_lobs` (the underscore prefix keeps blob files out of
    // every data read of the layout); a lobGc snapshot (`snap-<ts>`)
    // supersedes all earlier dirs — see [[Collection.lobLiveDirs]].
    // the delete set goes down whole, and before the segment: a crash
    // between the two leaves durable tombstones over rows never sealed,
    // never sealed rows whose deletes were lost
    tombs.foreach(t => sized(t).write.parquet(s"$path/del-${nextTs()}"))
    lobGrowing.foreach { g =>
      val genPath = s"$path/_lobs/gen-${nextTs()}"
      sized(g).write.parquet(genPath)
      // schema-supplied read-back: we just wrote these files (see
      // SegRecord — skips the footer-inference job)
      val seg = spark.read.schema(g.schema).parquet(genPath)
      // residency moves to the grown store at the data reseal below
      lobSealed = Some(lobSealed.map(_.unionByName(seg)).getOrElse(seg))
      lobGrowing = None
    }
    growing.foreach { g =>
      val segPath = s"$path/seg-${nextTs()}"
      writeSegment(g, segPath)
      // writer-side publish (MEP 20260602): the summary aggregates,
      // pk range included, are extracted at seal time, never re-derived
      // by a later consumer scan. Aggregated over the READ-BACK files
      // (one per split and partition value, see [[writeSegment]]), not
      // the growing plan: `g` may carry un-checkpointed caller lineage
      // (attached ingest functions, autoId zipWithIndex) that a second
      // evaluation would re-run — and could diverge from the bytes just
      // written; the fresh columnar files are both cheaper and
      // authoritative.
      register(segPath, Some(g.schema)).stats
      // a loaded collection stays loaded across flushes (the reference
      // keeps serving from memory while handoff swaps segments)
      reseal(sealedSegments :+ segPath)
      growing = None
      growingRows = 0L
      growingSinceTs = None
    }
  }

  // ---- per-segment summary statistics (reference MEP
  // 20260602-segment_summary_metadata.md: aggregate metrics extracted
  // once at the point of data generation and persisted as first-class
  // fields, so scheduling/introspection reads consume scalars instead
  // of re-scanning). Each live segment's summary is its record's
  // `stats` (see SegRecord): forced at flush (the writer-side
  // publish), computed on first consumer read for compaction outputs
  // and opened layouts (the MEP's opportunistic migration — an eager
  // post-write scan would double the rewrite cost for a value nobody
  // may ask for).
  final case class SegmentStats(rows: Long, bytes: Long, tsFrom: Long,
      tsTo: Long, tsQuantiles: Seq[Long], nullCounts: Map[String, Long])

  /** One-pass summary of a sealed frame: row count, ts range, the five
    * 20/40/60/80/100 ts percentiles (the compaction trigger's expiry
    * quantiles), and per-field null counts — zero-included for every
    * column the segment physically carries; a MISSING key means the
    * field has no data in the segment (added by DDL after the seal)
    * and consumers must treat every row as null for it, exactly the
    * MEP's NullCounts presence contract. The same aggregate yields the
    * pk [min, max] the pk pruning reads (None when the segment is
    * empty).
    */
  private def summarize(df: DataFrame, bytes: Long)
      : (SegmentStats, Option[(Any, Any)]) = {
    val dataCols = df.columns.filterNot(c =>
      c == schema.tsField || c == Collection.PartitionCol)
    val aggs = Seq(
      org.apache.spark.sql.functions.count(lit(1)).as("_n"),
      min(col(schema.tsField)).as("_f"),
      max(col(schema.tsField)).as("_t"),
      percentile_approx(col(schema.tsField),
        array(lit(0.2), lit(0.4), lit(0.6), lit(0.8), lit(1.0)),
        lit(1000)).as("_q"),
      min(col(schema.pkField)).as("_pmin"),
      max(col(schema.pkField)).as("_pmax")) ++
      dataCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nc_$c"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(0)
    if (rows == 0L) (SegmentStats(0L, bytes, 0L, 0L, Nil, Map.empty), None)
    else (SegmentStats(rows, bytes, r.getLong(1), r.getLong(2),
      r.getSeq[Long](3),
      dataCols.map(c => c -> r.getAs[Long](s"_nc_$c")).toMap),
      if (r.isNullAt(4)) None else Some((r.get(4), r.get(5))))
  }

  /** The per-segment summaries, keyed by segment path (GetSegmentsInfo's
    * Statistics view — rows/bytes/ts-range/quantiles/null-counts).
    */
  def segmentStatistics: Map[String, SegmentStats] = {
    requirePriv("GetStatistics")
    sealedSegments.map(p => p -> recordOf(p).stats).toMap
  }

  /** Effective (non-null) sealed rows for one field — the MEP's
    * index-task derivation: a field missing from a segment's null-count
    * map has NO data there (post-seal DDL add) and counts fully null.
    */
  def effectiveRows(field: String): Long =
    sealedSegments.map { p =>
      val st = recordOf(p).stats
      st.rows - st.nullCounts.getOrElse(field, st.rows)
    }.sum

  /** Fraction of sealed rows older than `nowTs - ttlTicks`, derived
    * from the flush-time ts quantiles (reference: compaction trigger
    * ShouldDoSingleCompaction's quantile-based expiry check). Reports
    * ONE BUCKET DOWN from the first qualifying percentile — a strict
    * lower bound, so a TTL compaction never over-triggers on segments
    * whose actual expired footprint is below threshold.
    */
  def expiredFraction(nowTs: Long, ttlTicks: Long): Double = {
    val cutoff = nowTs - ttlTicks
    val weighted = sealedSegments.map { p =>
      val st = recordOf(p).stats
      val pcts = Seq(0.2, 0.4, 0.6, 0.8, 1.0)
      val qualifying = st.tsQuantiles.zip(pcts).takeWhile(_._1 <= cutoff)
      // one bucket down: the fraction BELOW the last qualifying quantile
      val frac = if (qualifying.isEmpty) 0.0
        else if (qualifying.size == pcts.size) 1.0
        else pcts(qualifying.size - 1)
      frac * st.rows
    }.sum
    val total = sealedSegments.map(recordOf(_).stats.rows).sum
    if (total == 0L) 0.0 else weighted / total
  }

  /** TTL-compaction trigger: compact when at least `threshold` of the
    * sealed rows are expired (per [[expiredFraction]]'s lower bound).
    */
  def shouldCompactForTtl(nowTs: Long, ttlTicks: Long,
      threshold: Double = 0.2): Boolean =
    expiredFraction(nowTs, ttlTicks) >= threshold

  // ---- file-level pk segment pruning (reference MEP
  // 20260324-segment_filter_pk_predicate_pruning.md: the delegator
  // drops segments from the dispatch list via pk min/max before any
  // kernel runs). The pk [min,max] is part of each segment record's
  // summary — published at flush, computed once on first read for a
  // compaction output or opened root. The record's pk BLOOM (the other
  // half of the reference's pkoracle.Candidate) is consulted by point
  // and IN domains AFTER the range check, pruning interleaved pk
  // layouts whose [min,max] overlap every segment. False positives
  // only (a kept-but-empty segment), never false negatives — Spark's
  // sketch is deterministic, so decisions reproduce across runs. Both
  // live as long as the segment is live.

  /** A pk literal is bloom-checkable only when its runtime type matches
    * the pk column's (a mismatched probe would answer an arbitrary
    * false — a forbidden false negative).
    */
  private def pkLiteralMatches(v: Any): Boolean =
    (raw.schema(schema.pkField).dataType, v) match {
      case (org.apache.spark.sql.types.LongType, _: Long)     => true
      case (org.apache.spark.sql.types.StringType, _: String) => true
      case _                                                  => false
    }

  /** Could segment `p` hold any row of domain `d`? Range check first
    * (exact), then the bloom for point sets — the reference's
    * pkFilterTermExpr evaluation order.
    */
  private def segmentMayContain(p: String, d: graft.operators.PkPruning.Domain)
      : Boolean = {
    val rec = recordOf(p)
    rec.pkRange match {
      case None => false // an empty segment holds no pk
      case Some((mn, mx)) =>
        graft.operators.PkPruning.overlaps(d, mn, mx) && (d match {
          case graft.operators.PkPruning.Points(vs)
              if vs.nonEmpty && vs.size <= graft.operators.PkPruning.MaxPoints &&
                vs.forall(pkLiteralMatches) =>
            vs.exists(rec.pkBloom.mightContain)
          case _ => true // intervals / oversized lists: range check only
        })
    }
  }

  /** The sealed segments a read must scan: those whose pk range can hold
    * rows of `d` — None when pruning removes nothing (the caller keeps
    * the possibly memory-pinned full union). Every surviving pk's row
    * versions, tombstone keys, and patch matches live inside retained
    * segments by the min/max containment argument in [[PkPruning]].
    */
  private def keptSealed(segs: Vector[String],
      d: Option[graft.operators.PkPruning.Domain],
      tsBound: Option[Long]): Option[Seq[String]] = {
    if (segs.size <= 1 || (d.isEmpty && tsBound.isEmpty)) None
    else {
      val keep = segs.filter { p =>
        val pkOk = d.forall(segmentMayContain(p, _))
        // ts-range prune (MEP 20260602 consumers): a time-travel read
        // skips segments sealed entirely AFTER the read ts — every row
        // in them is invisible at readTs by the MVCC cut anyway
        val tsOk = tsBound.forall { bound =>
          val st = recordOf(p).stats
          st.rows > 0L && st.tsFrom <= bound
        }
        pkOk && tsOk
      }
      if (keep.size == segs.size) None else Some(keep)
    }
  }

  /** The sealed source `fullDf` restricted to the [[keptSealed]]
    * segments, cut at `horizon`.
    */
  private def prunedSealed(fullDf: DataFrame, keep: Seq[String],
      horizon: Long): DataFrame =
    sealedOf(keep, horizon).fold(fullDf.filter(lit(false))) { kept =>
      // align to the full sealed schema — a pruned subset may miss
      // columns later segments introduced
      val cols = fullDf.schema.fields.map { f =>
        if (kept.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      kept.select(cols.toIndexedSeq: _*)
    }

  /** Which sealed segment paths a filter would dispatch to — the
    * pruning decision made observable for tests/introspection (the
    * reference's delegator exposes the same through segment pruning
    * metrics).
    */
  private[graft] def plannedSegments(filterExpr: String): Seq[String] = {
    val segs = sealedSegments
    // pkDomainOf is the SAME gate the read path uses (including its
    // single-segment short-circuit), so this view can never disagree
    // with the dispatch it observes
    pkDomainOf(filterExpr) match {
      case None    => segs
      case Some(d) => segs.filter(segmentMayContain(_, d))
    }
  }

  final case class SegmentInfo(path: String, rows: Long, bytes: Long)

  /** GetPersistentSegmentInfo (reference impl.go): per flushed segment
    * directory, its RAW row count and on-disk bytes. Raw = pre-MVCC
    * (includes superseded row versions), exactly like the reference's
    * per-binlog NumOfRows — the scheduling metric, not the visible
    * count. Read from the segment records' summaries: no scan for a
    * flushed segment, one summary aggregate the first time for a
    * compaction output or opened root.
    */
  def getPersistentSegmentInfo: Seq[SegmentInfo] = {
    requirePriv("GetStatistics")
    // each segment record's summary (MEP 20260602): scheduling reads
    // consume its scalars, computed at most once per live segment
    sealedSegments.map { p =>
      val st = recordOf(p).stats
      SegmentInfo(p, st.rows, st.bytes)
    }
  }

  final case class QuerySegmentInfo(path: String, rows: Long, state: String,
      indexedFields: Seq[String], residency: String)

  /** GetQuerySegmentInfo (reference: impl.go GetQuerySegmentInfo — the
    * querynode's LOADED view of segments, vs
    * [[getPersistentSegmentInfo]]'s flushed datanode view): every
    * sealed segment plus the growing tail, each with raw rows,
    * residency (memory-pinned when the collection is loaded), and
    * which vector indexes fully cover it — a segment is covered when
    * its newest row version predates the index build; later rows are
    * centroid-assigned per search instead. Sealed rows and
    * coverage come from the segment records' summaries.
    */
  def getQuerySegmentInfo: Seq[QuerySegmentInfo] = {
    requirePriv("GetStatistics")
    val resident = if (loadedFlag) "Memory" else "Disk"
    val idx = indexes
    val sealedInfos = sealedSegments.map { p =>
      // rows and the coverage horizon (newest row version = tsTo) come
      // from the segment record's summary (MEP 20260602)
      val st = recordOf(p).stats
      val covering = idx.collect {
        case (f, ist) if ist.buildTs >= st.tsTo => f
      }.toSeq.sorted
      QuerySegmentInfo(p, st.rows, "Sealed", covering, resident)
    }
    val tail = growing.map(g =>
      QuerySegmentInfo("growing", g.count(), "Growing", Nil, "Memory"))
    sealedInfos ++ tail
  }

  final case class SegmentDetail(id: Long, path: String, rows: Long,
      bytes: Long, numFiles: Int, state: String, level: String)

  /** GetSegmentsInfo (reference: impl.go GetSegmentsInfo:4241 — the
    * datacoord detail view behind the lighter
    * [[getPersistentSegmentInfo]]): per sealed segment its id (a stable
    * hash of the path — paths are immutable once sealed), raw rows,
    * on-disk bytes, file count, and compaction LEVEL — L1 for
    * flush-sealed segments, L2 for compaction outputs (fold/run/merge
    * paths), the reference's L0/L1/L2 ladder with L0 absent because
    * delete-deltas fold synchronously inside [[compact]]. Rows and
    * bytes come from the segment records' summaries.
    */
  def getSegmentsInfo: Seq[SegmentDetail] = {
    requirePriv("GetStatistics")
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    sealedSegments.map { p =>
      val st = recordOf(p).stats
      val fs = new Path(p).getFileSystem(conf)
      val numFiles = fs.getContentSummary(new Path(p)).getFileCount.toInt
      // compaction outputs seal under fold-*/run-*/merge-* directories
      // (compact()/forceMerge() path conventions); flush seals seg-*
      val level =
        if (Seq("/fold-", "/run-", "/merge-").exists(p.contains)) "L2"
        else "L1"
      SegmentDetail(
        id = java.util.UUID.nameUUIDFromBytes(p.getBytes("UTF-8"))
          .getMostSignificantBits.abs,
        path = p, rows = st.rows, bytes = st.bytes,
        numFiles = numFiles, state = "Flushed",
        level = level)
    }
  }

  /** ListIndexedSegment (reference: impl.go ListIndexedSegment:6207,
    * the feder introspection API): the sealed segments FULLY COVERED by
    * `field`'s index — every row version in the segment predates the
    * build, so the build's cluster map covers every row in it and none
    * is centroid-assigned at search time. Same coverage rule
    * [[getQuerySegmentInfo]] reports per-segment.
    */
  def listIndexedSegment(field: String): Seq[String] = {
    requirePriv("IndexDetail")
    val st = indexes.getOrElse(field, throw new NoSuchElementException(
      s"no index on field '$field'"))
    // covered = the segment's newest row version (its summary's tsTo)
    // predates the build
    sealedSegments.filter(p => st.buildTs >= recordOf(p).stats.tsTo)
  }

  final case class SegmentIndexData(path: String, field: String,
      indexType: String, nlist: Int, buildTs: Long, rows: Long)

  /** DescribeSegmentIndexData (reference: impl.go
    * DescribeSegmentIndexData:6213): per covered segment, the index
    * artifact's description — type, train params, build ts, and the
    * segment's raw rows the artifact spans.
    */
  def describeSegmentIndexData(field: String): Seq[SegmentIndexData] = {
    requirePriv("IndexDetail")
    val st = indexes.getOrElse(field, throw new NoSuchElementException(
      s"no index on field '$field'"))
    listIndexedSegment(field).map { p =>
      SegmentIndexData(p, field, "IVF_FLAT", st.model.nlist, st.buildTs,
        recordOf(p).stats.rows)
    }
  }

  /** GetFlushState (reference: impl.go GetFlushState(flush_ts)): true
    * when every row written at or before `ts` sits in a sealed
    * segment — i.e. the growing tail holds nothing that old.
    */
  def getFlushState(ts: Long = Long.MaxValue): Boolean = {
    requirePriv("GetStatistics")
    growing.forall(g => g.filter(col(schema.tsField) <= ts).isEmpty)
  }

  final case class CompactionInfo(id: Long, ts: Long, state: String,
      segmentsBefore: Int, segmentsAfter: Int)

  // completed manual compactions, by id (reference: datacoord keeps the
  // compaction plan registry GetCompactionState reads); plans carry the
  // post-compaction segment paths for GetCompactionStateWithPlans
  @volatile private var compactionHistory: Map[Long, CompactionInfo] = Map.empty
  @volatile private var compactionPlans: Map[Long, Seq[String]] = Map.empty

  /** ManualCompaction (reference: impl.go ManualCompaction → a
    * compaction id for [[getCompactionState]] polling). This engine
    * compacts synchronously inside [[compact]], so the returned id is
    * already Completed — the polling contract still holds, the
    * Executing window is just zero-width.
    */
  def manualCompaction(path: String): Long = stateLock.synchronized {
    val before = sealedSegments.size
    compact(path) // privilege-gated (Compaction) inside
    val id = nextTs()
    compactionHistory +=
      id -> CompactionInfo(id, id, "Completed", before, sealedSegments.size)
    compactionPlans += id -> sealedSegments
    id
  }

  /** GetCompactionStateWithPlans (reference impl.go): the recorded
    * state plus the output segment paths the plan produced.
    */
  def getCompactionStateWithPlans(id: Long): (CompactionInfo, Seq[String]) =
    (getCompactionState(id), compactionPlans.getOrElse(id, Nil))

  /** GetCompactionState (reference: impl.go GetCompactionState): the
    * recorded state of a [[manualCompaction]] run; unknown ids error
    * (the reference returns an error status for unknown compaction ids).
    */
  def getCompactionState(id: Long): CompactionInfo = {
    requirePriv("GetStatistics")
    compactionHistory.getOrElse(id, throw new NoSuchElementException(
      s"no compaction with id $id"))
  }

  /** Force-merge compaction (reference: compact(target_size) →
    * datacoord/compaction_policy_forcemerge.go;
    * test_milvus_client_force_merge.py): consolidate SMALL sealed
    * segments into segments of up to `targetSizeMb`, leaving segments
    * already at/above the target untouched — the many-small-segments
    * cleanup, distinct from [[compact]]'s delete/patch fold. Validation
    * per the reference: target must be positive and ≥ the configured
    * segment max size (merging BELOW the natural segment size is
    * refused with the same targetSize error). Rows, tombstones, and
    * indexes are untouched — segments only concatenate, so every read
    * path is unchanged by construction. Returns a compaction id for
    * [[getCompactionState]].
    *
    * Spark shape: per merge group, one union + one `merge-<ts>-<i>`
    * segment dir written by [[writeSegment]] like every sealed dir (one
    * file per read split and `_partition` value: the group's parquet
    * scans report their on-disk bytes) — at deployment scale each group
    * is an independent job over only the small segments' bytes; big
    * segments never rewrite.
    */
  def forceMerge(path: String, targetSizeMb: Long,
      maxSizeMb: Long = 1024L): Long = mutate {
    requirePriv("Compaction")
    require(targetSizeMb > 0, s"target_size must be positive, got $targetSizeMb")
    require(targetSizeMb >= maxSizeMb,
      s"targetSize ${targetSizeMb}MB must be >= the segment max size ${maxSizeMb}MB")
    val before = sealedSegments.size
    // root-lock the merge-dir write span (see flush)
    if (before > 1) Collection.gcRootLock(
        Collection.qualifiedRoot(spark, path)).synchronized {
      import org.apache.hadoop.fs.Path
      val conf = spark.sessionState.newHadoopConf()
      val targetBytes = targetSizeMb * 1024L * 1024L
      val onDisk = sealedSegments.map { p =>
        val fs = new Path(p).getFileSystem(conf)
        p -> fs.getContentSummary(new Path(p)).getLength
      }
      // greedy fill in segment order; a group of one never rewrites
      val groups = onDisk.foldLeft(Vector.empty[Vector[(String, Long)]]) {
        case (acc, seg @ (_, bytes)) =>
          acc.lastOption match {
            case Some(g) if g.map(_._2).sum + bytes <= targetBytes =>
              acc.init :+ (g :+ seg)
            case _ => acc :+ Vector(seg)
          }
      }
      // the reseal moves a loaded collection's pin (full or partition
      // scoped) from the pre-merge layout onto the merged one
      reseal(groups.zipWithIndex.map { case (g, i) =>
        if (g.size == 1) g.head._1
        else {
          val dst = s"$path/merge-${nextTs()}-$i"
          sealedOf(g.map(_._1)).foreach { merged =>
            writeSegment(merged, dst)
            register(dst, Some(merged.schema))
          }
          dst
        }
      })
    }
    val id = nextTs()
    compactionHistory +=
      id -> CompactionInfo(id, id, "Completed", before, sealedSegments.size)
    compactionPlans += id -> sealedSegments
    id
  }

  /** Optimize (reference: the client's optimize() sugar —
    * test_milvus_client_optimize.py: wait indexes → force-merge
    * compaction → wait → index rebuild → refresh load). Synchronous
    * here: force-merge, then rebuild every vector index over the merged
    * layout. The load refresh is the force-merge's reseal, which re-pins
    * the merged layout under the SAME load scope (partitions and fields
    * alike). Returns the force-merge compaction id.
    */
  def optimize(path: String, targetSizeMb: Long = 2048L,
      maxSizeMb: Long = 1024L): Long = {
    val id = forceMerge(path, targetSizeMb, maxSizeMb)
    indexes.foreach { case (f, st) => createIndex(f, st.model.nlist) }
    id
  }

  /** optimize with the client's human-readable size string ("1.5GB",
    * " 2 MB ") — the parse_target_size sugar pinned by
    * test_milvus_client_optimize.py.
    */
  def optimize(path: String, targetSize: String): Long =
    optimize(path, Collection.parseTargetSizeMb(targetSize))

  // ---- row-level security (20250610-rls_design.md) ----
  private var rlsPolicies: Seq[String] = Nil
  private var currentUser: Option[Rls.UserContext] = None

  /** Enable RLS: every subsequent read is filtered by ALL policies'
    * `using_expr` (resolved against the caller's user context).
    */
  def enableRls(usingExprs: Seq[String]): Unit = { rlsPolicies = usingExprs }
  def disableRls(): Unit = { rlsPolicies = Nil }

  /** Set the caller identity for subsequent reads. With RLS enabled and
    * no identity set, reads fail — enforced, not advisory.
    */
  def setUser(ctx: Rls.UserContext): Unit = { currentUser = Some(ctx) }

  // ---- operation-level security (reference OperatePrivilege; see
  // [[Rbac]]). RLS scopes WHICH ROWS a principal sees; RBAC gates
  // WHICH OPERATIONS it may invoke at all.
  @volatile private var rbacCtx: Option[(Rbac.Registry, String, String)] = None

  /** Enforce RBAC on this collection: every facade operation checks the
    * caller's privilege (identity from [[setUser]]) in `registry`
    * against `collectionName` before building a plan.
    */
  /** `db` is the database scope checks present to the registry — rbac
    * v2 grants match on it (v1 grants are db-agnostic).
    */
  def enableRbac(registry: Rbac.Registry, collectionName: String,
      db: String = "default"): Unit =
    rbacCtx = Some((registry, collectionName, db))
  def disableRbac(): Unit = rbacCtx = None

  private def requirePriv(privilege: String): Unit = {
    // database force-deny quota states (reference rootcoord
    // quota_center: database.force.deny.writing/reading reject the
    // operation with a quota error before any work happens). Reads and
    // deletes reach it through the read gate [[readScope]], row-stamping
    // writes through the write gate [[writeScope]]; DDL, import and
    // feed-apply verbs call it directly. The home-db lookup is a
    // driver-side scan over the registry, negligible next to any job.
    if (Collection.WritePrivileges.contains(privilege))
      Collection.requireDbAllows(this, "database.force.deny.writing", "write")
    else if (Collection.ReadPrivileges.contains(privilege))
      Collection.requireDbAllows(this, "database.force.deny.reading", "read")
    rbacCtx.foreach {
      case (reg, cname, db) =>
        val user = currentUser.map(_.userName).getOrElse(throw new IllegalStateException(
          "RBAC is enabled but no user context is set — call setUser first"))
        if (!reg.allowed(user, privilege, db, cname))
          throw new SecurityException(
            s"user '$user' lacks privilege $privilege on collection '$db.$cname'")
    }
  }

  private def rlsFilter(df: DataFrame): DataFrame =
    if (rlsPolicies.isEmpty) df
    else {
      val ctx = currentUser.getOrElse(throw new IllegalStateException(
        "RLS is enabled but no user context is set — call setUser first"))
      rlsPolicies.foldLeft(df) { (d, p) =>
        // placeholders become template params compiled to lit() Columns —
        // context values are never re-lexed as expression text, so no
        // value (quotes, backslash escapes) can alter the policy's shape
        val (expr, params) = Rls.resolve(p, ctx)
        d.filter(compiled(expr, params))
      }
    }

  /** MVCC read view at the consistency level's resolved ts, upsert
    * semantics applied (latest version per pk, tombstones, TTL), RLS
    * policies applied last (they compile to ordinary predicates and ride
    * the same pushdown as user filters).
    */
  // ---- collection properties (reference AlterCollection with
  // properties — test_milvus_client_alter.py: collection.ttl.seconds,
  // mmap.enabled, …). Arbitrary key-value metadata; `collection.ttl`
  // is WIRED: when set, every read without an explicit ttl applies it
  // as the ts-domain expiry offset (ticks for created collections,
  // nanos for opened epoch-ns tables — the session's ts domain).
  @volatile private var collectionProperties: Map[String, String] = Map.empty

  def alterCollection(props: Map[String, String]): Unit = mutate {
    requirePriv("AlterCollection")
    props.get("collection.ttl").foreach { v =>
      require(scala.util.Try(v.toLong).isSuccess,
        s"collection.ttl must be a ts-domain integer offset, got '$v'")
    }
    // collection-level warmup keys (reference: WarmupKey,
    // Warmup{Scalar,Vector}{Field,Index}Key) carry the same policy values
    props.foreach { case (k, v) =>
      if (k == "warmup" || k.startsWith("warmup."))
        Collection.requireWarmup(v, k)
      if (k == "timezone") Collection.requireTimezone(v)
      // ValidateQueryMode (common.go:577-591): only "large_topk" is a
      // valid value, and a case-variant KEY is an error rather than a
      // silently ignored property
      if (k == Collection.QueryModeKey)
        require(v == Collection.QueryModeLargeTopK,
          s"""invalid query_mode value "$v", valid values: [${Collection.QueryModeLargeTopK}]""")
      else if (k.equalsIgnoreCase(Collection.QueryModeKey))
        throw new IllegalArgumentException(
          s"""invalid property key "$k", did you mean "${Collection.QueryModeKey}"?""")
      // ValidateNamespaceMode (common.go:710-723): only the two modes
      // are valid, and a case-variant KEY is an error
      if (k == Collection.NamespaceModeKey)
        require(v == Collection.NamespaceModePartitionKey ||
            v == Collection.NamespaceModePartition,
          s"""invalid namespace.mode value "$v", valid values: """ +
            s"[${Collection.NamespaceModePartitionKey}, ${Collection.NamespaceModePartition}]")
      else if (k.equalsIgnoreCase(Collection.NamespaceModeKey))
        throw new IllegalArgumentException(
          s"""invalid property key "$k", did you mean "${Collection.NamespaceModeKey}"?""")
    }
    collectionProperties ++= props
  }

  def dropCollectionProperties(keys: Seq[String]): Unit = mutate {
    requirePriv("AlterCollection")
    collectionProperties --= keys
  }

  def describeCollectionProperties: Map[String, String] = {
    requirePriv("GetStatistics")
    collectionProperties
  }

  /** The collection-level TTL property as a read-path ttl column. */
  private def propertyTtl: Option[Column] =
    collectionProperties.get("collection.ttl").map(v => lit(v.toLong))

  // ---- request-limit validation (reference proxy/util.go:182-218
  // validateLimit / validateNQLimit / validateMaxQueryResultWindow;
  // quota defaults quota_param.go:1445-1494). A collection with the
  // query_mode=large_topk property trades the 16384 caps for the
  // large-mode ones (task_search.go:193).

  private def largeTopKEnabled: Boolean =
    collectionProperties.get(Collection.QueryModeKey)
      .contains(Collection.QueryModeLargeTopK)

  /** topk / offset / batch cap ∈ [1, topKLimit]. `what` names the
    * offending parameter in the error, as the proxy's wrapper does.
    */
  private def validateTopK(limit: Long, what: String): Unit = {
    val cap =
      if (largeTopKEnabled) Collection.LargeTopKLimit else Collection.TopKLimit
    require(limit >= 1 && limit <= cap,
      s"$what [$limit] is invalid, it should be in range [1, $cap], but got $limit")
  }

  private def validateNq(nq: Long): Unit =
    require(nq >= 1 && nq <= Collection.NQLimit,
      "nq (number of search vector per search request) should be in range " +
        s"[1, ${Collection.NQLimit}], but got $nq")

  /** Query pagination depth: offset ≥ 0, limit > 0, offset+limit within
    * the result window.
    */
  private def validateResultWindow(offset: Long, limit: Long): Unit = {
    require(offset >= 0, s"offset [$offset] is invalid, should be gte than 0")
    require(limit > 0, s"limit [$limit] is invalid, should be greater than 0")
    val window =
      if (largeTopKEnabled) Collection.LargeMaxQueryResultWindow
      else Collection.MaxQueryResultWindow
    val depth = offset + limit
    require(depth >= 1 && depth <= window,
      s"(offset+limit) should be in range [1, $window], but got $depth")
  }

  /** nq without a Spark job when the query vectors are driver-local
    * (the common case — the reference receives them in the RPC body).
    * The distributed fallback only needs "≤ NQLimit or not", so the
    * scan is capped at NQLimit+1 rows instead of counting an arbitrary
    * upstream plan in full; a capped result of NQLimit+1 means "over".
    */
  private def nqOf(queries: DataFrame): Long =
    queries.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.length.toLong
      case _ => queries.limit(Collection.NQLimit.toInt + 1).count()
    }

  def readView(
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      staleness: Long = 0L,
      sessionTs: Long = 0L,
      ttl: Option[Column] = None,
      partitionNames: Seq[String] = Nil,
      ignoreGrowing: Boolean = false,
      pkDomain: Option[graft.operators.PkPruning.Domain] = None): DataFrame =
    rlsFilter(readViewUnscoped(level, staleness, sessionTs,
      ttl.orElse(propertyTtl),
      partitionPredicate(partitionNames), ignoreGrowing, pkDomain))

  /** Export the current visible rows as v1 binlog segments (the
    * migration-out path; reference `internal/storage/binlog_writer.go`
    * format via [[graft.sources.Binlog.writeSegment]]): rows hash-split
    * on pk into `segments` bounded segment directories, one insert-log
    * file per field plus the delta already folded in (the view is
    * tombstone-free by construction).
    */
  def exportBinlog(dir: String, segments: Int = 4): Unit = {
    readScope("Query", None) // gate only: the view below is the storage one
    // migration-out reads storage, not the query path: a partial load
    // in effect must NOT drop unloaded partitions from the backup (a
    // round-trip import would silently lose them) — so skip the
    // loaded-partitions scope that readView() carries
    val view = rlsFilter(readViewUnscoped(ttl = propertyTtl))
    val n = math.max(segments, 1)
    (0 until n).foreach { i =>
      graft.sources.Binlog.writeSegment(
        view.filter(pmod(hash(col(schema.pkField)), lit(n)) === i),
        s"$dir/seg-$i", collectionId = 1L, partitionId = 1L,
        segmentId = i.toLong, orderCol = schema.pkField)
    }
  }

  /** Import v1 binlog segments written by [[exportBinlog]] (or the
    * fixture writer) as one insert batch — the
    * `importutilv2/binlog` migration-in path.
    */
  /** Returns the import TASK id (poll with [[getImportProgress]]),
    * matching [[bulkImport]]'s contract.
    */
  def importBinlog(dir: String): Long = {
    writeScope("Import", None) // no namespace argument: refused on a tenant collection
    insertImpl(graft.sources.Binlog.readSegments(spark, dir))
    recordImport("binlog", Seq(dir))
  }

  /** Bulk import through the facade (reference impl.go ImportV: one
    * job per file set, any supported format — parquet/json/csv/npy/
    * binlog readers in [[graft.sources.BulkImport]]); rows ride the
    * normal insert path (ingest functions, seal policy, MVCC ts) and
    * the task lands in the import registry for progress polling.
    */
  def bulkImport(format: String, path: String): Long = {
    writeScope("Import", None) // no namespace argument: refused on a tenant collection
    insertImpl(graft.sources.BulkImport.read(spark, format, path))
    recordImport(format, Seq(path))
  }

  // ---- import-task introspection (reference impl.go ListImports /
  // GetImportProgress / GetImportState: datacoord's import-task
  // registry). Imports here run synchronously inside the insert, so a
  // recorded task is always Completed at 100% — the polling contract
  // holds with a zero-width ImportStarted window, same device as
  // manualCompaction's.
  final case class ImportTask(id: Long, format: String, files: Seq[String],
      state: String, progress: Int, reason: String = "")
  @volatile private var importTasks: Map[Long, ImportTask] = Map.empty
  // staged (Uncommitted) 2PC batches: read but NOT visible until commit
  @volatile private var stagedImports: Map[Long, DataFrame] = Map.empty

  private[graft] def recordImport(format: String, files: Seq[String]): Long =
    stateLock.synchronized {
      val id = nextTs()
      importTasks += id -> ImportTask(id, format, files, "Completed", 100)
      id
    }

  // ---- 2PC imports (reference datacoord/services.go:2981-3040: an
  // import job lands UNCOMMITTED — read and staged, invisible to every
  // query — until CommitImport broadcasts the commit fence; AbortImport
  // rolls an uncommitted job back. This engine's single "vchannel" acks
  // the fence synchronously, so Committing collapses into Completed —
  // the zero-width-window device the registry already uses.)

  /** Stage a 2PC import: the files are read and pinned now (a commit
    * must land exactly the bytes that were staged, not a later state of
    * the path) but stay invisible until [[commitImport]].
    */
  def bulkImportUncommitted(format: String, path: String): Long = {
    writeScope("Import", None) // no namespace argument: refused on a tenant collection
    val batch = graft.sources.BulkImport.read(spark, format, path)
      .localCheckpoint(true)
    stateLock.synchronized {
      val id = nextTs()
      importTasks += id -> ImportTask(id, format, Seq(path), "Uncommitted", 0)
      stagedImports += id -> batch
      id
    }
  }

  /** CommitImport (services.go:2984-3002): Uncommitted → the staged
    * batch lands as one insert and the job completes. Idempotent on an
    * already-committed job; any other state is the named import error.
    *
    * Lock scope, deliberate: the insert below runs a Spark job while
    * `stateLock` is held — the commit fence must be atomic with the
    * registry flip (a reader observing "Completed" must already see the
    * rows; a concurrent second commit must idempotent-no-op, not
    * double-insert). Single-app this serializes other facade writes for
    * the insert's duration, which is the same tradeoff every
    * synchronized write path here takes; the staged batch is already
    * localCheckpoint-pinned, so the job is one bounded union append.
    */
  def commitImport(id: Long): Unit = stateLock.synchronized {
    writeScope("Import", None) // the commit fence is a write verb like the staging one
    val t = getImportProgress(id)
    t.state match {
      case "Committing" | "Completed" => () // idempotent success
      case "Uncommitted" =>
        insertImpl(stagedImports(id))
        stagedImports -= id
        importTasks += id -> t.copy(state = "Completed", progress = 100)
      case other => throw new IllegalStateException(
        s"job $id is in state $other, expected Uncommitted")
    }
  }

  /** AbortImport (services.go:3004-3042): rolls back a job that has
    * not been committed. Idempotent on a previously user-aborted job;
    * Committing/Completed are terminal and rejected.
    */
  def abortImport(id: Long): Unit = stateLock.synchronized {
    requirePriv("Import") // rolling back a staged batch is a write verb too
    val t = getImportProgress(id)
    t.state match {
      case "Failed" if t.reason == Collection.ImportAbortedByUser => ()
      case "Committing" | "Completed" => throw new IllegalStateException(
        s"job $id is in terminal/committed state ${t.state}, abort not allowed")
      case _ =>
        stagedImports -= id
        importTasks += id -> t.copy(state = "Failed",
          reason = Collection.ImportAbortedByUser)
    }
  }

  /** ListImports: recorded bulk-import tasks, newest first. */
  def listImports: Seq[ImportTask] =
    importTasks.values.toSeq.sortBy(-_.id)

  /** GetImportProgress: state + percent for one task; unknown ids
    * error (the reference's failed status for unknown job ids).
    */
  def getImportProgress(id: Long): ImportTask =
    importTasks.getOrElse(id, throw new NoSuchElementException(
      s"no import task with id $id"))

  // ---- field DDL state (reference 20260413-drop-collection-field-
  // design.md + 20230405-default_value.md): a dropped field maps to its
  // drop ts; a (re-)added field maps to (addTs, default) and serves the
  // default for every row older than the DDL — the field-ID-monotonicity
  // analogue that keeps dropped data from resurfacing under a recycled
  // name. Both are driver-side metadata; enforcement is a projection.
  @volatile private var droppedFields: Map[String, Long] = Map.empty
  @volatile private var maskedFields: Map[String, (Long, Any)] = Map.empty

  /** Drop a collection field (AlterCollectionSchema drop path): the
    * field becomes invisible to every read immediately — schema-driven
    * filtering, no segment rewrite (the lazy-cleanup contract) — inserts
    * carrying it are rejected, and indexes on it are cascade-dropped
    * (the ack-callback cleanup). The PK, the MVCC ts field, the
    * partition tag, and the last vector field refuse to drop (the
    * proxy-side validations).
    */
  def dropField(field: String): Long = mutate {
    requirePriv("AlterCollection")
    require(field != schema.pkField, s"cannot drop the primary key field '$field'")
    require(field != schema.tsField, s"cannot drop the MVCC ts field '$field'")
    require(field != Collection.PartitionCol, "cannot drop the partition tag")
    // the field must exist in the EFFECTIVE schema (physical columns ∪
    // schema-declared fields, minus already-dropped, plus re-added) —
    // dropping a nonexistent field is an error, as in the reference's
    // validateDropField. Declared fields count even before any batch
    // carries them (an empty collection's schema is still droppable).
    val physical =
      sealedDf.map(_.columns.toSet).getOrElse(Set.empty[String]) ++
        growing.map(_.columns.toSet).getOrElse(Set.empty[String])
    val declared = schema.vectorFields.keySet ++ schema.fieldDefaults.keySet ++
      schema.nonNullable ++ ingestFunctions.map(_.outputField) ++
      textFieldSpecs.keySet // a declared TEXT field is droppable pre-insert too
    val effective =
      ((physical ++ declared) -- droppedFields.keySet) ++ maskedFields.keySet
    require(effective.contains(field), s"field '$field' not found")
    // last-vector-field check against the vector fields still LIVE —
    // with two vector fields, dropping both sequentially must fail on
    // the second, not leave the collection vector-less
    val liveVector = schema.vectorFields.keySet -- droppedFields.keySet
    require(!(liveVector.contains(field) && liveVector.size == 1),
      s"cannot drop the last vector field '$field'")
    val ts = nextTs()
    indexes.get(field).foreach { st => releaseIndexState(st); indexes -= field }
    droppedFields += field -> ts
    maskedFields -= field
    structFieldSchemas -= field // struct schema dies with the field
    colPatches -= field // pending patches die with the field
    // a dropped function-output field must stop computing AND stop
    // backfilling — otherwise applyFunctionBackfill (outermost in the
    // read view) would resurrect the dropped column with fresh values
    ingestFunctions = ingestFunctions.filterNot(_.outputField == field)
    backfillFunctions = backfillFunctions.filterNot(_.outputField == field)
    functionsEverChanged = true
    append(ts)
    ts
  }

  /** AddCollectionField on the live facade (20230405-default_value.md;
    * re-add-capable per the drop-field design): the field serves
    * `default` for every row older than this DDL — both the plain
    * add-field default fill and the no-resurrection guarantee after
    * [[dropField]] of the same name.
    */
  def addCollectionField(field: String, default: Any): Long = mutate {
    requirePriv("AlterCollection")
    require(field != schema.pkField && field != schema.tsField &&
      field != Collection.PartitionCol, s"cannot redefine system field '$field'")
    val ts = nextTs()
    droppedFields -= field
    maskedFields += field -> ((ts, default))
    append(ts)
    ts
  }

  // ---- struct-array field DDL (reference impl.go
  // AddCollectionStructField; test_milvus_client_struct_array_nullable
  // §add_collection_struct_field): add a NULLABLE array-of-struct
  // field post-create, its element schema (sub-field names, types,
  // max_length/dim params, max_capacity) validated at DDL time and
  // served by describe. Rows older than the DDL serve null (the
  // addCollectionField evolution semantics); newer inserts carry the
  // struct array and feed element-level search/filter.
  @volatile private var structFieldSchemas
      : Map[String, (Seq[Collection.StructSubField], Int)] = Map.empty

  def addCollectionStructField(field: String,
      subFields: Seq[Collection.StructSubField], maxCapacity: Int): Long = {
    require(maxCapacity > 0, s"max_capacity must be positive, got $maxCapacity")
    require(subFields.nonEmpty, "a struct field needs at least one sub-field")
    require(subFields.map(_.name).distinct.size == subFields.size,
      "sub-field names must be unique")
    subFields.foreach { sf =>
      require(sf.name.nonEmpty, "sub-field name must be non-empty")
      require(Collection.StructSubFieldTypes.contains(sf.dataType),
        s"unsupported sub-field type '${sf.dataType}' for '${sf.name}'")
      def positiveParam(key: String): Unit = {
        val v = sf.params.getOrElse(key, throw new IllegalArgumentException(
          s"sub-field '${sf.name}' (${sf.dataType}) requires param '$key'"))
        require(scala.util.Try(v.toInt).toOption.exists(_ > 0),
          s"param '$key' of sub-field '${sf.name}' must be a positive int, got '$v'")
      }
      if (sf.dataType == "VarChar") positiveParam("max_length")
      if (sf.dataType == "FloatVector") positiveParam("dim")
    }
    stateLock.synchronized {
      require(!structFieldSchemas.contains(field) ||
        droppedFields.contains(field),
        s"struct field '$field' already exists")
      val ts = addCollectionField(field, null) // null-fill for older rows
      structFieldSchemas += field -> ((subFields, maxCapacity))
      ts
    }
  }

  /** The describe_collection view of a struct field: nullable
    * Array(Struct) with max_capacity and the sub-field schema.
    */
  def describeStructField(field: String)
      : (Boolean, Seq[Collection.StructSubField], Int) = {
    val (subs, cap) = structFieldSchemas.getOrElse(field,
      throw new NoSuchElementException(s"no struct field '$field'"))
    (true, subs, cap) // always nullable, per the reference
  }

  // ---- collection-attached ingest functions (reference: FunctionSchema
  // list in the collection schema, function.go dispatch; RPCs
  // AddCollectionFunction / DropCollectionFunction impl.go). Every
  // insert/upsert/import batch runs them before landing, so derived
  // fields (BM25 tf, minhash signatures, embeddings) exist on every row
  // without the caller computing them.
  @volatile private var ingestFunctions
      : Seq[graft.functions.IngestFunctions.FunctionSchema] = Nil
  @volatile private var functionsEverChanged: Boolean = false

  /** AddCollectionFunction: future batches compute `fn.outputField`
    * from `fn.inputField`. Rows inserted BEFORE the add serve null for
    * the output (the addCollectionField-without-default evolution
    * semantics); no backfill rewrite.
    */
  def addFunction(fn: graft.functions.IngestFunctions.FunctionSchema,
      backfill: Boolean = false): Unit =
    mutate {
      requirePriv("AlterCollection")
      require(!ingestFunctions.exists(_.outputField == fn.outputField),
        s"a function already produces '${fn.outputField}'")
      require(fn.outputField != schema.pkField && fn.outputField != schema.tsField &&
        fn.outputField != Collection.PartitionCol,
        s"function output cannot be the system field '${fn.outputField}'")
      // BM25 function-schema validation (the reference rejects these at
      // CreateCollection — test_milvus_client_text_lob.py:2088-2171):
      // a declared TEXT input must enable its analyzer; the output must
      // be a sparse term map, so a declared DENSE vector field cannot
      // carry it; and on a collection that already has rows, the input
      // column must exist ("not found").
      val wired = fn match {
        case b @ graft.functions.IngestFunctions.Bm25Function(in, out, params) =>
          textFieldSpecs.get(in).foreach { spec =>
            require(spec.enableAnalyzer,
              s"BM25 function input field '$in' does not enable analyzer")
          }
          require(!schema.vectorFields.contains(out),
            s"BM25 function output field '$out' must be SPARSE_FLOAT_VECTOR, " +
              "not a dense vector field")
          if (sealedDf.isDefined || growing.isDefined) {
            val known = raw.columns.toSet ++ textFieldSpecs.keySet ++
              maskedFields.keySet
            require(known.contains(in),
              s"BM25 function input field '$in' not found")
          }
          // auto-wire the input field's DECLARED analyzer (the reference
          // runs the BM25 function through the field's analyzer_params)
          if (params.isEmpty)
            textFieldSpecs.get(in)
              .filter(s => s.enableAnalyzer && s.analyzerParams.nonEmpty)
              .map(s => b.copy(analyzerParams = s.analyzerParams))
              .getOrElse(b)
          else b
        case other => other
      }
      ingestFunctions :+= wired
      // rows inserted BEFORE the add lack the output column — later
      // batches must union with null fill (the evolution contract).
      // With backfill=true (20260715-online-schema-evolution.md: add
      // function field runs a historical backfill before publication),
      // historical rows serve the COMPUTED output instead: the backfill
      // is a lazy coalesce expression on the read view — no segment
      // rewrite, and the next flush/compaction materializes it.
      // the WIRED schema backfills too — historical rows must tokenize
      // with the same analyzer as new inserts, or the one corpus would
      // carry two incompatible term vocabularies
      if (backfill) backfillFunctions :+= wired
      functionsEverChanged = true
    }

  @volatile private var backfillFunctions
      : Seq[graft.functions.IngestFunctions.FunctionSchema] = Nil

  private[graft] def applyFunctionBackfill(df: DataFrame): DataFrame =
    backfillFunctions.foldLeft(df) { (d, fn) =>
      val out = graft.functions.IngestFunctions.outputColumn(fn)
      if (d.columns.contains(fn.outputField))
        d.withColumn(fn.outputField, coalesce(col(fn.outputField), out))
      else d.withColumn(fn.outputField, out)
    }

  /** DropCollectionFunction (by output field): stops computing; rows
    * already carrying the output keep it.
    */
  def dropFunction(outputField: String): Unit = mutate {
    requirePriv("AlterCollection")
    require(ingestFunctions.exists(_.outputField == outputField),
      s"no collection function produces '$outputField'")
    ingestFunctions = ingestFunctions.filterNot(_.outputField == outputField)
    backfillFunctions = backfillFunctions.filterNot(_.outputField == outputField)
    functionsEverChanged = true // later batches lack the output column
  }

  def listFunctions: Seq[graft.functions.IngestFunctions.FunctionSchema] =
    ingestFunctions

  /** AlterCollectionFunction (reference impl.go): replace the function
    * producing `outputField` in place — later batches compute with the
    * new definition, rows already carrying the output keep their old
    * values (no backfill rewrite, the add/drop evolution semantics).
    * The replacement must produce the SAME output field — renaming is a
    * drop + add.
    */
  def alterFunction(fn: graft.functions.IngestFunctions.FunctionSchema): Unit =
    stateLock.synchronized {
      requirePriv("AlterCollection")
      require(ingestFunctions.exists(_.outputField == fn.outputField),
        s"no collection function produces '${fn.outputField}'")
      ingestFunctions = ingestFunctions.map(f =>
        if (f.outputField == fn.outputField) fn else f)
    }

  // ---- mutable columns (reference: 20260709-mutable-columns.md — a
  // partial update is a PATCH on the pk, generalizing the delete path:
  // tiny (pk, ts, value) rows down the delete-shaped write path, applied
  // merge-on-read, folded at compaction; the row — vectors included — is
  // never rewritten and no index is invalidated). Spark shape: one small
  // patch-log DataFrame per field; the read overlay is a pk join against
  // the latest visible patch (broadcast when small), so only (pk, value)
  // pairs ever move — never the corpus.
  @volatile private var colPatches: Map[String, DataFrame] = Map.empty

  /** In-place partial update of one scalar field: `updates` = (pk,
    * newValue) rows. LWW among patches and vs full-row versions: at read
    * ts, the value is the latest visible patch IF its ts exceeds the
    * surviving row version's ts (a later upsert supersedes older
    * patches, exactly the design's ts-based MVCC). Vector fields refuse
    * (the design's scope is scalars — vectors have indexes to keep
    * valid); pk / MVCC ts / partition tag are immutable.
    */
  def setField(field: String, updates: DataFrame): Long = mutate {
    writeScope("Upsert", None) // no namespace argument: refused on a tenant collection
    require(field != schema.pkField && field != schema.tsField &&
      field != Collection.PartitionCol, s"cannot patch system field '$field'")
    require(!schema.vectorFields.contains(field),
      s"mutable-column updates cover scalar fields, not vector field '$field'")
    require(!droppedFields.contains(field), s"field '$field' is dropped")
    // the field must EXIST (physical or DDL-added) — a typo'd patch
    // would otherwise be acknowledged, logged, and replicated but never
    // applied (applyColumnPatches skips absent columns)
    val patchable =
      sealedDf.map(_.columns.toSet).getOrElse(Set.empty[String]) ++
        growing.map(_.columns.toSet).getOrElse(Set.empty[String]) ++
        maskedFields.keySet ++ schema.fieldDefaults.keySet ++ schema.nonNullable
    require(patchable.contains(field), s"field '$field' not found")
    require(updates.columns.toSet == Set(schema.pkField, field),
      s"setField updates need exactly (${schema.pkField}, $field), " +
        s"got ${updates.columns.mkString(", ")}")
    val ts = nextTs()
    val patch = updates
      .select(col(schema.pkField), col(field).as(s"_patch_$field"))
      .withColumn("_patch_ts", lit(ts))
      .localCheckpoint(true) // pin: the caller's lineage may mutate later
    append(ts, patches = Map(field -> patch))
    ts
  }

  /** Merge-on-read overlay: for each patched field, the latest patch
    * with _patch_ts ≤ readTs overrides the column WHEN it is newer than
    * the surviving row version. One small-side pk join per patched
    * field; map-only otherwise.
    */
  private def applyColumnPatches(df: DataFrame, readTs: Column): DataFrame =
    applyColumnPatches(df, readTs, colPatches)

  private def applyColumnPatches(df: DataFrame, readTs: Column,
      snapshot: Map[String, DataFrame]): DataFrame = {
    snapshot.foldLeft(df) { case (d, (field, patchLog)) =>
      if (!d.columns.contains(field)) d
      else {
        val latest = patchLog
          .filter(col("_patch_ts") <= readTs)
          .groupBy(col(schema.pkField))
          .agg(max_by(struct(col("_patch_ts"), col(s"_patch_$field")),
            col("_patch_ts")).as("_p"))
          .select(col(schema.pkField), col("_p._patch_ts").as("_patch_ts"),
            col(s"_p._patch_$field").as("_patch_val"))
        d.join(latest, Seq(schema.pkField), "left")
          .withColumn(field,
            when(col("_patch_ts").isNotNull &&
              col("_patch_ts") > col(schema.tsField), col("_patch_val"))
              .otherwise(col(field)))
          .drop("_patch_ts", "_patch_val")
      }
    }
  }

  /** Read-side enforcement of the field DDLs: dropped columns are
    * projected out; (re-)added columns serve the default for rows older
    * than the DDL ts. A projection mask — no shuffle, no rewrite, and
    * column pruning still drops the underlying data for queries that
    * never touch the field.
    */
  private def applyFieldDdl(df: DataFrame): DataFrame = {
    // snapshot both maps atomically: a reader racing dropField could
    // otherwise see the field in droppedFields AND (stale) maskedFields
    // and plan it as default-masked instead of absent
    val (dropped, masked) =
      stateLock.synchronized((droppedFields, maskedFields))
    val afterDrop = dropped.keysIterator.foldLeft(df)((d, f) =>
      if (d.columns.contains(f)) d.drop(f) else d)
    masked.foldLeft(afterDrop) { case (d, (f, (addTs, dflt))) =>
      if (!d.columns.contains(f)) d.withColumn(f, lit(dflt))
      else d.withColumn(f,
        when(col(schema.tsField) >= lit(addTs), col(f)).otherwise(lit(dflt)))
    }
  }

  /** The view BEFORE row-level security — for shared physical artifacts
    * (index builds), which must not bake one caller's policy scope in;
    * RLS re-applies per query on top.
    */
  private def readViewUnscoped(
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      staleness: Long = 0L,
      sessionTs: Long = 0L,
      ttl: Option[Column] = None,
      preFilter: Option[Column] = None,
      ignoreGrowing: Boolean = false,
      pkDomain: Option[graft.operators.PkPruning.Domain] = None): DataFrame = {
    // the memo key names every argument plus the collection's
    // generation; every other state input is covered by [[mutate]],
    // which drops the memo and bumps the generation. The generation and
    // the write ts are read together, so a key always names the read ts
    // its plan was built at. The build runs OUTSIDE stateLock — same
    // read/write interleaving as the uncached path — and is memoized
    // only when no mutation intervened, so a torn in-flight build can
    // never poison the memo for later readers.
    val (gen, writeTs) = stateLock.synchronized((generation, lastWriteTs))
    // a NONDETERMINISTIC ttl/preFilter (rand()-based sampling, uuid(),
    // a current_timestamp() cut-off) must never be memoized: reusing its
    // plan would freeze one draw's results as "the" view. The engine
    // only passes deterministic scopes here (partition equality, ttl
    // arithmetic), so the guard is belt-and-suspenders; it matches on
    // the rendered expression (the Spark 4 Column API does not expose
    // the expression tree publicly).
    val cacheable = !(ttl.toSeq ++ preFilter.toSeq).exists { c =>
      val s = c.toString
      Collection.nondetFnPattern.matcher(s).find()
    }
    val readTs = Mvcc.resolveReadTs(level, writeTs, writeTs, staleness, sessionTs)
    val tsBound = if (readTs < writeTs) Some(readTs) else None
    if (!cacheable) {
      val segs = sealedSegments
      return buildReadViewUnscoped(readTs, ttl, preFilter, ignoreGrowing,
        readState(segs, keptSealed(segs, pkDomain, tsBound), None))
    }
    def keyOf(sealedSlot: String): String =
      Seq(level.id, staleness, sessionTs, gen,
        ttl.map(_.toString).getOrElse("-"),
        scopeKey(preFilter), ignoreGrowing, sealedSlot).mkString("|")
    // resident-view rule: a pinned unpruned view of the same scope serves
    // a pk-anchored read — every caller applies its pk predicate on top,
    // and (pruned view ∩ pk predicate) = (full view ∩ pk predicate)
    val resident =
      if (pkDomain.isEmpty) None
      else stateLock.synchronized(viewCache.get(keyOf("-"), pinnedOnly = true))
    resident.getOrElse {
      // a pinned collapse serves a pk-anchored read whole (the pk
      // predicate filters it in memory); while unpinned, the read prunes
      // segments instead
      val segs = sealedSegments
      val collapsePinned = stateLock.synchronized(collapseTs <= readTs &&
        collapse.exists(c =>
          c.pinned && scopeKey(c.scope) == scopeKey(preFilter)))
      val kept =
        if (collapsePinned) None else keptSealed(segs, pkDomain, tsBound)
      // an unpruned read at or above the watermark reads the collapse,
      // whether it builds its view now or the memo serves one built on it
      val state = readState(segs, kept, readCollapse(preFilter, readTs))
      val key = keyOf(state.kept.fold("-")(_.sorted.mkString("[", ",", "]")))
      stateLock.synchronized(viewCache.get(key)).getOrElse {
        val df = buildReadViewUnscoped(readTs, ttl, preFilter, ignoreGrowing,
          state)
        stateLock.synchronized(if (generation == gen) viewCache.put(key, df))
        df
      }
    }
  }

  /** The state one read view is built from.
    *
    * @param kept the sealed segments a pk/ts-pruned read scans (None:
    *   all of them)
    * @param collapse the resident collapse R of the read's scope, at a
    *   watermark ≤ the read ts: the view merges only the growing tail
    *   and the tombstones on top of it. None: the read collapses the
    *   sealed segments itself.
    */
  private final case class ReadState(
      sealedSrc: Option[DataFrame],
      horizon: Long,
      kept: Option[Seq[String]],
      collapse: Option[DataFrame],
      growing: Option[DataFrame],
      tombs: Option[DataFrame])

  /** One [[ReadState]] taken under one stateLock hold. A flush publishes
    * the new sealed state (and the next collapse) and clears the growing
    * tail under the same lock, so a read sees the flushed rows in exactly
    * one of the two. `kept` was decided on `segs` outside the lock; a
    * reseal since then voids it, and the read takes the whole new state.
    * `r` (evaluated only for an unpruned read) is the scope's R.
    */
  private def readState(segs: Vector[String], kept: Option[Seq[String]],
      r: => Option[DataFrame]): ReadState = stateLock.synchronized {
    val k = kept.filter(_ => sealedSegments eq segs)
    ReadState(sealedDf, truncateHorizon, k,
      if (k.isEmpty) r else None, growing, tombs)
  }

  private def buildReadViewUnscoped(
      readTs: Long,
      ttl: Option[Column],
      preFilter: Option[Column],
      ignoreGrowing: Boolean,
      state: ReadState): DataFrame = {
    def visible(df: DataFrame) = Mvcc.visible(df, schema.pkField,
      schema.tsField, lit(readTs), tombstones = state.tombs, ttl = ttl)
    def latest(df: DataFrame) =
      Mvcc.latestByPk(df, schema.pkField, schema.tsField, schema.pkField)
    // ignore_growing (reference search/query param): serve SEALED
    // segments only — the un-flushed tail is skipped entirely, trading
    // freshness for not touching the in-memory segment. Partition scope
    // lands UNDER the MVCC aggregate so it reaches the scan
    // (PartitionFilters on a flushed hive layout); rows missing the tag
    // (pre-partition sealed data) are never scope-visible.
    val tail = state.growing.filter(_ => !ignoreGrowing)
      .map(g => preFilter.map(g.filter).getOrElse(g))
    // patches overlay the SURVIVING row version (after LWW). Field DDL
    // runs FIRST so a patch on a DDL-added (masked) field lands on the
    // materialized column — otherwise the default mask would clobber it
    // for pre-addTs rows (and skip it entirely before any post-DDL batch
    // carries the column). Drop still wins: dropField clears the
    // field's patch log, so ordering cannot resurrect dropped patches.
    val collapsed = (state.collapse, tail) match {
      // R holds each sealed pk's latest version at its watermark, and
      // that version is visible at readTs iff the pk's sealed history
      // is (a tombstone or TTL cut that hides it hides every older
      // version too). So pks the tail never wrote are R's rows through
      // the visibility cut; the rest re-collapse with their tail
      // versions — a merge over the tail's size, not the corpus's.
      case (Some(r), Some(g)) =>
        val pks = g.select(col(schema.pkField))
        visible(r.join(pks, Seq(schema.pkField), "left_anti")).unionByName(
          latest(visible(r.join(pks, Seq(schema.pkField), "left_semi")
            .unionByName(g, allowMissingColumns = true))),
          allowMissingColumns = true)
      case (Some(r), None) => visible(r)
      case (None, _) =>
        // a pk-anchored filter prunes the sealed FILE list before any
        // scan (MEP 20260324), and a time-travel read additionally skips
        // segments sealed entirely after the read ts (MEP 20260602 ts
        // range); the growing tail always rides along — it has no file
        // stats and is small by the seal policy
        val sealedSrc = state.sealedSrc
          .map(s => state.kept.fold(s)(prunedSealed(s, _, state.horizon)))
          .map(s => preFilter.map(s.filter).getOrElse(s))
        latest(visible((sealedSrc, tail) match {
          case (Some(s), Some(g)) => s.unionByName(g, allowMissingColumns = true)
          case (Some(s), None)    => s
          case (None, Some(g))    => g
          case (None, None) if ignoreGrowing =>
            state.growing.map(_.filter(lit(false))).getOrElse(raw)
          case (None, None)       => raw // throws the empty-collection error
        }))
    }
    // TEXT-LOB resolve: re-attach externalized payloads so every
    // downstream consumer — filter compile (text_match/phrase over the
    // column), BM25/function backfill, projections, iterators — sees
    // the field as if inline. Runs AFTER the MVCC collapse (only
    // surviving row versions join payloads; the collapse shuffles refs,
    // never payload bytes) and BEFORE function backfill (a backfilled
    // BM25 output must read the full text). One digest-keyed left join
    // per TEXT field; inline rows carry a null ref and fall through.
    // A field excluded by partial load skips the join — its ref column
    // leaves with the projection below.
    // DDL-added TEXT fields: rows older than the add (and an absent
    // column entirely) serve null; a re-add after dropField must not
    // resurrect the old column's values — the ts mask covers both
    // (the typed analogue of applyFieldDdl's default mask)
    val ddlMasked = Collection.maskTextAdds(collapsed, schema.tsField,
      dynamicTextFields.view.mapValues(_._2).toMap)
    val resolvedLob0 = lobStore match {
      case Some(store) =>
        textFieldSpecs.keysIterator.foldLeft(ddlMasked) { (df, f) =>
          val ref = Collection.lobRefCol(f)
          if (!df.columns.contains(ref)) df
          else if (loadedFields.exists(fs => !fs.contains(f))) df
          else graft.operators.Lob.resolveText(df, store, f, ref)
        }
      case None => ddlMasked
    }
    // ref-column hygiene sweep: whatever the joins above did not
    // consume (dropped TEXT fields, partial-load exclusions, an
    // externally-written layout without `_lobs`) is a system column —
    // never user-visible
    val resolvedLob = resolvedLob0.drop(
      resolvedLob0.columns.filter(_.startsWith("$lob_")).toIndexedSeq: _*)
    val full = applyFunctionBackfill(applyColumnPatches(applyFieldDdl(
      resolvedLob), lit(readTs)))
    // field-partial load: unloaded columns leave the view HERE, so no
    // derived plan (search payloads, projections, the `*` wildcard) can
    // touch them and — parquet being columnar — their bytes are never
    // read; system columns always ride (MVCC ts, partition tag)
    val dropMeta = skipDynamic
    loadedFields match {
      case Some(fs) =>
        val keep = full.columns.filter(c =>
          fs.contains(c) || c == schema.tsField ||
            c == Collection.PartitionCol ||
            (schema.metaField.contains(c) && !dropMeta))
        full.select(keep.map(col).toIndexedSeq: _*)
      case None =>
        if (dropMeta) full.drop(schema.metaField.toSeq: _*) else full
    }
  }

  // ---- facade memos: two driver-side memos over one device,
  // [[Collection.PinnedLru]], above one resident sealed collapse
  // ([[collapse]]).
  //
  // `filterCache` is [[queryCached]]'s compiled-filter result cache
  // (reference: exec/expression/ExprCache.cpp — per-segment cache of
  // filter result bitsets keyed by the expression). Spark shape: the
  // cached artifact is the persisted FILTERED MVCC view (the bitset's
  // moral equivalent — projections layer on top and share it), keyed by
  // the filter, the generation and the caller's RLS/load scope, so a
  // different principal can never see a foreign result.
  //
  // `viewCache` memoizes [[readViewUnscoped]]'s plan: a pure function of
  // the collection's mutable state and its arguments, yet the facade
  // batteries (queryAgg matrices, repeated query/search between writes)
  // rebuilt — and Catalyst re-analyzed — the whole MVCC-collapse tree on
  // EVERY call; at fixture scale that planning time dominates the work
  // (guide §3.3: very large plans make planning itself the bottleneck —
  // truncate / reuse). The memo reuses one analyzed Dataset per distinct
  // argument tuple, and the SECOND read of the same view pins it
  // (persist) so later calls in the battery scan an in-memory relation
  // instead of re-collapsing. A view read ONCE is never persisted (zero
  // overhead on single-read paths). A pk-pruned view is keyed by the
  // sealed segments it reads, not by its pk domain: domains that keep
  // the same segments share one plan, and one that prunes nothing IS the
  // unpruned view ("-"). Once the unpruned view of a scope is pinned it
  // is resident, and every pk-anchored read of that scope is served from
  // it instead of re-collapsing a pruned parquet union — the reference's
  // querynode likewise answers Get/Query from loaded segments, pruning
  // only picks which of them to visit.
  //
  // Eviction is LRU in both (a hit moves its entry to the tail), so a hot
  // entry outlives a stream of one-shot ones. Coherence: the reference's
  // ExprCache entries die with their immutable segment; here every
  // view-affecting mutation runs through [[mutate]], which clears both
  // memos and bumps `generation`, and both keys carry the generation.
  // Clearing is eager — a pinned entry holds executor memory, so stale
  // entries must not age out lazily.
  //
  // Below both memos, and outliving the writes that clear them, sits the
  // resident sealed collapse R: `latestByPk(visible(sealed, w))` over the
  // live segment list and truncate horizon, for one partition pre-filter
  // at a time (the reference's querynode keeps sealed segments loaded,
  // and a read applies only the growing segment and the (pk, ts) delete
  // records — segcore/DeletedRecord.h, MvccNode.cpp). A read at readTs ≥ w builds
  // its view as R's untouched pks through the visibility cut plus a
  // re-collapse of the pks the growing tail wrote, so a write leaves the
  // corpus-wide sort of the sealed rows done; only a reseal (flush,
  // fold, compaction, force-merge, truncate) makes a new R, and a read in
  // another scope replaces it. R is a plan until a read materializes it,
  // and pinned once it is read again after a write dropped the view memo
  // (until then the view memo's own pin serves every read); [[reseal]]
  // moves its pin to the new state's R (flush and compact run no job for
  // it), and [[repin]] persists and unpersists it with the load pins.
  // Time travel below w, and pk-anchored reads while R is unpinned,
  // collapse the (pruned) segments themselves.
  private val filterCache =
    new Collection.PinnedLru[(String, Long, String)](capacity = 16, pinAtRead = 1)
  // Nth read of the same view pins it (persist). 2 = the battery
  // pattern pays one materialization and every later call scans memory.
  private val viewCache = new Collection.PinnedLru[String](capacity = 8, pinAtRead = 2)
  // guarded by stateLock; assigned only by dropMemos
  private var generation = 0L

  /** The resident sealed collapse: `df` is R over the current sealed
    * state under the read scope `scope`, at watermark [[collapseTs]];
    * `gen` is the generation of its first read.
    */
  private final case class Collapse(scope: Option[Column], df: DataFrame,
      gen: Long, pinned: Boolean)

  private def scopeKey(scope: Option[Column]): String =
    scope.fold("-")(_.toString)

  // one scope's collapse of the current sealed state; guarded by
  // stateLock, assigned only by reseal, unload and readCollapse
  private var collapse: Option[Collapse] = None
  // the watermark w of the collapse: the write ts when reseal last
  // published the sealed state, so at least every sealed row's ts
  @volatile private var collapseTs: Long = lastWriteTs

  /** R for `scope` over the current sealed state (None when nothing is
    * sealed): a plan, no job.
    */
  private def collapseOf(scope: Option[Column]): Option[Collapse] =
    sealedDf.map { s =>
      val visible = Mvcc.visible(scope.fold(s)(s.filter), schema.pkField,
        schema.tsField, lit(collapseTs))
      Collapse(scope, Mvcc.latestByPk(visible, schema.pkField,
        schema.tsField, schema.pkField), generation, pinned = false)
    }

  /** `scope`'s collapse for a read at `readTs` (None when nothing is
    * sealed or the read is below the watermark). A read in another scope
    * than the held one replaces it. The collapse is pinned when it is
    * read at a later generation than its first read: a write dropped the
    * view memo in between, so the collapse outlives a view. A collection
    * that never writes is served by its pinned view alone. Caller holds
    * stateLock.
    */
  private def readCollapse(scope: Option[Column], readTs: Long)
      : Option[DataFrame] =
    if (readTs < collapseTs) None
    else {
      val held = residentCollapse
      collapse = collapse.filter(c => scopeKey(c.scope) == scopeKey(scope))
        .orElse(collapseOf(scope))
        .map(c =>
          if (c.pinned || c.gen == generation) c else c.copy(pinned = true))
      if (residentCollapse != held) repin()
      collapse.map(_.df)
    }

  /** The pinned collapse's frame (the residency invariant made
    * observable).
    */
  private[graft] def residentCollapse: Option[DataFrame] =
    stateLock.synchronized(collapse.filter(_.pinned).map(_.df))

  private[graft] def filterCacheStats: (Long, Long) =
    stateLock.synchronized((filterCache.hits, filterCache.misses))
  // lifetime count of capacity evictions (NOT clears) — the thrash
  // signal for a facade surface outgrowing the view memo's capacity
  private[graft] def viewCacheEvictions: Long =
    stateLock.synchronized(viewCache.evictions)

  /** Runs a view-affecting mutation under stateLock, then — whether it
    * returns or throws — drops both facade memos and bumps the
    * generation, so no memoized plan or result outlives the state it
    * was computed from (a mutation that fails half-way leaves no stale
    * memo either). Every method that changes what a read view contains
    * or which files its plan reads (writes, DDL, load scope, layout
    * rewrites, TTL properties) runs through here. [[flush]] does not:
    * its new segment holds exactly the rows memoized plans already read
    * from the growing tail, so those plans stay correct and the reads
    * after a flush keep their reuse.
    */
  private def mutate[T](body: => T): T =
    stateLock.synchronized { try body finally dropMemos() }

  private def dropMemos(): Unit = {
    filterCache.clear()
    viewCache.clear()
    generation += 1
  }

  /** [[query]] through the filter-result cache: a repeated filter at an
    * unchanged generation reuses the persisted filtered view instead of
    * re-scanning (the reference's repeated-filter fast path).
    */
  def queryCached(
      filterExpr: String,
      outputFields: Seq[String],
      limit: Int = -1,
      orderBy: Seq[Column] = Nil): DataFrame = {
    val scope = readScope("Query", None)
    val base = stateLock.synchronized {
      // the partial-load scope is part of visibility: a cached view
      // baked under one loaded-partition set must not serve another
      val visibility = rlsPolicies.mkString(";") + "|" + currentUser.toString +
        "|" + loadedPartitions.map(_.toSeq.sorted.mkString(",")).getOrElse("*")
      val key = (filterExpr, generation, visibility)
      filterCache.get(key).getOrElse {
        val df = scope.view().filter(compiled(filterExpr))
        filterCache.put(key, df)
        df
      }
    }
    val projected = base.select(outputFields.map(col): _*)
    val sorted = if (orderBy.nonEmpty) projected.orderBy(orderBy: _*) else projected
    if (limit > 0) sorted.limit(limit) else sorted
  }

  /** The schema the EXPRESSION LANGUAGE sees: physical columns minus
    * dropped fields plus DDL-added fields not yet physically present.
    * Compiling against the raw schema would let a filter on a dropped
    * field slip through (Spark's ResolveMissingReferences resolves
    * filter attributes through the drop projection) — the reference
    * rejects such filters at the proxy, and so must we.
    */
  private def exprSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val (dropped, masked) =
      stateLock.synchronized((droppedFields, maskedFields))
    val kept = raw.schema.fields.filterNot(f => dropped.contains(f.name))
    val extra = masked.collect {
      case (f, (_, dflt)) if !raw.schema.fieldNames.contains(f) =>
        StructField(f,
          org.apache.spark.sql.graft.ColumnBridge.expression(lit(dflt)).dataType)
    }
    StructType(kept ++ extra)
  }

  /** Pk domain of a filter for segment pruning — only worth computing
    * when more than one sealed segment exists. Parse failures (the
    * filter will error in [[compiled]] anyway) mean no pruning.
    */
  private def pkDomainOf(filterExpr: String): Option[graft.operators.PkPruning.Domain] =
    if (filterExpr.isEmpty || sealedSegments.size <= 1) None
    else scala.util.Try(graft.operators.PkPruning.domainOf(
      graft.expr.Parser.parse(filterExpr), schema.pkField)).toOption.flatten

  /** Naive timestamptz literals parse in the collection's `timezone`
    * property, falling back to the owning database's, then UTC
    * (reference TimezoneKey precedence, proxy/task.go:614).
    */
  private[graft] def resolvedTimezone: String =
    collectionProperties.getOrElse("timezone",
      Collection.databaseTimezoneOf(this).getOrElse("UTC"))

  /** `time_fields` result extraction (proxy/util.go:3405-3483,
    * TimefieldsKey task.go:80; pinned by
    * test_milvus_client_timestamptz.py:536): every TIMESTAMPTZ output
    * column is replaced by an array<int64> of the requested components
    * (year/month/day/hour/minute/second/microsecond, case-insensitive),
    * evaluated as wall-clock in the request timezone (request param >
    * collection > database > UTC, task_query.go:107). Map-only column
    * math — the extraction rides the projection, no extra pass.
    */
  private val TimeComponents = Set("year", "month", "day", "hour",
    "minute", "second", "microsecond")

  private def applyTimeFields(df: DataFrame, timeFields: Seq[String],
      requestTz: Option[String]): DataFrame = {
    if (timeFields.isEmpty) df
    else {
      val tz = requestTz.getOrElse(resolvedTimezone)
      require(scala.util.Try(java.time.ZoneId.of(tz)).isSuccess,
        s"got invalid timezone: $tz")
      val comps = timeFields.map(_.trim).filter(_.nonEmpty).map(_.toLowerCase)
      comps.foreach(cmp => require(TimeComponents(cmp),
        s"unsupported field for extraction: $cmp, " +
          "fields should be separated by ',' or ' '"))
      val cols = df.schema.fields.map { f =>
        // TIMESTAMPTZ appears two ways: as a TimestampType column, or as
        // the engine's canonical epoch-nanos int64 domain (the
        // GraftSession.normalizeTs load boundary — Types.h:70-102 int64
        // carry). The MVCC system column is never user-facing.
        val asTimestamp: Option[Column] =
          if (f.name == schema.tsField) None
          else if (f.dataType == TimestampType) Some(col(f.name))
          else if (f.dataType == LongType && GraftSession.tsDomainCols(f.name))
            // integer `div`: nanos → micros without a double round-trip
            Some(timestamp_micros(expr(s"`${f.name}` div 1000")))
          else None
        asTimestamp match {
          case Some(ts) =>
            val local = from_utc_timestamp(ts, tz)
            array(comps.map {
              case "year"   => year(local).cast("long")
              case "month"  => month(local).cast("long")
              case "day"    => dayofmonth(local).cast("long")
              case "hour"   => hour(local).cast("long")
              case "minute" => minute(local).cast("long")
              case "second" => second(local).cast("long")
              // tz offsets are whole minutes: the sub-second part is
              // invariant under the shift, read it off the UTC instant
              case "microsecond" =>
                pmod(unix_micros(ts), lit(1000000L))
            }: _*).as(f.name)
          case None => col(f.name)
        }
      }
      df.select(cols.toSeq: _*)
    }
  }

  private def compiled(filterExpr: String, params: Map[String, Any] = Map.empty,
      tzOverride: Option[String] = None): Column =
    ExprCompiler.compile(filterExpr, exprCtx(params, tzOverride))

  /** A read's filter: none for the empty expression. */
  private def filterOf(filterExpr: String, params: Map[String, Any] = Map.empty,
      tzOverride: Option[String] = None): Option[Column] =
    if (filterExpr.isEmpty) None else Some(compiled(filterExpr, params, tzOverride))

  /** A search's output columns: the pk alone unless fields are named. */
  private def hitFields(outputFields: Seq[String]): Seq[String] =
    if (outputFields.nonEmpty) outputFields else Seq(schema.pkField)

  /** An element_filter ROOT expands to per-ELEMENT rows with `offset`
    * (reference: query on element_filter returns one row per matching
    * element, duplicate pks with offsets; MATCH_ANY and element_filter
    * under a conjunction stay row-level —
    * test_element_filter_returns_matching_element_offsets...). `rows`
    * already passed the row-level filter, which keeps the explode to
    * matching rows; the per-element predicate compiles in the same
    * context. None when the filter is not an element root.
    */
  private def elementRows(rows: DataFrame, filterExpr: String,
      params: Map[String, Any], tzOverride: Option[String]): Option[DataFrame] =
    Option.when(filterExpr.nonEmpty)(graft.expr.Parser.parse(filterExpr)).collect {
      case graft.expr.Call("element_filter", Seq(graft.expr.Ident(f), pred), _) =>
        val elemSchema = rows.schema(f).dataType match {
          case ArrayType(st: StructType, _) => Some(st)
          case _                            => None
        }
        rows.select((rows.columns.map(col) :+
            posexplode(col(f)).as(Seq("offset", "_elem"))): _*)
          .filter(ExprCompiler.compile(pred, exprCtx(params, tzOverride)
            .copy(element = Some((col("_elem"), elemSchema)))))
    }

  private def exprCtx(params: Map[String, Any],
      tzOverride: Option[String]): ExprCompiler.Ctx =
    ExprCompiler.Ctx(exprSchema, jsonColumns = schema.jsonFields,
      metaColumn = schema.metaField, params = params,
      strictColumns = true,
      // request timezone > collection > database > UTC — the SAME
      // resolution feeds literal parsing and time_fields extraction
      // (task_query.go resolvedTimezoneStr serves both)
      timezone = tzOverride.getOrElse(resolvedTimezone),
      // only the tstz-domain int64 carries take the iso-literal epoch
      // fold; every other int64 vs iso is a strict type error
      tstzFields = GraftSession.tsDomainCols + schema.tsField,
      // declared TEXT fields without enable_match raise the proxy's
      // "does not enable match" error on any token-matching construct
      noMatchFields = textFieldSpecs.collect {
        case (f, spec) if !spec.enableMatch => f
      }.toSet,
      // declared non-default analyzers drive the match tokenization
      // (reference: text_match evaluates over the FIELD's analyzer)
      fieldAnalyzers = textFieldSpecs.collect {
        case (f, spec) if spec.enableAnalyzer && spec.analyzerParams.nonEmpty =>
          f -> spec.analyzerParams
      }.toMap)

  /** Scalar retrieve (reference `Proxy.Query`): filter expression in the
    * collection's expression language, projection, optional sort/limit.
    */
  /** Query with the highlighter's highlight_query mode (reference:
    * highlighter.go addTaskWithQuery/initHighlightQueries — the
    * highlight terms come from the FILTER's own text_match/phrase_match
    * constructs, tokenized through each field's declared analyzer, and
    * the response carries `fragments` per highlighted field). Adds one
    * `<field>_highlight` array<string> column per match-filtered field
    * present in `outputFields`.
    */
  def queryHighlighted(
      filterExpr: String,
      outputFields: Seq[String],
      preTags: Seq[String] = Seq("<em>"),
      postTags: Seq[String] = Seq("</em>"),
      fragmentOffset: Int = 0,
      fragmentSize: Int = 100,
      numFragments: Int = 5,
      params: Map[String, Any] = Map.empty): DataFrame = {
    val hits = query(filterExpr, outputFields, params = params)
    val analyzers = textFieldSpecs.collect {
      case (f, spec) if spec.enableAnalyzer && spec.analyzerParams.nonEmpty =>
        f -> spec.analyzerParams
    }.toMap
    graft.expr.ExprCompiler.matchQueriesOf(filterExpr, params)
      .filter { case (f, _) => outputFields.contains(f) }
      .foldLeft(hits) { case (df, (f, qs)) =>
        // several constructs on one field merge into one term set —
        // the analyzer splits the concatenation back into tokens
        df.withColumn(s"${f}_highlight",
          graft.functions.TextFunctions.highlightFragmentsWith(
            col(f), analyzers.getOrElse(f, Map.empty), qs.mkString(" "),
            preTags, postTags, fragmentOffset, fragmentSize, numFragments))
      }
  }

  def query(
      filterExpr: String,
      outputFields: Seq[String],
      limit: Int = -1,
      orderBy: Seq[Column] = Nil,
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      partitionNames: Seq[String] = Nil,
      ignoreGrowing: Boolean = false,
      params: Map[String, Any] = Map.empty,
      timeFields: Seq[String] = Nil,
      timezone: Option[String] = None,
      namespace: Option[String] = None,
      orderByFields: Seq[String] = Nil): DataFrame = {
    val scope = readScope("Query", namespace, partitionNames)
    // window validation runs only when a limit is requested, matching
    // task_query.go:388-402 (an unlimited query has no window to check)
    if (limit != -1) validateResultWindow(0L, limit.toLong)
    require(orderBy.isEmpty || orderByFields.isEmpty,
      "pass either orderBy columns or orderByFields specs, not both")
    val scoped0 = scope.view(level, ignoreGrowing, pkDomainOf(filterExpr))
    // the hidden tenant column is a system field: `*` never returns it
    // (it stays addressable by explicit request)
    val scoped =
      if (schema.enableNamespace &&
          !outputFields.contains(Collection.NamespaceField))
        scoped0.drop(Collection.NamespaceField)
      else scoped0
    val fields = expandFields(outputFields, scoped.columns).map(col)
    val matching = filterOf(filterExpr, params, timezone).fold(scoped)(scoped.filter)
    val base = elementRows(matching, filterExpr, params, timezone) match {
      case Some(perElem) => perElem.select(fields :+ col("offset"): _*)
      case None          => matching.select(fields: _*)
    }
    // string specs take the reference's ParseOrderByFields contract
    // (orderby/types.go:106-180): "field[:asc|desc[:nulls_first|last]]",
    // PostgreSQL nulls defaults, sortable-type + existence validation
    val orderCols =
      if (orderByFields.nonEmpty)
        graft.operators.QueryAgg.parseOrderBy(orderByFields, exprSchema,
          groups = Nil, hasAgg = false)
      else orderBy
    val sorted = if (orderCols.nonEmpty) base.orderBy(orderCols: _*) else base
    applyTimeFields(if (limit > 0) sorted.limit(limit) else sorted,
      timeFields, timezone)
  }

  /** Aggregation retrieve (the reference's query-aggregation RPC:
    * Proxy.Query with group_by_fields / order_by_fields / aggregate
    * output fields — task_query.go:560-604,834-836 + internal/agg).
    * `outputFields` mixes aggregation expressions (count(*) / count(f) /
    * sum(f) / avg(f) / min(f) / max(f), case-insensitive) with group-by
    * columns; everything else raises the proxy's named parameter error.
    * Aggregation results are bounded (one row globally, one per group
    * with GROUP BY), so an empty filter needs no limit here — and
    * count(*) without GROUP BY rejects pagination outright.
    */
  def queryAgg(
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      groupByFields: Seq[String] = Nil,
      orderByFields: Seq[String] = Nil,
      limit: Int = -1,
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      partitionNames: Seq[String] = Nil,
      ignoreGrowing: Boolean = false,
      params: Map[String, Any] = Map.empty,
      namespace: Option[String] = None): DataFrame = {
    val scope = readScope("Query", namespace, partitionNames)
    if (limit != -1) validateResultWindow(0L, limit.toLong)
    // count(*) without GROUP BY is a single-value result — pagination is
    // meaningless (task_query.go:834-836); with GROUP BY a limit bounds
    // the number of groups and stays legal
    val hasCountStar = outputFields.exists(o =>
      graft.operators.QueryAgg.matchAgg(o.trim)
        .exists { case (op, p) => op == "count" && p == "*" })
    require(!(hasCountStar && limit != -1 && groupByFields.isEmpty),
      "count entities with pagination is not allowed")
    val scoped = scope.view(level, ignoreGrowing, pkDomainOf(filterExpr))
    val base = filterOf(filterExpr, params).fold(scoped)(scoped.filter)
    graft.operators.QueryAgg.run(base, outputFields, groupByFields,
      orderByFields, limit, jsonFields = schema.jsonFields,
      excluded = Set(schema.tsField, Collection.NamespaceField))
  }

  def count(filterExpr: String = "", level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      partitionNames: Seq[String] = Nil,
      ignoreGrowing: Boolean = false,
      params: Map[String, Any] = Map.empty,
      namespace: Option[String] = None): Long = {
    val v = readScope("Query", namespace, partitionNames)
      .view(level, ignoreGrowing, pkDomainOf(filterExpr))
    filterOf(filterExpr, params).fold(v)(v.filter).count()
  }

  /** Get by primary keys (reference `Get`/requery path): the pk list IS
    * the prune domain — at scale a point get opens one segment's files,
    * not the collection's.
    */
  def get(pks: Seq[Any], outputFields: Seq[String],
      namespace: Option[String] = None): DataFrame = {
    val v = readScope("Query", namespace).view(pkDomain = pkPoints(pks))
      .filter(col(schema.pkField).isin(pks: _*))
    v.select(expandFields(outputFields, v.columns).map(col): _*)
  }

  /** GetCollectionStatistics (reference impl.go): row count of the
    * current visible data. Like [[partitionStatistics]] this is a
    * datacoord-side stat served off segment metadata in the reference,
    * so it bypasses the partial-load gate — loadPartitions(Seq("p1"))
    * must not shrink the COLLECTION row count.
    */
  def statistics: Map[String, String] = {
    requirePriv("GetStatistics")
    Map("row_count" ->
      rlsFilter(readViewUnscoped(ttl = propertyTtl)).count().toString)
  }

  /** A pk list as a prune domain (the pk literal space is int64/varchar). */
  private def pkPoints(pks: Seq[Any]): Option[graft.operators.PkPruning.Domain] =
    graft.operators.PkPruning.points(pks.map {
      case i: Int => i.toLong
      case x      => x
    })

  /** `output_fields = ["*"]` means every field (reference wildcard). */
  private def expandFields(fields: Seq[String], all: Seq[String]): Seq[String] =
    if (fields == Seq("*")) all else fields

  /** ANN search (reference `Proxy.Search`): top-k per query vector over
    * the MVCC view, optional filter expression, metric-typed.
    */
  def search(
      vectorField: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None,
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      orderBy: Seq[Column] = Nil,
      partitionNames: Seq[String] = Nil,
      ignoreGrowing: Boolean = false,
      timeFields: Seq[String] = Nil,
      timezone: Option[String] = None,
      namespace: Option[String] = None,
      orderByFields: Seq[String] = Nil): DataFrame = {
    val scope = readScope("Search", namespace, partitionNames)
    require(orderBy.isEmpty || orderByFields.isEmpty,
      "pass either orderBy columns or orderByFields specs, not both")
    require(schema.vectorFields.contains(vectorField),
      s"$vectorField is not a vector field (have: ${schema.vectorFields.keys.mkString(", ")})")
    validateTopK(k, "topk")
    validateNq(nqOf(queries))
    // partition scope prunes BEFORE any distance work — at scale this
    // is the reference's partition-level segment pruning; a pk-anchored
    // filter additionally prunes the sealed FILE list (MEP 20260324)
    val corpus = scope.view(level, ignoreGrowing, pkDomainOf(filterExpr))
    val hits = VectorSearch.topK(corpus, schema.pkField, vectorField, queries,
      "qid", "qvec", metric, k, filter = filterOf(filterExpr, tzOverride = timezone),
      outputCols = hitFields(outputFields), roundTo = roundTo)
    // search order-by (reference MEP 20260129-search-orderby): recall is
    // still similarity top-k; the RETURNED hits re-sort by scalar fields
    // within each query (presentation order, not candidate selection)
    // string specs parse per ParseOrderByFields against the RETURNED
    // columns (presentation re-sort is over the hit set, 20260129)
    val orderCols =
      if (orderByFields.nonEmpty)
        graft.operators.QueryAgg.parseOrderBy(orderByFields, hits.schema,
          groups = Nil, hasAgg = false)
      else orderBy
    applyTimeFields(
      if (orderCols.isEmpty) hits
      else hits.orderBy(col("qid") +: orderCols: _*),
      timeFields, timezone)
  }

  /** Range search over the MVCC view (radius / range_filter semantics,
    * proxy/search_util.go:588-597).
    */
  def rangeSearch(
      vectorField: String,
      queries: DataFrame,
      radius: Double,
      rangeFilter: Option[Double] = None,
      k: Int = 0,
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None,
      namespace: Option[String] = None): DataFrame = {
    val scope = readScope("Search", namespace)
    if (k != 0) validateTopK(k, "topk")
    validateNq(nqOf(queries))
    VectorSearch.rangeSearch(scope.view(), schema.pkField, vectorField,
      queries, "qid", "qvec", metric, radius, rangeFilter, k,
      filterOf(filterExpr), hitFields(outputFields), roundTo)
  }

  /** Grouping search over the MVCC view (group_by_field_ids +
    * group_size + strict_group_size, search_reduce_util.go:87).
    */
  def groupBySearch(
      vectorField: String,
      queries: DataFrame,
      k: Int,
      groupFields: Seq[String],
      groupSize: Int = 1,
      strictGroupSize: Boolean = false,
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None,
      namespace: Option[String] = None,
      groupScorer: String = "max",
      emitGroupScore: Boolean = false): DataFrame = {
    val scope = readScope("Search", namespace)
    validateTopK(k, "topk")
    validateNq(nqOf(queries))
    VectorSearch.groupBySearch(scope.view(), schema.pkField, vectorField,
      queries, "qid", "qvec", metric, k, groupFields, groupSize,
      strictGroupSize, filterOf(filterExpr), hitFields(outputFields), roundTo,
      groupScorer = groupScorer, emitGroupScore = emitGroupScore)
  }

  /** Paged ANN iterator (reference search iterator v2 / last_bound
    * cursor): next `batch` hits strictly beyond `lastBound` in metric
    * order; feed the last returned score back as the next cursor.
    */
  def searchIterator(
      vectorField: String,
      queries: DataFrame,
      batch: Int,
      lastBound: Option[Double] = None,
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None,
      namespace: Option[String] = None): DataFrame = {
    val scope = readScope("Search", namespace)
    // iterator batchSize takes the same cap, as an ERROR (search_util
    // .go:433); an over-cap plain topk on an iterator request CLAMPS
    // instead (:487-500), which is the iterator driver's concern
    validateTopK(batch, "batchSize")
    validateNq(nqOf(queries))
    VectorSearch.searchIterator(scope.view(), schema.pkField, vectorField,
      queries, "qid", "qvec", metric, batch, lastBound, filterOf(filterExpr),
      hitFields(outputFields), roundTo)
  }

  /** Search-by-pk (reference: client `search(ids=...)`,
    * test_milvus_client_search_by_pk.py): the query VECTORS are fetched
    * from the collection itself by primary key — the caller names rows,
    * not embeddings. An id whose stored vector is NULL contributes ZERO
    * hits (the nullable-vector contract: empty result set for that
    * query, not an error); an id absent from the collection errors. The
    * pk fetch is an nq-sized pull through the MVCC view, so tombstones,
    * TTL, and consistency levels all apply to which vector is "the"
    * id's vector.
    */
  def searchByPk(
      vectorField: String,
      ids: Seq[Any],
      k: Int,
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None,
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong): DataFrame = {
    val scope = readScope("Search", None)
    require(ids.nonEmpty, "searchByPk needs at least one id")
    validateTopK(k, "topk")
    validateNq(ids.size.toLong)
    require(schema.vectorFields.contains(vectorField),
      s"$vectorField is not a vector field (have: ${schema.vectorFields.keys.mkString(", ")})")
    // the anchor-id fetch is a point get — prune its file list like
    // get()'s (MEP 20260324)
    val view = scope.view(level, pkDomain = pkPoints(ids))
    val fetched = view
      .filter(col(schema.pkField).isin(ids: _*))
      .select(col(schema.pkField), col(vectorField))
      .collect() // nq-sized: the ids are request parameters
    // integral pks normalize to Long so caller-side Int ids match the
    // fetched java.lang.Long keys (boxed equality is type-exact)
    def normKey(x: Any): Any = x match {
      case n: Byte  => n.toLong
      case n: Short => n.toLong
      case n: Int   => n.toLong
      case o        => o
    }
    val byId = fetched.map(r => normKey(r.get(0)) -> r.get(1)).toMap
    // the COLUMN-typed key, for building query rows that match qSchema
    val rawKey = fetched.map(r => normKey(r.get(0)) -> r.get(0)).toMap
    val wanted = ids.map(normKey).distinct // duplicate ids query once
    wanted.find(!byId.contains(_)).foreach(id =>
      throw new NoSuchElementException(s"pk $id not found in the collection"))
    val live = wanted.filter(byId(_) != null) // null vectors → zero hits
    val viewSchema = view.schema
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        viewSchema(schema.pkField).dataType),
      org.apache.spark.sql.types.StructField("qvec",
        viewSchema(vectorField).dataType)))
    val qRows = live.map(id => org.apache.spark.sql.Row(rawKey(id), byId(id)))
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1), qSchema)
    search(vectorField, qs, k, metric, filterExpr, outputFields, roundTo, level)
  }

  /** One hybrid-search sub-request (reference `IsAdvanced` sub-search:
    * its own vector field, queries, metric, filter, and weight).
    */
  final case class SubSearch(
      vectorField: String,
      queries: DataFrame, // (qid, qvec) — qids align across sub-searches
      metric: Metric.Value = Metric.COSINE,
      filterExpr: String = "",
      weight: Double = 1.0,
      k: Int = 100,
      // Element-level struct sub-search (reference:
      // 20260602-struct_hybrid_search.md): when set, `vectorField` names
      // the vector SUB-field inside this struct-array field's elements;
      // hits are found per element and COLLAPSED to row level (best
      // element's score per pk — the design's default row-collapse,
      // configured per sub-search) before fusion with row-level lists.
      structArrayField: Option[String] = None,
      // collapse=false keeps hits ELEMENT-level through fusion — hits
      // are identified by (pk, element_index); valid only when EVERY
      // sub-search is element-level on the same struct field (the
      // design's element-level rerank compatibility rule).
      collapseToRows: Boolean = true)

  /** Hybrid search (reference `HybridSearch`, task_search.go:489 +
    * rerank chain §2.4): run each sub-search, fuse the ranked lists with
    * RRF (`ranker = "rrf"`) or weighted score fusion, requery output
    * fields for the fused top-k by pk.
    */
  def hybridSearch(
      subs: Seq[SubSearch],
      k: Int,
      ranker: String = "rrf",
      rrfK: Double = 60.0,
      outputFields: Seq[String] = Nil,
      level: ConsistencyLevel.Value = ConsistencyLevel.Strong,
      namespace: Option[String] = None): DataFrame = {
    val scope = readScope("Search", namespace)
    require(subs.nonEmpty, "hybrid search needs at least one sub-search")
    validateTopK(k, "limit")
    subs.foreach { sub =>
      validateTopK(sub.k, "topk")
      validateNq(nqOf(sub.queries))
    }
    // element-level (no-collapse) fusion: every sub must be element-level
    // on the SAME struct field (the design's compatibility rule), and
    // hits stay identified by (pk, element_index) through fusion
    val elementLevel = subs.exists(!_.collapseToRows)
    if (elementLevel) {
      require(subs.forall(s => s.structArrayField.isDefined && !s.collapseToRows),
        "collapse=false requires EVERY sub-search to be element-level (no-collapse)")
      require(subs.map(_.structArrayField).distinct.size == 1,
        "element-level fusion requires all sub-searches on the same struct field")
      require(outputFields.isEmpty,
        "element-level hybrid output is (pk, element_index); requery is row-level")
    }
    val corpus = scope.view(level)
    val fuseKey = if (elementLevel) "_ekey" else schema.pkField
    val results = subs.map { sub =>
      val filter = filterOf(sub.filterExpr)
      sub.structArrayField match {
        case Some(arr) =>
          // element-level: row filter scopes the corpus, elements score
          // individually; then either best-element-per-pk collapses to a
          // row list, or the (pk, element_index) identity carries through
          val scoped = filter.map(corpus.filter).getOrElse(corpus)
          val hits = VectorSearch.elementSearch(scoped, schema.pkField, arr,
            sub.vectorField, sub.queries, "qid", "qvec", sub.metric, sub.k)
          if (sub.collapseToRows)
            VectorSearch.collapseElements(hits, schema.pkField, "qid",
              sub.metric, sub.k)
          else hits.withColumn("_ekey",
            struct(col(schema.pkField), col("element_index")))
        case None =>
          require(schema.vectorFields.contains(sub.vectorField),
            s"${sub.vectorField} is not a vector field")
          VectorSearch.topK(corpus, schema.pkField, sub.vectorField, sub.queries,
            "qid", "qvec", sub.metric, sub.k, filter = filter)
      }
    }
    val fused0 = ranker match {
      // element-level fusion ranks ties by the composite key's natural
      // (pk, element_index) order — reduceTopK's Long tie would hash the
      // struct, an order no oracle can replicate
      case "rrf" => graft.operators.Fusion.rrf(results, "qid", fuseKey, k, rrfK,
        orderedTies = elementLevel)
      case "weighted" => graft.operators.Fusion.weighted(results,
        subs.map(_.metric), subs.map(_.weight), "qid", fuseKey, k,
        orderedTies = elementLevel)
      case other => throw new IllegalArgumentException(
        s"unknown ranker '$other' (rrf | weighted)")
    }
    val fused =
      if (!elementLevel) fused0
      else fused0.select(col("qid"), col("rank"), col("_score"),
        col(s"_ekey.${schema.pkField}").as(schema.pkField),
        col("_ekey.element_index").as("element_index"))
    if (outputFields.isEmpty) fused
    else VectorSearch.requery(fused, corpus, schema.pkField,
      outputFields.filterNot(_ == schema.pkField))
  }

  /** A built vector index: the IVF codebook and the build's cluster map,
    * one `(pk, ts, _cluster)` row per row version the build's view held
    * and no copy of the data. `buildTs` is the write ts the build read
    * at; visible rows with a newer version ts are the pending rows
    * [[describeIndex]] reports.
    */
  private final case class IndexState(
      model: graft.operators.IvfIndex.Model,
      clusterMap: DataFrame,
      buildTs: Long)
  @volatile private var indexes: Map[String, IndexState] = Map.empty

  /** Free the executor cache blocks an index state holds. Dropping the
    * Map reference alone leaks the persisted cluster map for the life
    * of the session.
    */
  private def releaseIndexState(st: IndexState): Unit = st.clusterMap.unpersist()

  /** Drop a field's index (reference `DropIndex`), releasing its cached
    * cluster map. Subsequent searchIndexed calls fail until createIndex
    * runs again.
    */
  def dropIndex(vectorField: String): Unit = stateLock.synchronized {
    requirePriv("DropIndex")
    indexes.get(vectorField).foreach(releaseIndexState)
    indexes -= vectorField
    indexProps -= vectorField
  }

  /** Release every executor cache block this collection holds —
    * index cluster maps, every load pin, and the facade memos. Called
    * by [[Collection.dropCollection]]; the facade object itself stays
    * usable, NotLoad exactly as after [[release]] (no partition or
    * field scope survives), matching DropCollection's resource-release
    * half.
    */
  def close(): Unit = mutate {
    indexes.valuesIterator.foreach(releaseIndexState)
    indexes = Map.empty
    unload()
  }

  /** DescribeIndex (reference: `impl.go DescribeIndex` →
    * `indexpb.IndexInfo{IndexedRows, TotalRows, PendingIndexRows}`;
    * integration suite tests/integration/indexstat asserts
    * IndexedRows == TotalRows once the build catches up). Indexed rows
    * = the rows of the build's cluster map; pending rows =
    * currently-visible rows newer than the build, which
    * [[searchIndexed]] centroid-assigns per call until the next build
    * maps them.
    */
  def describeIndex(vectorField: String): Collection.IndexDescription = {
    requirePriv("IndexDetail")
    val st = indexes.getOrElse(vectorField, throw new NoSuchElementException(
      s"no index on field '$vectorField'"))
    // metadata: not scoped to one caller's RLS view; one aggregate job
    import org.apache.spark.sql.functions.{count => countOf}
    val rows = readViewUnscoped().agg(countOf(lit(1)),
      countOf(when(col(schema.tsField) > st.buildTs, 1))).head()
    Collection.IndexDescription(
      field = vectorField,
      indexType = "IVF_FLAT",
      nlist = st.model.nlist,
      indexedRows = st.clusterMap.count(), // persisted map → cheap re-count
      pendingRows = rows.getLong(1),
      totalRows = rows.getLong(0),
      buildTs = st.buildTs)
  }

  final case class IndexStatistics(field: String, indexType: String,
      state: String, indexedRows: Long, totalRows: Long, pendingRows: Long)

  /** GetIndexStatistics (reference: impl.go GetIndexStatistics:2199 —
    * DescribeIndex's info plus the serving-state counters in one call):
    * state, indexed/total/pending rows. Pending = rows written after
    * the build, centroid-assigned per search until a rebuild.
    */
  def getIndexStatistics(field: String): IndexStatistics = {
    val d = describeIndex(field) // gates; throws for unknown fields, like the reference
    IndexStatistics(field, d.indexType, getIndexState(field),
      d.indexedRows, d.totalRows, d.pendingRows)
  }

  /** GetIndexState (reference impl.go GetIndexState): builds here are
    * synchronous, so an existing index is `Finished` and a field with
    * no index is `IndexStateNone` — the Unissued/InProgress window is
    * zero-width, same contract as [[manualCompaction]]'s.
    */
  def getIndexState(vectorField: String): String = {
    requirePriv("IndexDetail")
    if (indexes.contains(vectorField)) "Finished" else "IndexStateNone"
  }

  /** GetIndexBuildProgress (reference impl.go): (indexed, total) row
    * counts — post-build writes show up as total > indexed until a
    * rebuild, exactly DescribeIndex's pending-rows view.
    */
  def getIndexBuildProgress(vectorField: String): (Long, Long) = {
    val d = describeIndex(vectorField) // gates
    (d.indexedRows, d.totalRows)
  }

  // AlterIndex (reference impl.go AlterIndex: mutable index properties
  // like mmap.enabled — metadata the serving tier reads; validated,
  // echoed by describeIndexProperties, cleared when the index drops)
  @volatile private var indexProps: Map[String, Map[String, String]] = Map.empty

  def alterIndex(vectorField: String, props: Map[String, String]): Unit =
    stateLock.synchronized {
      requirePriv("CreateIndex")
      require(indexes.contains(vectorField),
        s"no index on field '$vectorField'")
      props.get("mmap.enabled").foreach(v =>
        require(v == "true" || v == "false",
          s"mmap.enabled must be true|false, got '$v'"))
      indexProps += vectorField -> (indexProps.getOrElse(vectorField, Map.empty) ++ props)
    }

  def describeIndexProperties(vectorField: String): Map[String, String] = {
    requirePriv("IndexDetail")
    indexProps.getOrElse(vectorField, Map.empty)
  }

  /** The indexparamcheck field family for a SCALAR field, derived from
    * the schema — TEXT declarations (including DDL-added ones) first,
    * declared JSON fields next, the physical Spark type otherwise. The
    * derivation lives HERE so the create-time contract ("TEXT field
    * does not support user-created scalar index",
    * test_milvus_client_text_lob.py:1305) holds without caller
    * discipline: no facade path can reach the checker with a kind the
    * schema contradicts.
    */
  private def scalarFieldKind(field: String): graft.operators.IndexParamCheck.FieldKind = {
    import graft.operators.IndexParamCheck._
    import org.apache.spark.sql.types._
    require(!schema.vectorFields.contains(field),
      s"$field is a vector field — use createIndex")
    if (textFieldSpecs.contains(field)) TextField
    else if (schema.jsonFields.contains(field)) JsonField
    else {
      def kindOf(dt: DataType): FieldKind = dt match {
        case StringType                                     => VarCharField
        case BooleanType                                    => BoolField
        case ByteType | ShortType | IntegerType | LongType  => IntField
        case FloatType | DoubleType                         => FloatField
        // timestamptz columns (epoch ticks or timestamp type) take the
        // arithmetic family: STL_SORT/INVERTED accept, Trie still
        // rejects — matching the checker's "numeric, varchar or
        // timestamptz" contract
        case TimestampType | DateType                       => IntField
        case ArrayType(e, _)                                => ArrayField(kindOf(e))
        case other => throw new IllegalArgumentException(
          s"field '$field' of type $other does not support a scalar index")
      }
      val physical = (sealedDf.toSeq ++ growing.toSeq)
        .flatMap(df => df.schema.fields.find(_.name == field))
        .headOption.getOrElse(throw new NoSuchElementException(
          s"field '$field' not found in any segment"))
      kindOf(physical.dataType)
    }
  }

  /** CreateIndex on a SCALAR field (reference: CreateIndex DDL on
    * non-vector fields → indexparamcheck → an inverted/bitmap/... term
    * dictionary): validates `indexType` + `params` against the field's
    * SCHEMA-derived kind — a declared TEXT field hits the reference's
    * named rejection here, whatever the caller claims — then builds the
    * (value → ids) dictionary over the unscoped view. Returns the built
    * index frame (the same shape [[graft.operators.InvertedIndex]]
    * serves lookups from).
    */
  def createScalarIndex(field: String, indexType: String,
      params: Map[String, String] = Map.empty): DataFrame = {
    requirePriv("CreateIndex")
    graft.operators.IndexParamCheck.check(indexType, scalarFieldKind(field),
      params, isPrimaryKey = field == schema.pkField)
    graft.operators.InvertedIndex.buildValueIndex(
      readViewUnscoped(), schema.pkField, field)
  }

  /** CreateIndex (reference DDL → datacoord index build): train an IVF
    * codebook on the collection's visible view and persist its cluster
    * map — `(pk, ts, _cluster)` per visible row version, no vectors.
    * Writes AFTER the build don't invalidate it: [[searchIndexed]] looks
    * up the clusters of the row versions the build saw and assigns the
    * rest per call. A rebuild replaces (and unpersists) the old map.
    */
  def createIndex(vectorField: String, nlist: Int, trainSample: Int = 10000): Unit = {
    requirePriv("CreateIndex")
    require(schema.vectorFields.contains(vectorField),
      s"$vectorField is not a vector field")
    // index-param hygiene BEFORE any build job is planned
    // (indexparamcheck's CreateIndex-path validation)
    graft.operators.IndexParamCheck.check("IVF_FLAT",
      graft.operators.IndexParamCheck.FloatVector,
      Map("metric_type" -> "L2", "nlist" -> nlist.toString))
    // effective-row gate (MEP 20260602's null_counts consumer: the
    // index task derives the effective row count for nullable vector
    // fields and skips builds with zero valid vectors — a field missing
    // from every segment's null-count map was DDL-added after the data
    // and counts fully null). The growing tail counts too: an all-null
    // sealed side plus an all-null tail must not slip past the gate.
    val tailHasVectors = growing.exists(g =>
      g.columns.contains(vectorField) &&
        !g.filter(col(vectorField).isNotNull).isEmpty)
    // the gate applies whenever the collection HAS rows (sealed or
    // growing-only) — an empty collection builds an empty index like the
    // reference; a populated one with zero valid vectors must not
    val hasAnyRows = sealedSegments.nonEmpty || growing.exists(g => !g.isEmpty)
    if (!tailHasVectors && hasAnyRows && effectiveRows(vectorField) == 0L)
      throw new IllegalStateException(
        s"field '$vectorField' has no non-null vectors to index")
    import graft.operators.IvfIndex
    // build over the UNSCOPED view: the index is a shared physical
    // artifact — baking the building caller's RLS scope in would serve
    // wrong results to every other user. RLS re-applies per query below.
    val view = readViewUnscoped()
    val model = IvfIndex.trainLocal(view, vectorField, nlist, maxTrainRows = trainSample)
    val clusterMap = view.select(col(schema.pkField), col(schema.tsField),
        IvfIndex.assign(model, col(vectorField)).as("_cluster"))
      .persist()
    clusterMap.count() // materialize the map (the index build job)
    stateLock.synchronized {
      indexes.get(vectorField).foreach(releaseIndexState) // rebuild frees the old build
      indexes += vectorField -> IndexState(model, clusterMap, lastWriteTs)
    }
  }

  /** ANN search through the field's IVF index (reference
    * SearchOnSealed + SearchOnGrowing + reduce) over ONE visibility:
    * the read view, the way the reference's vector-search node applies
    * the MVCC node's bitset whether it searches a segment through an
    * index or by brute force. Each visible row's cluster is looked up in
    * the build's map by `(pk, ts)`; a version the build never saw
    * (inserted, upserted or feed-applied later) is centroid-assigned by
    * the same `assign` the build used, paying `nlist` centroid distances
    * per call until a rebuild maps it. Vectors never change under one
    * `(pk, ts)` ([[setField]] refuses vector fields), so a looked-up
    * cluster is the one `assign` would give. MVCC, tombstones, TTL, load
    * scope, RLS, patches, DDL and LOB resolve all come from the view.
    * With `nprobe = nlist` the result is exact (== [[search]]); smaller
    * nprobe trades recall for pruning.
    */
  def searchIndexed(
      vectorField: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nprobe: Int,
      metric: Metric.Value = Metric.COSINE,
      outputFields: Seq[String] = Nil,
      roundTo: Option[Int] = None): DataFrame = {
    import graft.operators.IvfIndex
    val scope = readScope("Search", None)
    validateTopK(k, "topk")
    validateNq(nqOf(queries))
    val st = indexes.getOrElse(vectorField,
      throw new IllegalStateException(s"no index on $vectorField — createIndex first"))
    val clustered = scope.view()
      .join(st.clusterMap, Seq(schema.pkField, schema.tsField), "left")
      .withColumn("_cluster",
        coalesce(col("_cluster"), IvfIndex.assign(st.model, col(vectorField))))
    IvfIndex.search(clustered, schema.pkField, vectorField, st.model,
      queries, "qid", "qvec", metric, k, nprobe, outputCols = hitFields(outputFields),
      roundTo = roundTo)
  }

  // ---- CDC / replication (reference: the CDC change feed + cluster
  // replication surface): every write appends to a changelog carrying
  // the ORIGINAL timestamps; a replica applies the feed verbatim, so
  // its MVCC view converges to the primary's — same LWW resolution,
  // same tombstone semantics, no re-stamping. The log is the WAL
  // analogue: at deployment scale it would be the streaming sink the
  // WAL already feeds (Streaming.dedupedIngest), sharing this format.
  // One entry per appended part ([[append]] is its only writer). Only
  // [[changesSince]] unions them, once per call: a union per write
  // would grow one plan that every later write re-analyzes.
  @volatile private var changeLog: Vector[DataFrame] = Vector.empty

  /** The ts of the most recent [[truncate]] (0 if never truncated) —
    * the earliest valid [[changesSince]] cursor.
    */
  def truncateTs: Long = truncateHorizon

  /** The one way a write reaches collection state (the WAL message that
    * feeds the growing segment, the delete buffer and the change feed):
    * rows join the growing tail (under the caller's column rule),
    * (pk, ts) tombstones the delete set and (pk, `_patch_<f>`,
    * `_patch_ts`) patches their field's log, each with its change-log
    * entry; the write ts advances to `ts` (alone: a DDL tick). Callers
    * run in [[mutate]].
    */
  private def append(ts: Long,
      rows: Option[DataFrame] = None,
      tombstones: Option[DataFrame] = None,
      patches: Map[String, DataFrame] = Map.empty,
      allowMissingColumns: Boolean = false): Unit = {
    rows.foreach { r =>
      growing = Some(growing.map(_.unionByName(r, allowMissingColumns)).getOrElse(r))
      changeLog :+= r.withColumn("_op", lit("insert"))
    }
    tombstones.foreach { t =>
      tombs = Some(tombs.map(_.unionByName(t)).getOrElse(t))
      changeLog :+= t.withColumn("_op", lit("delete"))
    }
    patches.foreach { case (field, p) =>
      colPatches += field -> colPatches.get(field).map(_.unionByName(p)).getOrElse(p)
      changeLog :+= p.select(col(schema.pkField), col("_patch_ts").as(schema.tsField),
        col(s"_patch_$field")).withColumn("_op", lit(s"patch:$field"))
    }
    lastWriteTs = math.max(lastWriteTs, ts)
  }

  /** The change feed strictly after `sinceTs` (op ∈ insert|delete, rows
    * with their original write ts). Feed it to [[applyChanges]] on a
    * replica; repeated incremental syncs use the last applied ts. A
    * cursor predating a truncate is refused — the surviving log cannot
    * reproduce the pre-truncate state, so a silent partial feed would
    * diverge the replica.
    */
  def changesSince(sinceTs: Long): DataFrame = {
    if (sinceTs < truncateHorizon) throw new IllegalStateException(
      s"changesSince($sinceTs) predates a truncate at ts=$truncateHorizon — " +
        "re-seed the replica from a snapshot instead of the change feed")
    val entries = changeLog
    if (entries.isEmpty) throw new IllegalStateException("no writes logged yet")
    val out = entries.reduceLeft(_.unionByName(_, allowMissingColumns = true))
      .filter(col(schema.tsField) > sinceTs)
    // TEXT-LOB payloads ship INLINE in the feed (the reference's
    // CDC carries full row data): a hidden `$lob_` ref is
    // meaningless outside THIS collection's blob store — a replica
    // applying raw refs would silently resolve null. The replica's
    // apply path re-externalizes into its own store; delete
    // entries carry null refs and fall through the left join.
    // The resolve is STRICT: after lobGc collects a superseded
    // payload, a re-seed feed (sinceTs=0) can no longer reproduce
    // the historical insert — raising here beats handing audit/ETL
    // consumers silently-nulled payloads (the same loud-failure
    // contract the truncate-horizon guard above gives row data).
    // no store at all = resolve against an EMPTY canonical store:
    // every surviving non-null ref takes the same loud dangling-ref
    // path through ONE strict-resolve implementation
    val store = lobStore.getOrElse {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("_lob_ref", "_lob_payload")
    }
    (schema.textFields.keySet ++ dynamicTextFields.keySet)
      .foldLeft(out) { (df, f) =>
        val ref = Collection.lobRefCol(f)
        if (df.columns.contains(ref))
          graft.operators.Lob.resolveTextStrict(df, store, f, ref,
            s"changesSince($sinceTs)")
        else df
      }
  }

  /** Apply a primary's change feed to THIS collection (the replica):
    * inserts land in the growing tail and deletes in the tombstone set
    * with their original timestamps; the local TSO advances past the
    * feed's horizon so subsequent local writes stay ordered after it.
    */
  def applyChanges(changes: DataFrame): Long = mutate {
    // a feed lands another collection's pre-stamped rows, like
    // importBinlog: the import privilege and write-deny quota gate it
    requirePriv("Import")
    val pinned = changes.localCheckpoint(true)
    // the apply is a local write and takes a local tick: feed rows keep
    // their ORIGIN timestamps (LWW convergence), which can all predate
    // this collection's own writes
    val arrivalTs = nextTs()
    // patch columns stay off the tail (a local insert's union is strict)
    val ins0 = pinned.filter(col("_op") === "insert")
      .drop("_op" +: pinned.columns.filter(_.startsWith("_patch_")).toSeq: _*)
    // keep partition tagging consistent with insert(): an untagged feed
    // (pre-partition primary) must not union a null column into growing
    val ins1 =
      if (ins0.columns.contains(Collection.PartitionCol)) ins0
      else ins0.withColumn(Collection.PartitionCol, lit(Collection.DefaultPartition))
    // feed payloads arrive INLINE (changesSince resolves at the source);
    // re-externalize into THIS replica's blob store so it keeps the same
    // LOB storage contract as a primary — original timestamps untouched.
    // A delete-only feed skips the split entirely (no empty checkpointed
    // deltas accumulating on the blob tail).
    val ins =
      if (textFieldSpecs.isEmpty || ins1.isEmpty) ins1
      else externalizeTextFields(ins1)
    val del = pinned.filter(col("_op") === "delete")
      .select(col(schema.pkField), col(schema.tsField))
    // mutable-column patch ops replicate like deletes: tiny (pk, ts,
    // value) rows re-entering the patch log with their ORIGIN ts
    val patchOps = pinned.filter(col("_op").startsWith("patch:"))
      .select(col("_op")).distinct().collect().map(_.getString(0))
    val patches = patchOps.map { op =>
      val field = op.stripPrefix("patch:")
      field -> pinned.filter(col("_op") === op)
        .select(col(schema.pkField), col(s"_patch_$field"),
          col(schema.tsField).as("_patch_ts"))
    }.toMap
    val feedMax = pinned.agg(max(col(schema.tsField))).head() match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    tso.accumulateAndGet(feedMax, (a, b) => math.max(a, b))
    // the parts enter THIS changelog with their origin ops and ts, so a
    // replica-of-replica reproduces the full state; like any local write
    // the apply moves the write ts (Strong read ts, TTL clock, next
    // index build's buildTs) at least to its own tick
    append(math.max(arrivalTs, feedMax), Some(ins).filterNot(_.isEmpty),
      Some(del).filterNot(_.isEmpty), patches, allowMissingColumns = true)
    feedMax
  }

  /** PK-cursor query iterator (reference query iterator,
    * plan.proto:377-381): next `batch` rows with pk beyond `lastPk`.
    */
  def queryIterator(
      filterExpr: String,
      outputFields: Seq[String],
      batch: Int,
      lastPk: Option[Any] = None,
      namespace: Option[String] = None,
      lastElementOffset: Option[Long] = None): DataFrame = {
    val scope = readScope("Query", namespace)
    validateResultWindow(0L, batch.toLong)
    // the element-offset half of the cursor (QueryIteratorCursor,
    // plan.proto:377-381; parseQueryIteratorCursor task_query.go:461-503)
    // resumes an element_filter iteration strictly after (pk, offset) —
    // one pk's elements can span pages
    lastElementOffset.foreach { o =>
      require(lastPk.isDefined,
        "incomplete query iterator cursor params: query_iter_last_pk and " +
          "query_iter_last_element_offset must be provided together")
      require(o >= 0,
        s"value for query iterator last element offset is invalid: $o")
    }
    // the pk cursor IS a pk lower bound: segments whose pk max sits at
    // or under the cursor fall off the file list as the iterator
    // advances (MEP 20260324's range shape) — intersected with any
    // pk domain the filter itself pins. With an element cursor the
    // boundary pk may still hold unread elements → INCLUSIVE bound.
    val cursorDom = lastPk.map { p =>
      val v: Any = p match { case i: Int => i.toLong; case x => x }
      graft.operators.PkPruning.Interval(
        Some((v, lastElementOffset.isDefined)), None)
    }
    val dom = (pkDomainOf(filterExpr), cursorDom) match {
      case (Some(a), Some(b)) =>
        Some(graft.operators.PkPruning.intersectDomains(a, b).getOrElse(b))
      case (a, b) => b.orElse(a)
    }
    val view = scope.view(pkDomain = dom)
    val base = filterOf(filterExpr).fold(view)(view.filter)
    val pkc = col(schema.pkField)
    elementRows(base, filterExpr, Map.empty, None) match {
      case Some(perElem) =>
        // per-element page in (pk, offset) order, like query()'s
        // element-root expansion
        val cursored = lastPk match {
          case Some(p) => lastElementOffset match {
            case Some(o) => perElem.filter(
              pkc > lit(p) || (pkc === lit(p) && col("offset") > lit(o)))
            case None => perElem.filter(pkc > lit(p))
          }
          case None => perElem
        }
        cursored.select(
          (schema.pkField +: outputFields.filterNot(_ == schema.pkField))
            .map(col) :+ col("offset").cast("long").as("offset"): _*)
          .orderBy(pkc, col("offset")).limit(batch)
      case None =>
        val cursored = lastPk match {
          case Some(p) => base.filter(pkc > lit(p))
          case None    => base
        }
        cursored.select(
          (schema.pkField +: outputFields.filterNot(_ == schema.pkField))
            .map(col): _*)
          .orderBy(pkc).limit(batch)
    }
  }
}

object Collection {

  /** The implicit partition every untagged row lands in (reference:
    * the `_default` partition every collection is born with).
    */
  val DefaultPartition = "_default"

  // quota defaults (quota_param.go:1445-1494) and the query_mode
  // collection property that switches to the large caps (common.go:353)
  // importJobReasonAbortedByUser (datacoord import job rollback)
  val ImportAbortedByUser = "aborted by user"
  val TopKLimit = 16384L                 // quotaAndLimits.limits.topK
  val LargeTopKLimit = 1000000L          // quotaAndLimits.limits.largeTopK
  val NQLimit = 16384L                   // quotaAndLimits.limits.nq
  val MaxQueryResultWindow = 16384L      // quotaAndLimits.limits.maxQueryResultWindow
  val LargeMaxQueryResultWindow = 1000000L
  val QueryModeKey = "query_mode"
  val QueryModeLargeTopK = "large_topk"

  /** parse_target_size (the pymilvus optimize() sugar, pinned by
    * test_milvus_client_optimize.py): "<decimal><unit>" with unit
    * B/KB/MB/GB/TB/PB, case-insensitive, whitespace-tolerant. Malformed
    * input is "Invalid target size"; anything resolving under 1MB is
    * "target size too small"; the MB count stays int64 so the
    * 9223372036854775807MB boundary parses without overflow.
    */
  private val TargetSizePattern =
    """(?i)^\s*([0-9]+(?:\.[0-9]+)?)\s*(B|KB|MB|GB|TB|PB)\s*$""".r

  def parseTargetSizeMb(s: String): Long = s match {
    case TargetSizePattern(num, unit) =>
      val factorMb: BigDecimal = unit.toUpperCase match {
        case "B"  => BigDecimal(1) / (1024 * 1024)
        case "KB" => BigDecimal(1) / 1024
        case "MB" => BigDecimal(1)
        case "GB" => BigDecimal(1024)
        case "TB" => BigDecimal(1024L * 1024)
        case "PB" => BigDecimal(1024L * 1024 * 1024)
      }
      val mb = BigDecimal(num) * factorMb
      if (mb < 1) throw new IllegalArgumentException(
        s"target size too small: '$s' resolves under 1MB")
      if (mb > BigDecimal(Long.MaxValue)) throw new IllegalArgumentException(
        s"Invalid target size '$s': exceeds the int64 MB range")
      mb.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    case _ => throw new IllegalArgumentException(
      s"Invalid target size format: '$s' " +
        "(expected <number><B|KB|MB|GB|TB|PB>)")
  }

  // multi-tenant namespaces (common.go:62-67)
  val NamespaceField = "$namespace_id"

  /** Hidden per-field LOB reference column for a TEXT field (the row's
    * digest pointer into the content-addressed blob store; null when
    * the value is inline). System column — resolved and dropped by the
    * read view, so it is never user-visible.
    */
  def lobRefCol(field: String): String = s"$$lob_$field"

  /** The blob-store directories an opened layout should read: flushes
    * append `gen-<ts>` DELTA dirs under `<path>/_lobs`; a [[Collection.lobGc]]
    * run writes a full `snap-<ts>` SNAPSHOT that supersedes everything
    * at or below its ts. Live store = latest snapshot (if any) plus
    * every gen delta written after it. Naming is the manifest — no
    * side file to keep transactional with the data.
    */
  private[graft] def lobLiveDirs(spark: SparkSession, path: String): Seq[String] = {
    val entries = tickedDirs(spark, s"$path/_lobs")
    val snapTs = entries.collect { case ("snap", ts, _) => ts }
      .maxOption.getOrElse(Long.MinValue)
    entries.collect {
      case ("snap", ts, p) if ts == snapTs => p
      case ("gen", ts, p) if ts > snapTs   => p
    }.sorted
  }

  /** The `<kind>-<tick>` subdirs of `dir` as (kind, tick, qualified
    * path); a missing dir has none, and a name whose suffix is not a
    * tick (empty, overlong, `merge-<tick>-<i>`) is skipped, never a
    * crash in open().
    */
  private def tickedDirs(spark: SparkSession, dir: String): Seq[(String, Long, String)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        p.getName.split("-", 2) match {
          case Array(kind, ts) => ts.toLongOption.map(n => (kind, n, p.toString))
          case _ => None
        }
      }
  }

  /** The delete set an opened layout seeds its tombstones from: each
    * flush with tombstones writes the collection's whole delete set to a
    * `del-<ts>` dir, and a compaction folds every tombstone into its
    * `run-<ts>` rewrite. Live = the newest `del-` dir above the newest
    * `run-` (a patch-fold `fold-` dir folds no deletes, so it supersedes
    * none); None when a compaction came last. Naming is the manifest,
    * like [[lobLiveDirs]].
    */
  private[graft] def liveDeleteDir(spark: SparkSession, path: String): Option[String] = {
    val entries = tickedDirs(spark, path)
    val runTs = entries.collect { case ("run", ts, _) => ts }
      .maxOption.getOrElse(Long.MinValue)
    entries.collect { case ("del", ts, p) if ts > runTs => (ts, p) }
      .maxOption.map(_._2)
  }
  val NamespaceModeKey = "namespace.mode"
  val NamespaceModePartitionKey = "partition_key"
  val NamespaceModePartition = "partition"

  /** RunAnalyzer RPC (reference `Proxy.RunAnalyzer` impl.go:6629):
    * tokenize ad-hoc texts under explicit analyzer params — the
    * tokenizer-debugging surface every client SDK exposes. One row per
    * (text_idx, position, token); `withHash` adds the 32-bit Murmur3
    * token hash (the reference's WithHash returns the token's u32
    * sparse dimension; this engine's sparse BM25 keys by term string,
    * so the hash is the dimension a hash-keyed client would use).
    */
  def runAnalyzer(spark: SparkSession, texts: Seq[String],
      analyzerParams: Map[String, String],
      withHash: Boolean = false): DataFrame = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("text_idx", "text")
    val toks = df.select(col("text_idx"),
      posexplode(graft.functions.Analyzers.analyzeWith(col("text"), analyzerParams))
        .as(Seq("position", "token")))
    if (withHash) toks.withColumn("token_hash", hash(col("token"))) else toks
  }
  /** Tag column carrying each row's named partition. */
  val PartitionCol = "_partition"

  /** The CONCRETE live directories a layout root resolves to AT THIS
    * MOMENT — a plain dir resolves to itself; an engine-written root
    * resolves to the newest `fold-`/`run-` rewrite (each one segment dir
    * of the same shape as a flushed `seg-`) plus the segments flushed
    * after it. Snapshot manifests record THIS list (a root reference
    * would re-resolve per read and see later rewrites).
    */
  private[graft] def resolveLayoutDirs(spark: SparkSession, path: String): Seq[String] = {
    val engineDirs = tickedDirs(spark, path)
      .filter { case (kind, _, _) => Seq("seg", "fold", "run").contains(kind) }
    // qualified URIs throughout (listStatus returns them): a caller
    // mixing raw and resolved entries must be able to dedupe by string
    if (engineDirs.isEmpty) {
      import org.apache.hadoop.fs.Path
      val root = new Path(path)
      Seq(root.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(root).toString)
    } else {
      val rewriteTs = engineDirs.collect {
        case ("fold" | "run", ts, _) => ts
      }.maxOption.getOrElse(Long.MinValue)
      engineDirs.collect {
        case ("seg", ts, p) if ts > rewriteTs => p
        case ("fold" | "run", ts, p) if ts == rewriteTs => p
      }.sorted
    }
  }

  /** Read a sealed layout directory, repairing the hive-recovered
    * partition tag's type: partition directory values are NAMES, never
    * numbers — an all-digit tenant id ("123" or "0123", legal per the
    * reference's validatePartitionTag, proxy/util.go:353-358) written
    * as `_partition=0123` would otherwise be type-inferred back as int
    * 123 and break the sealed∪growing union. The fix is a RE-READ with
    * an explicit user schema: Spark then parses each partition value
    * from the RAW directory string under the declared StringType, so
    * non-canonical numerics ("0123", "1e5") survive byte-exact — a
    * post-hoc cast of the inferred int would not.
    *
    * An ENGINE-WRITTEN layout root (flush `seg-<ts>` dirs, patch-fold
    * `fold-<ts>` dirs, compaction `run-<ts>` dirs, all written by one
    * writer in one shape) is read with supersession honored
    * ([[resolveLayoutDirs]]): a fold/run rewrite REPLACED every earlier
    * dir when it was written (`reseal(Vector(rewrite))`), so reopening
    * reads the newest rewrite plus only the segments flushed after it,
    * each dir on its own — reading superseded dirs too would resurrect
    * pre-rewrite row versions that share their timestamps with the
    * rewritten ones.
    */
  private[graft] def readLayoutAt(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructType}
    def readPlain(p: String): DataFrame = {
      val df = spark.read.parquet(p)
      if (df.columns.contains(PartitionCol) &&
          df.schema(PartitionCol).dataType != StringType) {
        val fixed = StructType(df.schema.map(f =>
          if (f.name == PartitionCol) f.copy(dataType = StringType)
          else f))
        spark.read.schema(fixed).parquet(p)
      } else df
    }
    resolveLayoutDirs(spark, path) match {
      case Seq(single) => readPlain(single)
      case dirs => dirs.map(readPlain)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** One snapshot's full read state: the manifested directory sets plus
    * the driver-side visibility state a file manifest can't carry (read
    * ts, truncate horizon, TTL ticks, dropped-field set, DDL-added TEXT
    * add timestamps). Persisted verbatim by [[writeSnapMeta]] so the
    * registry survives a restart.
    */
  private[graft] final case class SnapState(ts: Long, horizon: Long,
      ttlTicks: Option[Long], dropped: Seq[String],
      textAdds: Map[String, Long],
      masks: Map[String, (Long, String, String)], // field -> (addTs, type tag, value)
      dataDirs: Seq[String], lobDirs: Seq[String],
      tombsDir: Option[String], refsDir: Option[String],
      description: String = "", // user text, echoed by DescribeSnapshot (:491)
      partitions: Seq[String] = Nil, // named-partition DDL at snapshot time
      props: Map[String, String] = Map.empty) // collection properties at ts

  /** Serialize a DDL default for the snapshot meta record. Loud on
    * exotic types — a silently re-typed default is worse than a refused
    * snapshot.
    */
  private[graft] def encodeDefault(field: String, v: Any): (String, String) = v match {
    case null       => ("null", "")
    case b: Boolean => ("boolean", b.toString)
    case i: Int     => ("int", i.toString)
    case l: Long    => ("long", l.toString)
    case f: Float   => ("float", f.toString)
    case d: Double  => ("double", d.toString)
    case s: String  => ("string", s)
    case other => throw new IllegalArgumentException(
      s"snapshot cannot persist field '$field' default of type ${other.getClass.getName}")
  }

  private def decodeDefault(tag: String, v: String): Any = tag match {
    case "null"    => null
    case "boolean" => v.toBoolean
    case "int"     => v.toInt
    case "long"    => v.toLong
    case "float"   => v.toFloat
    case "double"  => v.toDouble
    case "string"  => v
    case other => throw new IllegalArgumentException(s"unknown default tag '$other'")
  }

  /** Snapshot-name rules (reference PR #47096 — snapshot names validate
    * under the standard naming rules; test_milvus_client_snapshot.py
    * :164-196, :1487, :1517): non-empty after trimming, first character
    * an ASCII letter or underscore, only ASCII letters/digits/
    * underscores, at most 255 characters. Error texts mirror the
    * reference's so contract tests match on substrings.
    */
  private[graft] def requireValidSnapshotName(id: String): Unit =
    requireValidName("snapshot", id)

  /** The standard naming rules, parameterized by the object kind (the
    * reference validates collection, partition, and snapshot names with
    * the same rule set — util/validators).
    */
  private[graft] def requireValidName(kind: String, id: String): Unit = {
    require(id != null && id.trim.nonEmpty, s"$kind name should be not empty")
    require(id.length <= 255,
      s"the length of $kind name must be not greater than limit (255)")
    def asciiLetter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    require(id.head == '_' || asciiLetter(id.head),
      s"the first character of $kind name must be an underscore or letter")
    require(id.forall(c => c == '_' || asciiLetter(c) || (c >= '0' && c <= '9')),
      s"$kind name can only contain numbers, letters and underscores")
  }

  // ---- restore-job registry (reference snapshot_manager.go's
  // RestoreSnapshotJob store: ListRestoreSnapshotJobs /
  // GetRestoreSnapshotState poll it; jobs are datacoord-global, not
  // per-collection, so the registry lives on the companion) ----

  /** One restore job's poll record (states RestoreSnapshotInProgress /
    * Completed / Failed; Pending never surfaces — this engine's restore
    * is synchronous, the zero-width-window device).
    */
  final case class RestoreJob(jobId: Long, snapshot: String,
      targetName: String, db: String, state: String, progress: Int,
      startTime: Long, timeCost: Long, reason: String = "")

  private[graft] val restoreJobs =
    new java.util.concurrent.ConcurrentHashMap[Long, RestoreJob]()
  private val restoreJobIds = new AtomicLong(0L)
  private[graft] def nextRestoreJobId(): Long = restoreJobIds.incrementAndGet()

  /** The registry keeps the newest [[RestoreJobCap]] TERMINAL records
    * (the reference's job store is reaped; a long-lived driver doing
    * periodic restores must not grow memory and listing cost without
    * bound). In-flight jobs are never evicted.
    */
  private[graft] val RestoreJobCap = 1024
  private[graft] def reapRestoreJobs(): Unit = {
    import scala.jdk.CollectionConverters._
    if (restoreJobs.size > RestoreJobCap) {
      restoreJobs.values.asScala.toSeq
        .filter(_.state != "RestoreSnapshotInProgress")
        .sortBy(_.jobId)
        .dropRight(RestoreJobCap)
        .foreach(j => restoreJobs.remove(j.jobId))
    }
  }

  private[graft] def requireDatabase(db: String): Unit =
    if (!databases.containsKey(db))
      throw new NoSuchElementException(s"database '$db' does not exist")

  // JVM-wide GC pause registry: qualified root path -> (ticket, until)
  // records (see the instance gcPause/gcResume/gcStatus docs — the
  // reference's pause lives in its single GC coordinator, so every
  // handle of a root must see it)
  private[graft] val gcPauseReg =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(String, Long)]]()

  // JVM-wide snapshot pin registry: (qualified root, snapshot id) ->
  // active restore/export pin count. Root-global for the same reason as
  // gcPauseReg: the `_dropped` marker and the retention sweep act on
  // the ROOT, so a pin taken through one handle must block
  // dropSnapshot through every handle of that root (PR #48143's race).
  private[graft] val snapshotPinReg =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  // in-flight restore target reservations: (db, target name). Taken
  // before the restore write, released by completeRestoreJob — the
  // loser of two concurrent restores to one target fails fast instead
  // of materializing a corpus it can never register.
  private[graft] val restoreReservations =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  // nondeterministic scalar functions as they render in Column.toString,
  // the clock functions included (each evaluation sees a new instant) —
  // the view-memo's refuse-to-cache guard (readViewUnscoped)
  private[graft] val nondetFnPattern = java.util.regex.Pattern.compile(
    "\\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|" +
      "current_timestamp|current_date|now|unix_timestamp|localtimestamp)\\(")

  /** The LRU memo behind both facade memos (filter results and read
    * views). An entry is pinned (persisted) on its `pinAtRead`th read —
    * the insert counts as the first, so 1 pins on insert — and a pinned
    * entry is unpersisted when it is evicted or cleared. A hit moves
    * its entry to the LRU tail. Not synchronized: the owning
    * collection calls it under its stateLock.
    */
  private final class PinnedLru[K](capacity: Int, pinAtRead: Int) {
    private val entries =
      scala.collection.mutable.LinkedHashMap.empty[K, (DataFrame, Int)]
    var hits = 0L
    var misses = 0L
    var evictions = 0L // capacity evictions only, never clears

    /** `key`'s entry (only a pinned one when `pinnedOnly`), as a read. */
    def get(key: K, pinnedOnly: Boolean = false): Option[DataFrame] =
      entries.get(key).filter(!pinnedOnly || _._2 >= pinAtRead) match {
        case Some((df, reads)) =>
          hits += 1
          entries.remove(key)
          entries.put(key, (df, reads + 1))
          if (reads + 1 == pinAtRead) pin(df)
          Some(df)
        case None =>
          misses += 1
          None
      }

    /** Adds `df` as `key`'s first read unless `key` is present, then
      * evicts least-recently-read entries down to capacity.
      */
    def put(key: K, df: DataFrame): Unit =
      if (!entries.contains(key)) {
        entries.put(key, (df, 1))
        if (pinAtRead == 1) pin(df)
        while (entries.size > capacity) {
          val (k, e) = entries.head
          release(e)
          entries.remove(k)
          evictions += 1
        }
      }

    def clear(): Unit = {
      entries.valuesIterator.foreach(release)
      entries.clear()
    }

    private def pin(df: DataFrame): Unit =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    private def release(e: (DataFrame, Int)): Unit =
      if (e._2 >= pinAtRead) e._1.unpersist()
  }

  // fixed schemas of engine-written metadata files: supplying them at
  // read time skips the parquet footer-inference job (guide: remove
  // work, then tune) — these files are written by THIS engine, so the
  // schema can never surprise us
  private[graft] val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dir",
      org.apache.spark.sql.types.StringType)))
  private[graft] val refsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_lob_ref",
      org.apache.spark.sql.types.StringType)))

  // per-root GC mutex: a sweep/lobGc holds it for its whole run and
  // gcPause acquires it before registering, so a RETURNED pause means
  // no reclamation is mid-flight on that root through ANY handle (the
  // reference's Pause blocks until the GC worker acks the command —
  // garbage_collector.go:309-334). Lock order is always
  // instance stateLock -> root lock; gcPause takes only the root lock.
  // deliberately never pruned: evicting a monitor while another thread
  // may be blocked on (or holding) it would break the pause handshake's
  // mutual exclusion — and the cost is one bare Object + key String per
  // DISTINCT root ever GC'd in this JVM, bounded by collection count,
  // not by call count
  private val gcRootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def gcRootLock(key: String): Object =
    gcRootLocks.computeIfAbsent(key, _ => new Object)

  private[graft] def qualifiedRoot(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** GetRestoreSnapshotState: the job's poll record; unknown job ids
    * error (test_milvus_client_snapshot.py:664).
    */
  def getRestoreSnapshotState(jobId: Long): RestoreJob = {
    val j = restoreJobs.get(jobId)
    if (j == null)
      throw new NoSuchElementException(s"restore job $jobId not found")
    j
  }

  /** ListRestoreSnapshotJobs, newest first; `db` filters to one
    * database's jobs (test :543 — a job recorded under one db must not
    * leak into another's listing), `None` lists all.
    */
  def listRestoreSnapshotJobs(db: Option[String] = None): Seq[RestoreJob] = {
    import scala.jdk.CollectionConverters._
    restoreJobs.values.asScala.toSeq
      .filter(j => db.forall(_ == j.db)).sortBy(-_.jobId)
  }

  private[graft] def writeSnapMeta(spark: SparkSession, dir: String,
      st: SnapState): Unit = {
    import spark.implicits._
    Seq((st.ts, st.horizon, st.ttlTicks, st.dropped, st.textAdds, st.masks,
        st.description, st.partitions, st.props))
      .toDF("snap_ts", "horizon", "ttl", "dropped", "text_adds", "masks",
        "description", "partitions", "props")
      .coalesce(1).write.parquet(dir)
  }

  private def readSnapMeta(spark: SparkSession, dir: String,
      dataDirs: Seq[String], lobDirs: Seq[String],
      tombsDir: Option[String], refsDir: Option[String]): SnapState = {
    val r = spark.read.parquet(dir).head()
    // field-guarded reads: an export written by an earlier meta schema
    // (fewer columns) must stay restorable — absent state reads empty
    def has(f: String) = r.schema.fieldNames.contains(f)
    val masks =
      if (!has("masks")) Map.empty[String, (Long, String, String)]
      else r.getMap[String, org.apache.spark.sql.Row](r.fieldIndex("masks"))
        .map { case (k, m) =>
          k -> ((m.getLong(0), m.getString(1), m.getString(2))) }.toMap
    SnapState(
      r.getAs[Long]("snap_ts"), r.getAs[Long]("horizon"),
      if (!has("ttl") || r.isNullAt(r.fieldIndex("ttl"))) None
      else Some(r.getAs[Long]("ttl")),
      if (has("dropped")) r.getSeq[String](r.fieldIndex("dropped")) else Nil,
      if (has("text_adds")) r.getMap[String, Long](r.fieldIndex("text_adds")).toMap
      else Map.empty,
      masks, dataDirs, lobDirs, tombsDir, refsDir,
      if (has("description")) r.getAs[String]("description") else "",
      if (has("partitions")) r.getSeq[String](r.fieldIndex("partitions")) else Nil,
      if (has("props")) r.getMap[String, String](r.fieldIndex("props")).toMap
      else Map.empty)
  }

  /** The maximum DIR-NAME tick of this layout (seg/fold/run/merge/del,
    * blob gen/snap). Snapshot read horizons are covered by the registry at
    * the call site. The TSO must reseed ABOVE all of them on open — see
    * the seeding comment at the tso declaration.
    */
  private[graft] def maxLayoutTick(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def dirTicks(dir: String, kinds: Set[String]): Seq[Long] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .flatMap(_.split("-", 3) match {
          case Array(k, ts) if kinds.contains(k) => ts.toLongOption
          // forceMerge writes `merge-<tick>-<i>` — the tick is the
          // middle component
          case Array(k, ts, _) if kinds.contains(k) => ts.toLongOption
          case _ => None
        })
    }
    // snapshot read horizons come from the already-loaded registry at
    // the (single) call site — no second pass over the meta parquets
    (dirTicks(path, Set("seg", "fold", "run", "merge", "del")) ++
      dirTicks(s"$path/_lobs", Set("gen", "snap")) :+ 0L).max
  }

  /** Rebuild the snapshot registry from `<path>/_snapshots/<id>` — each
    * snapshot dir's meta + manifest parquet is the durable record
    * (the reference keeps snapshot meta in the metastore; here the
    * layout IS the store), so an opened collection keeps pinning and
    * serving snapshots taken before the restart.
    */
  private[graft] def loadSnapshotRegistry(spark: SparkSession,
      path: String): Map[String, SnapState] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$path/_snapshots")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { d =>
      val id = d.getPath.getName
      val base = d.getPath.toString
      // a durably dropped snapshot (the `_dropped` marker) never
      // re-registers — without this, every reopen would resurrect it.
      // tolerate a half-written snapshot (crash between manifest and
      // meta): no meta, no registry entry — same as never created
      if (fs.exists(new Path(s"$base/_dropped"))) None
      else if (!fs.exists(new Path(s"$base/meta"))) None
      else {
        val man = spark.read.schema(manifestSchema)
          .parquet(s"$base/manifest").collect()
        def dirs(kind: String): Seq[String] = man
          .filter(_.getAs[String]("kind") == kind)
          .map(_.getAs[String]("dir")).toSeq.sorted
        val tombsDir =
          if (fs.exists(new Path(s"$base/tombs"))) Some(s"$base/tombs") else None
        val refsDir =
          if (fs.exists(new Path(s"$base/refs"))) Some(s"$base/refs") else None
        Some(id -> readSnapMeta(spark, s"$base/meta",
          dirs("data"), dirs("lob"), tombsDir, refsDir))
      }
    }.toMap
  }

  /** Assemble the read view of a MANIFESTED snapshot: union the
    * manifested segment dirs, apply the point-in-time MVCC collapse
    * (the snapshot's own tombstone cut and TTL, never the live set's),
    * re-apply the snapshot-time field DDL (dropped columns leave, a
    * DDL-added TEXT field's pre-add rows stay null), and resolve every
    * surviving `$lob_` ref against the manifested blob dirs — not the
    * live store, so later compaction/GC of the source collection cannot
    * reach it. Shared by [[Collection.readSnapshot]] and
    * [[Collection.openSnapshotExport]] (an export is the same shape
    * with the dirs relocated).
    */
  private[graft] def snapshotView(spark: SparkSession, schema: CollectionSchema,
      st: SnapState): DataFrame = {
    require(st.dataDirs.nonEmpty, "snapshot manifests no data directories")
    val data = st.dataDirs
      .map(d => GraftSession.normalizeTs(readLayoutAt(spark, d), Set(schema.tsField)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // the truncate horizon is driver state, not file state — a snapshot
    // taken after a truncate must not resurrect the cut rows
    val inWindow =
      if (st.horizon > 0L) data.filter(col(schema.tsField) > st.horizon)
      else data
    val snapTombs = st.tombsDir.map(spark.read.parquet(_))
    val visible = Mvcc.visible(inWindow, schema.pkField, schema.tsField,
      lit(st.ts), tombstones = snapTombs, ttl = st.ttlTicks.map(lit(_)))
    val collapsed = Mvcc.latestByPk(
      visible, schema.pkField, schema.tsField, schema.pkField)
    // snapshot-time DDL in the LIVE read's order — TEXT add-ts masks,
    // then payload resolve, then dropped columns leave, then DDL-added
    // defaults fill. A different order diverges: masking after resolve
    // would resurrect a re-added field's old payloads; dropping before
    // the textAdds fold would re-add a dropped TEXT field as nulls.
    val ddlMasked = maskTextAdds(collapsed, schema.tsField, st.textAdds)
    val store = st.lobDirs.map(spark.read.parquet(_))
      .reduceOption(_ unionByName _).map(_.dropDuplicates("_lob_ref"))
    // resolve by REF-COLUMN presence, not by the live schema's declared
    // TEXT fields — the snapshot is a point-in-time artifact and must
    // keep serving fields dropped (or re-typed) after it was taken
    val refCols = ddlMasked.columns.filter(_.startsWith("$lob_")).toSeq
    val resolved = store match {
      case Some(s) => refCols.foldLeft(ddlMasked) { (df, ref) =>
        val f = ref.stripPrefix("$lob_")
        if (df.columns.contains(f)) graft.operators.Lob.resolveText(df, s, f, ref)
        else df
      }
      case None => ddlMasked
    }
    val afterDrop = st.dropped.foldLeft(resolved) { (df, f) =>
      df.drop(f, lobRefCol(f))
    }
    val filled = st.masks.foldLeft(afterDrop) {
      case (df, (f, (addTs, tag, v))) =>
        val dflt = decodeDefault(tag, v)
        if (!df.columns.contains(f)) df.withColumn(f, lit(dflt))
        else df.withColumn(f,
          when(col(schema.tsField) >= lit(addTs), col(f)).otherwise(lit(dflt)))
    }
    filled.drop(filled.columns.filter(_.startsWith("$lob_")).toIndexedSeq: _*)
  }

  /** The DDL-added-TEXT ts mask (value AND hidden ref): rows older than
    * the add serve null, and a re-add after dropField cannot resurrect
    * the old column's payloads through the resolve join. ONE
    * implementation for the live read and the snapshot read.
    */
  private[graft] def maskTextAdds(df: DataFrame, tsField: String,
      textAdds: Map[String, Long]): DataFrame =
    textAdds.foldLeft(df) { case (d, (f, addTs)) =>
      val ref = lobRefCol(f)
      val masked =
        if (!d.columns.contains(f)) d.withColumn(f, lit(null).cast("string"))
        else d.withColumn(f, when(col(tsField) >= lit(addTs), col(f)))
      if (masked.columns.contains(ref))
        masked.withColumn(ref, when(col(tsField) >= lit(addTs), col(ref)))
      else masked
    }

  /** Open a directory written by [[Collection.exportSnapshot]] — fully
    * self-contained (20260609 snapshot-export design: restore works in
    * a different cluster with the source collection gone): the exported
    * segment dirs, blob dirs, tombstone cut, and the full visibility
    * meta all live under `destDir`; no manifest indirection, no source
    * `_lobs`.
    */
  def openSnapshotExport(spark: SparkSession, schema: CollectionSchema,
      destDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def subdirs(p: String): Seq[String] = {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) Nil
      else fs.listStatus(path).toSeq.filter(_.isDirectory)
        .map(_.getPath.toString).sorted
    }
    snapshotView(spark, schema, readSnapMeta(spark, s"$destDir/_meta",
      subdirs(s"$destDir/data"), subdirs(s"$destDir/_lobs"),
      subdirs(s"$destDir/_tombs").headOption, None))
  }

  /** Case-sensitive warmup policy validation (the reference rejects
    * "Sync", "", and unknown values with "invalid warmup policy").
    */
  private[graft] def requireWarmup(v: String, where: String): Unit =
    require(v == "sync" || v == "async" || v == "disable",
      s"invalid warmup policy '$v' for '$where' (sync | async | disable)")

  /** Create an empty collection (reference `CreateCollection`). */
  def create(spark: SparkSession, schema: CollectionSchema): Collection =
    new Collection(spark, schema, None)

  /** Open over an existing sealed parquet layout (external/bulk data). */
  def open(spark: SparkSession, schema: CollectionSchema, path: String): Collection =
    new Collection(spark, schema, Some(path))

  // ---- collection aliases (impl.go CreateAlias/DropAlias/AlterAlias) ----
  // The zero-downtime swap: clients address the alias, operators rebuild
  // into a fresh collection and re-point it. Resolution happens at call
  // time, so in-flight readers of the old target are unaffected.
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, Collection]()

  // ---- database namespaces (reference impl.go CreateDatabase /
  // DropDatabase / ListDatabases; collections are registered by name
  // inside a database — the rootcoord metastore's two-level namespace).
  private val databases =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentHashMap[String, Collection]]()
  databases.put("default", new java.util.concurrent.ConcurrentHashMap[String, Collection]())

  def createDatabase(db: String): Unit = {
    require(db.nonEmpty, "database name must be non-empty")
    val prev = databases.putIfAbsent(db,
      new java.util.concurrent.ConcurrentHashMap[String, Collection]())
    require(prev == null, s"database '$db' already exists")
  }

  // ---- database properties (reference impl.go AlterDatabase /
  // DescribeDatabase; key registry pkg/common: database.replica.number,
  // database.diskQuota.mb, database.max.collections,
  // database.force.deny.writing/reading). Metadata with one enforced
  // contract in this engine: database.max.collections caps
  // registerCollection, the rootcoord quota the reference enforces at
  // create time. Replica/disk-quota keys are serving-infra metadata —
  // stored and echoed, validated numeric.
  private val databaseProps =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  def alterDatabase(db: String, props: Map[String, String]): Unit = {
    if (!databases.containsKey(db))
      throw new NoSuchElementException(s"database '$db' does not exist")
    props.foreach { case (k, v) =>
      if (k == "database.max.collections" || k == "database.diskQuota.mb" ||
          k == "database.replica.number")
        require(scala.util.Try(v.toLong).toOption.exists(_ >= 0),
          s"$k must be a non-negative integer, got '$v'")
      if (k == "database.force.deny.writing" || k == "database.force.deny.reading")
        require(v == "true" || v == "false", s"$k must be true|false, got '$v'")
      if (k == "timezone") requireTimezone(v)
    }
    databaseProps.merge(db, props, (old, add) => old ++ add)
  }

  private[graft] def requireTimezone(v: String): Unit =
    require(scala.util.Try(java.time.ZoneId.of(v)).isSuccess,
      s"invalid timezone string '$v'")

  /** The database-level `timezone` property of the database holding
    * `c`, if any (the collection property overrides it; reference:
    * TimezoneKey resolution proxy/task.go:614).
    */
  private[graft] def databaseTimezoneOf(c: Collection): Option[String] = {
    import scala.jdk.CollectionConverters._
    databases.asScala.collectFirst {
      case (db, colls) if colls.values().asScala.exists(_ eq c) =>
        databaseProps.getOrDefault(db, Map.empty).get("timezone")
    }.flatten
  }

  def describeDatabase(db: String): Map[String, String] = {
    if (!databases.containsKey(db))
      throw new NoSuchElementException(s"database '$db' does not exist")
    databaseProps.getOrDefault(db, Map.empty)
  }

  /** Drop an EMPTY database (the reference refuses to drop a database
    * that still holds collections; `default` is undroppable).
    */
  def dropDatabase(db: String): Unit = {
    require(db != "default", "cannot drop the default database")
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    require(colls.isEmpty, s"database '$db' is not empty — drop its collections first")
    databases.remove(db)
  }

  def listDatabases: Seq[String] = {
    import scala.jdk.CollectionConverters._
    databases.keySet().asScala.toSeq.sorted
  }

  /** Register a collection under a name (CreateCollection's naming half
    * — [[create]] stays anonymous for library-style use).
    */
  def registerCollection(name: String, coll: Collection, db: String = "default"): Unit =
    register(name, coll, db, checkReservation = true)

  /** [[registerCollection]] for the restore completion path: the caller
    * HOLDS the (db, name) reservation, which is what makes the name
    * unavailable to everyone else — the reservation check must not
    * reject its own holder.
    */
  private[graft] def registerRestored(name: String, coll: Collection,
      db: String): Unit =
    register(name, coll, db, checkReservation = false)

  private def register(name: String, coll: Collection, db: String,
      checkReservation: Boolean): Unit = {
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    // cap check + insert under the db map's lock: two concurrent
    // registers at cap-1 must not both pass the size read
    colls.synchronized {
      // database.max.collections (rootcoord quota, enforced at create)
      databaseProps.getOrDefault(db, Map.empty).get("database.max.collections")
        .map(_.toLong).foreach(cap => require(colls.size < cap,
          s"database '$db' is at its max.collections cap ($cap)"))
      // a name with an in-flight restore is taken: without this check a
      // plain create during the restore window would win the name and
      // the restore would fail only AFTER materializing its corpus
      if (checkReservation)
        require(!restoreReservations.containsKey((db, name)),
          s"duplicate collection: '$db.$name' already exists " +
            "(a restore to this target is in progress)")
      val prev = colls.putIfAbsent(name, coll)
      require(prev == null, s"collection '$db.$name' already exists")
    }
  }

  def getCollection(name: String, db: String = "default"): Collection = {
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    val c = colls.get(name)
    if (c == null) throw new NoSuchElementException(s"collection '$db.$name' does not exist")
    c
  }

  /** BatchDescribeCollection (reference: impl.go
    * BatchDescribeCollection:864): describe several collections in one
    * call — a missing name yields a PER-ENTRY failure while the batch
    * itself succeeds (the reference packs an error status into that
    * entry's response), and an empty name list is rejected up front.
    */
  def batchDescribeCollection(names: Seq[String], db: String = "default")
      : Seq[(String, scala.util.Try[CollectionSchema])] = {
    require(names.nonEmpty, "collection names cannot be empty")
    names.map(n => n -> scala.util.Try(getCollection(n, db).schema))
  }

  def hasCollection(name: String, db: String = "default"): Boolean = {
    val colls = databases.get(db)
    colls != null && colls.containsKey(name)
  }

  def listCollections(db: String = "default"): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    colls.keySet().asScala.toSeq.sorted
  }

  /** RenameCollection (reference impl.go RenameCollection): the NAME
    * moves; aliases keep pointing at the object (they bind the
    * collection, not the name) and the target name must be free.
    */
  def renameCollection(oldName: String, newName: String,
      db: String = "default"): Unit = {
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    val c = colls.get(oldName)
    if (c == null) throw new NoSuchElementException(
      s"collection '$db.$oldName' does not exist")
    val prev = colls.putIfAbsent(newName, c)
    require(prev == null, s"collection '$db.$newName' already exists")
    colls.remove(oldName)
  }

  /** FlushAll (reference impl.go FlushAll): seal every registered
    * collection's growing tail, each into `baseDir/<name>`. Collections
    * with nothing growing are skipped. Returns the flushed names.
    */
  def flushAll(baseDir: String, db: String = "default"): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    colls.entrySet().asScala.toSeq.sortBy(_.getKey).flatMap { e =>
      if (e.getValue.hasGrowing) {
        e.getValue.flush(s"$baseDir/${e.getKey}")
        Some(e.getKey)
      } else None
    }
  }

  /** GetFlushAllState (reference impl.go): true once every collection
    * in the database has an empty growing tail — the state FlushAll
    * leaves behind.
    */
  def getFlushAllState(db: String = "default"): Boolean = {
    import scala.jdk.CollectionConverters._
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    colls.values().asScala.forall(!_.hasGrowing)
  }

  /** DescribeAlias (reference impl.go): the (database, collection)
    * registration the alias currently points at; an alias to an
    * unregistered collection reports the binding without a name.
    */
  def describeAlias(alias: String): (String, Option[String]) = {
    val target = resolve(alias) // errors on unknown alias
    import scala.jdk.CollectionConverters._
    val home = databases.entrySet().asScala.flatMap { db =>
      db.getValue.entrySet().asScala
        .find(_.getValue eq target).map(e => (db.getKey, e.getKey))
    }.headOption
    (home.map(_._1).getOrElse("default"), home.map(_._2))
  }

  /** GetVersion / CheckHealth (reference impl.go): static build info
    * and a liveness check — a single in-process engine is healthy
    * whenever it can answer.
    */
  val Version = "graft-0.8"
  def checkHealth: Boolean = true

  /** CalcDistance (reference impl.go CalcDistance — the pairwise
    * distance utility RPC): all left×right distances under `metric`.
    * Request-sized inputs (both sides are literals riding in the plan);
    * output (left_idx, right_idx, distance).
    */
  def calcDistance(spark: SparkSession, left: Seq[Array[Float]],
      right: Seq[Array[Float]], metric: Metric.Value): DataFrame = {
    import spark.implicits._
    val l = left.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("left_idx", "_lv")
    val r = right.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("right_idx", "_rv")
    l.crossJoin(r) // nq×nq literal sides — never corpus data
      .select(col("left_idx"), col("right_idx"),
        graft.functions.VectorFunctions.distance(col("_lv"), col("_rv"), metric)
          .as("distance"))
  }

  /** Drop a registered collection: unregister, drop aliases pointing at
    * it, and release every executor cache block it holds (DropCollection
    * releases the collection's segments and indexes in the reference).
    */
  def dropCollection(name: String, db: String = "default"): Unit = {
    val colls = databases.get(db)
    if (colls == null) throw new NoSuchElementException(s"database '$db' does not exist")
    val c = colls.remove(name)
    if (c == null) throw new NoSuchElementException(s"collection '$db.$name' does not exist")
    import scala.jdk.CollectionConverters._
    aliases.entrySet().asScala.filter(_.getValue eq c)
      .map(_.getKey).foreach(aliases.remove)
    c.close()
  }

  /** Register a new alias; rejects an existing name (the reference
    * errors on duplicate CreateAlias — re-pointing is [[alterAlias]]).
    */
  def createAlias(name: String, target: Collection): Unit = {
    val prev = aliases.putIfAbsent(name, target)
    require(prev == null, s"alias '$name' already exists — use alterAlias to re-point it")
  }

  /** Atomically re-point an existing alias. */
  def alterAlias(name: String, target: Collection): Unit = {
    val prev = aliases.replace(name, target)
    if (prev == null) throw new NoSuchElementException(s"alias '$name' does not exist")
  }

  def dropAlias(name: String): Unit =
    if (aliases.remove(name) == null)
      throw new NoSuchElementException(s"alias '$name' does not exist")

  /** Resolve an alias to its current target. */
  def resolve(name: String): Collection = {
    val c = aliases.get(name)
    if (c == null) throw new NoSuchElementException(s"alias '$name' does not exist")
    c
  }

  /** ListAliases (reference impl.go): every alias currently pointing at
    * `target`, sorted.
    */
  def listAliases(target: Collection): Seq[String] = {
    import scala.jdk.CollectionConverters._
    aliases.entrySet().asScala.filter(_.getValue eq target)
      .map(_.getKey).toSeq.sorted
  }

  private[graft] val WritePrivileges: Set[String] =
    Set("Insert", "Delete", "Upsert", "Import")
  private[graft] val ReadPrivileges: Set[String] =
    Set("Query", "Search")

  /** Enforce a database force-deny quota state for every database the
    * collection is registered in (an unregistered collection has no
    * database scope and is never denied).
    */
  private[graft] def requireDbAllows(c: Collection, key: String,
      verb: String): Unit = {
    import scala.jdk.CollectionConverters._
    databases.entrySet().asScala.foreach { db =>
      if (db.getValue.containsValue(c) &&
          databaseProps.getOrDefault(db.getKey, Map.empty).get(key)
            .contains("true"))
        throw new IllegalStateException(
          s"quota exceeded: database '${db.getKey}' denies $verb ($key=true)")
    }
  }

  /** One sub-field of a struct-array field (reference: the struct
    * schema inside AddCollectionStructFieldRequest — name, DataType,
    * type params like max_length / dim).
    */
  final case class StructSubField(name: String, dataType: String,
      params: Map[String, String] = Map.empty)

  /** Sub-field DataTypes AddCollectionStructField accepts (the
    * reference's struct element schema: scalars + float vectors).
    */
  val StructSubFieldTypes: Set[String] = Set(
    "Bool", "Int8", "Int16", "Int32", "Int64", "Float", "Double",
    "VarChar", "FloatVector")

  /** The DescribeIndex result (indexpb.IndexInfo stats subset). */
  final case class IndexDescription(
      field: String,
      indexType: String,
      nlist: Int,
      indexedRows: Long,
      pendingRows: Long,
      totalRows: Long,
      buildTs: Long)
}
