package graft.sinks

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.StoreSchemas
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's document sink — the Spark-native replacement for the
  * reference's Elasticsearch connector (reference: src/es_connector.py:
  * 21-95: index create/delete with mapping DDL, single + bulk index with
  * partial-failure tolerance, count verification).
  *
  * In this offline lake the "index" is a parquet directory plus two
  * sidecars:
  *   - `_mapping.json` — the ES-style typed mapping derived from the
  *     DataFrame schema (the moral equivalent of the reference's
  *     hand-maintained mapping dicts, src/ticket_sync.py:29-62, and its
  *     SQL-type→ES-type cascade, data_lake_sync.py:94-117 — except
  *     derived, so it can never drift),
  *   - `_meta.json` — doc count + write mode for count verification
  *     (reference: src/es_connector.py:76-83), and the resolved line's
  *     schema, which every store read uses instead of inferring one
  *     (see [[lineSchema]]).
  *
  * Semantics preserved from the reference:
  *   - drop-and-recreate ⇒ `SaveMode.Overwrite` (src/es_connector.py:23-25
  *     deletes the index if it exists) — destructive, kept explicit;
  *   - append-only historized sync vs upsert-by-id: the *caller* chooses
  *     the id strategy ([[DocId]]); `Upsert` lands the batch as an
  *     O(request) LSM delta generation resolved latest-wins at read
  *     time and folded into the base by threshold compaction (see the
  *     log-structured-store section — at scale the same logical
  *     contract is a Delta/Iceberg MERGE);
  *   - bulk partial-failure side-channel (src/es_connector.py:62-68
  *     `raise_on_error=False`) ⇒ [[validatedWrite]] splits invalid rows
  *     to a quarantine directory instead of failing the job.
  *
  * Scale: a write is executor-parallel (one file per partition, no
  * driver materialization); row counts come from an `observe` metric on
  * the write job itself — never from re-reading what was just written
  * (which, for an Append-mode index, would re-scan every prior
  * generation: a second full-index pass per write at 100 TB). The
  * mapping/meta sidecars are driver-side metadata only. Partition count
  * = upstream partitioning — callers repartition by the sink's read
  * pattern, not here.
  */
object DocumentSink {

  /** Document-id strategies (reference: content hash
    * data_lake_sync.py:72-82; `{id}_{ts}` src/ticket_sync.py:138; bare id
    * upsert src/routes/ticket_routes.py:91-96). */
  sealed trait DocId
  case object ContentHash extends DocId
  final case class IdTimestamp(idCol: String, runTs: String) extends DocId
  final case class BareId(idCol: String) extends DocId

  /** Add the `document_id` column per strategy. Content hash covers every
    * column (same record+state ⇒ same id ⇒ idempotent re-syncs). */
  def withDocId(df: DataFrame, strategy: DocId): DataFrame = strategy match {
    case ContentHash =>
      df.withColumn("document_id",
        md5(to_json(struct(df.columns.toSeq.map(col): _*))))
    case IdTimestamp(idCol, runTs) =>
      df.withColumn("document_id", concat_ws("_", col(idCol), lit(runTs)))
    case BareId(idCol) =>
      df.withColumn("document_id", col(idCol).cast("string"))
  }

  /** Spark type → ES-style mapping type (the reference's substring
    * cascade, data_lake_sync.py:101-110, made total and typed). Spark
    * collapses the reference's varchar/text/json SQL-type distinction
    * into one StringType, so the string-column split (varchar→`keyword`,
    * text→`text`, json→`object`) is carried by per-field overrides —
    * see [[mappingJson]] and [[graft.catalog.EntityCatalog.fieldTypes]].
    * A bare string with no hint maps to `text`, the reference's own
    * fallback arm. */
  def esType(dt: DataType): String = dt match {
    case StringType => "text"
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "integer"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType | _: DecimalType => "double"
    case DateType | TimestampType | TimestampNTZType => "date"
    case BinaryType => "binary"
    case _: ArrayType | _: MapType | _: StructType => "object"
    case _ => "text"
  }

  /** Full field mapping for one column, recursing into structure the way
    * ES does (reference labels mapping, src/ticket_sync.py:44-49):
    * array-of-struct → `nested` + recursive properties, struct →
    * `object` + recursive properties, scalar array → the element type
    * (ES arrays are implicit — every field may be multi-valued). */
  def fieldMapping(dt: DataType): String = dt match {
    case ArrayType(st: StructType, _) =>
      s"""{"type": "nested", "properties": ${properties(st)}}"""
    case st: StructType =>
      s"""{"type": "object", "properties": ${properties(st)}}"""
    case ArrayType(el, _) => fieldMapping(el)
    case other => s"""{"type": "${esType(other)}"}"""
  }

  private def properties(st: StructType): String =
    st.fields.map(f => s""""${f.name}": ${fieldMapping(f.dataType)}""")
      .mkString("{", ", ", "}")

  /** ES-style mapping JSON for `schema`; `fieldTypes` overrides the
    * derived type per column name (the varchar→keyword / json→object
    * fidelity the schema alone cannot express). An override wins
    * wholesale — it names leaf-typed fields, never structured ones. */
  def mappingJson(schema: StructType,
                  fieldTypes: Map[String, String] = Map.empty): String =
    schema.fields.map(f =>
      s""""${f.name}": ${
        fieldTypes.get(f.name).map(t => s"""{"type": "$t"}""")
          .getOrElse(fieldMapping(f.dataType))}""")
      .mkString("{\"properties\": {", ", ", "}}")

  /** Rows written by THIS call, counted from the write job itself via a
    * `Dataset.observe` metric — the write's own CollectMetrics node, no
    * post-write re-scan. The listener bus is asynchronous, so the metric
    * is awaited briefly; if it never arrives the count falls back to a
    * directory read (correctness over speed, and only on that error
    * path). */
  private def writeCounted(df: DataFrame, dataPath: String,
                           mode: SaveMode,
                           partitionCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val metricName =
      "graft_rows_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val counted = new java.util.concurrent.atomic.AtomicLong(-1L)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(metricName).foreach { row =>
          counted.set(row.getLong(0)); latch.countDown()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val w = df.observe(metricName,
          org.apache.spark.sql.functions.count(lit(1)).as("rows"))
        .write.mode(mode)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
       else w).parquet(dataPath)
      latch.await(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    } finally spark.listenerManager.unregister(listener)
    if (counted.get() >= 0) counted.get()
    else spark.read.parquet(dataPath).count()
  }

  /** Write `df` as an index at `path`. Overwrite = the reference's
    * drop-and-recreate; Append = historized sync runs. Returns the doc
    * count written BY THIS CALL (`bulk_index`'s success count); for the
    * whole-index total under Append use [[count]]. `fieldTypes` refines
    * the sidecar mapping per column (keyword/text/object — see
    * [[esType]]). */
  def save(df: DataFrame, path: String,
           mode: SaveMode = SaveMode.Overwrite,
           fieldTypes: Map[String, String] = Map.empty,
           bucketByDocId: Boolean = false): Long = {
    // drop-and-recreate DROPS pending API-write deltas too — that is
    // the declared semantics (the reference deletes the ES index);
    // Append (historized sync, ids unique by construction) leaves
    // them in place
    // the schema is recorded BEFORE the data lands, so a crash leaves
    // a superset (absent columns read as null): an Overwrite first
    // drops the old record (a crash then reads the inferred schema),
    // an Append records the union of the stored schema and its own
    val spark = df.sparkSession
    val own = StoreSchemas.asRead(df.schema)
    val schema =
      if (mode == SaveMode.Overwrite) {
        val fs = hadoopFs(spark, path)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/data_delta"), true)
        Files.deleteIfExists(Paths.get(s"$path/_meta.json"))
        own
      } else {
        val s = lineSchema(spark, path)
          .fold(own)(StoreSchemas.union(spark, _, own))
        readMeta(path).foreach(m => writeMeta(path, m.copy(schema = Some(s))))
        s
      }
    // `_bucket` is the store's internal layout column — a document
    // field by that name would be hijacked as the partition column
    // and then silently dropped from every read: reserved, like
    // _op/_seq on the delta line
    require(!df.columns.contains("_bucket"),
      "_bucket is a reserved store-layout column name")
    // the base goes BUCKETED (hive-partitioned on the id hash) when
    // an OVERWRITE opts in (API-writable stores — upsert bootstrap;
    // compaction writes the layout itself) or when APPENDING to an
    // already-bucketed base (a flat append into a partitioned
    // directory would corrupt the layout — and symmetrically, an
    // Append NEVER introduces bucketing onto a flat base: it follows
    // whatever layout exists); the batch-sync default stays flat
    val bucketed =
      (if (mode == SaveMode.Append) storeBuckets(path).isDefined
       else bucketByDocId) &&
        df.columns.contains("document_id")
    val n =
      if (!bucketed) {
        if (mode == SaveMode.Overwrite)
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$path/_layout.json"))
        writeCounted(df, s"$path/data", mode)
      } else {
        val buckets =
          (if (mode == SaveMode.Append) storeBuckets(path) else None)
            .getOrElse(StoreBuckets)
        val c = writeCounted(
          df.withColumn("_bucket",
            pmod(hash(col("document_id")), lit(buckets))),
          s"$path/data", mode, partitionCols = Seq("_bucket"))
        writeSidecar(s"$path/_layout.json",
          s"""{"buckets": $buckets}""")
        c
      }
    writeSidecar(s"$path/_mapping.json", mappingJson(df.schema, fieldTypes))
    writeMeta(path, Meta(n, mode.name.toLowerCase, Some(schema)))
    // write-time search-index maintenance (ES builds its inverted index
    // inside bulk_index — src/es_connector.py:51-74): an adjacent index
    // previously built by SearchIndex.build stays in lockstep with the
    // documents — rebuilt on Overwrite (the docs were replaced), delta-
    // updated on Append (historized ids are unique, so upsert = add)
    val idx = s"$path/_search_index"
    if (SearchIndex.exists(idx)) {
      val meta = SearchIndex.readMeta(idx)
      if (mode == SaveMode.Append) SearchIndex.upsert(df, idx)
      else SearchIndex.build(df, meta.fields, meta.idCol, idx,
        meta.analyzer, meta.custom, meta.searchAnalyzer)
    }
    n
  }

  /** Bulk write with the reference's partial-failure contract: rows
    * failing `requiredCols` non-null validation go to `path/_errors`
    * instead of failing the job; returns (successCount, failedCount)
    * for THIS batch exactly like `bulk_index` (src/es_connector.py:
    * 51-74) — both counts ride the write jobs' observe metrics, neither
    * directory is re-read. An empty `requiredCols` means every row is
    * valid (fold from `lit(true)`). */
  def validatedWrite(df: DataFrame, path: String,
                     requiredCols: Seq[String],
                     mode: SaveMode = SaveMode.Overwrite,
                     fieldTypes: Map[String, String] = Map.empty): (Long, Long) = {
    val okPred = requiredCols.foldLeft(lit(true))(_ && col(_).isNotNull)
    val ok = df.filter(okPred)
    val bad = df.filter(!okPred)
    val n = save(ok, path, mode, fieldTypes)
    val nBad = writeCounted(bad, s"$path/_errors", mode)
    (n, nBad)
  }

  /** The bucket count of the store's CURRENT base layout (the
    * `_layout.json` sidecar written beside a hive-partitioned base),
    * or None for the flat layout. The sidecar — not a constant — is
    * what the probes hash against, so changing [[StoreBuckets]]
    * across versions can never mis-route a probe on an older
    * store's layout. */
  private[graft] def storeBuckets(path: String): Option[Int] = {
    val p = Paths.get(s"$path/_layout.json")
    if (!Files.exists(p)) None
    else "\"buckets\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
      .map(_.group(1).toInt)
  }

  /** Buckets the store's base by `document_id` — write once, prune
    * every point probe after. 32 suits the request-sized id lists of
    * the API write path at any store size the tests run; a 100 TB
    * deployment sizes it so one bucket is a few hundred MB (the same
    * rule as [[Lake.writeBucketed]]) — the sidecar, not this
    * constant, governs existing layouts. */
  private[graft] val StoreBuckets = 32

  // ---- the LOG-STRUCTURED store (round 17) -------------------------
  //
  // Until round 16, [[upsert]]/[[deleteByIds]] rewrote the ENTIRE
  // store per API write (left-anti + union + crash-safe swap) —
  // correct, but O(store) per request: the exact cost class the
  // `_versions` sidecar escaped in round 16. The store now rides the
  // same LSM shape: each write request stages its batch to a temp dir
  // and lands it as ONE atomically-renamed delta GENERATION under
  // `{path}/data_delta/delta-NNNNNN` (doc columns + `_op`
  // upsert|delete + `_seq`, the generation's monotonic number) —
  // O(request) written bytes. The current document line is
  //
  //   base `data`  minus  delta-touched ids  union  the latest
  //   generation's rows per id (tombstones drop the id),
  //
  // resolved by [[readOpt]]: the delta side is at most
  // [[StoreCompactThreshold]] request-sized generations, so the
  // resolve is a BROADCAST anti-join against the base scan — one
  // pass, no corpus shuffle, and the zero-delta fast path is the
  // plain base read. Once the threshold accumulates, the write folds
  // the line into a new base through [[Lake.swapIn]]'s crash-safe
  // two-rename and clears the deltas. Crash windows are benign: a
  // crash before the delta rename leaves an invisible dot-dir; after
  // the compaction swap but before the delta delete, the deltas
  // REPLAY idempotently (latest-generation-wins is unchanged when the
  // base already equals the fold). On object stores without atomic
  // rename the same logical contract lands on a Delta/Iceberg table.

  /** Delta generations folded into the base per compaction — bounds
    * both the per-request write cost (one staged rename) and the
    * read fan-in (at most this many request-sized generations beside
    * one base snapshot). */
  private[graft] val StoreCompactThreshold = 16

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def deltaGens(fs: org.apache.hadoop.fs.FileSystem,
                        deltaRoot: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(deltaRoot)) Seq.empty
    else fs.listStatus(deltaRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("delta-"))
      .map(_.getPath.getName.stripPrefix("delta-").toLong)

  /** The CURRENT document line of the store at `path` — base ∪ delta
    * generations with the latest generation winning per document_id
    * and delete tombstones dropped — or None iff nothing was ever
    * written. Zero deltas (a freshly-synced or just-compacted store)
    * is the fast path: the plain base read, no joins. Base and deltas
    * are read with the line's [[lineSchema]], so a read plans without
    * listing footers and runs no schema-inference job.
    *
    * SCHEMA semantics (decided round 18): the line is the
    * union-by-name of every live generation, so a column whose last
    * carrier was deleted SURVIVES as nulls — through compaction
    * (the fold rewrites the resolved line, nulls included) until an
    * explicit drop-and-recreate resets the store. This is
    * deliberately the ES mapping contract: an ES mapping never
    * loses a field once added, and deleting the docs that carried
    * it leaves the field in the mapping. The alternative —
    * projecting reads to the `_mapping.json` field list so departed
    * columns vanish — was considered and rejected: it would make
    * the read depend on a sidecar that is advisory metadata
    * everywhere else, and would DIVERGE from ES. Spec-pinned in
    * DocumentSinkSpec ("refresh the mapping sidecar" test). */
  def readOpt(spark: org.apache.spark.sql.SparkSession,
              path: String): Option[DataFrame] = {
    val fs = hadoopFs(spark, path)
    val bp = new org.apache.hadoop.fs.Path(s"$path/data")
    val hasBase = fs.exists(bp)
    val gens = deltaGens(fs, new org.apache.hadoop.fs.Path(s"$path/data_delta"))
    if (!hasBase && gens.isEmpty) return None
    val schema = lineSchema(spark, path).get
    // a bucketed base carries its hash-partition column — an
    // internal layout detail, never part of the document line
    lazy val base =
      spark.read.schema(schema).parquet(bp.toString).drop("_bucket")
    if (gens.isEmpty) return Some(base)
    // generations are request-sized and bounded by the compaction
    // threshold — everything delta-side is SMALL
    val deltas = deltaFrame(spark, path, gens, schema)
    val winners = latest(deltas)
    val touched = deltas.select("document_id").distinct()
    if (!hasBase) return Some(winners)
    // an expression join keeps the base's column order, the schema's
    Some(base
      .join(broadcast(touched),
        base("document_id") === touched("document_id"), "left_anti")
      .unionByName(winners))
  }

  /** The resolved line's schema — what [[readOpt]] and [[lookup]]
    * read with — or None iff nothing was ever written.
    *
    * Every write records it in `_meta.json` (`"schema"`, Spark's DDL
    * form, every field nullable as parquet reads it) as the union of
    * the stored schema and the landed generation's, computed from the
    * two schemas without a read. The union only grows — the ES mapping
    * contract above — and it is recorded BEFORE the generation's
    * rename (an Append: before its data; an Overwrite drops the record
    * first), so a crash leaves a superset whose extra columns read as
    * null, never a subset that would hide a landed column.
    *
    * A store written before the schema was recorded has no field; for
    * it the schema is inferred as the line was always read — the
    * base's footer schema, then the delta generations' merged footers,
    * unioned by name — and the store's next write records it. */
  def lineSchema(spark: org.apache.spark.sql.SparkSession,
                 path: String): Option[StructType] = {
    val fs = hadoopFs(spark, path)
    val bp = new org.apache.hadoop.fs.Path(s"$path/data")
    val dp = new org.apache.hadoop.fs.Path(s"$path/data_delta")
    val hasBase = fs.exists(bp)
    val hasDelta = deltaGens(fs, dp).nonEmpty
    if (!hasBase && !hasDelta) None
    else readMeta(path).flatMap(_.schema).orElse {
      val base = Option.when(hasBase)(
        spark.read.parquet(bp.toString).drop("_bucket").schema)
      val delta = Option.when(hasDelta)(
        spark.read.option("recursiveFileLookup", "true")
          .option("mergeSchema", "true").parquet(dp.toString)
          .drop("_op", "_seq").schema)
      (base ++ delta).reduceOption(StoreSchemas.union(spark, _, _))
    }
  }

  /** The delta generations `gens` read with the line's `schema` plus
    * the log columns; a column a generation never carried reads as
    * null. */
  private def deltaFrame(spark: org.apache.spark.sql.SparkSession,
                         path: String, gens: Seq[Long],
                         schema: StructType): DataFrame =
    spark.read.schema(schema.add("_op", StringType).add("_seq", LongType))
      .parquet(gens.sorted.map(g => s"$path/data_delta/" + f"delta-$g%06d"): _*)

  /** Latest generation wins per document_id (every row of the winning
    * generation, as a batch repeating an id landed them) and
    * tombstones drop; the log columns go. */
  private def latest(rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("document_id"))
    rows
      .withColumn("_wseq", max(col("_seq")).over(w))
      .filter(col("_seq") === col("_wseq") && col("_op") === "upsert")
      .drop("_op", "_seq", "_wseq")
  }

  /** [[readOpt]] for a store known to exist. */
  def read(spark: org.apache.spark.sql.SparkSession,
           path: String): DataFrame =
    readOpt(spark, path).getOrElse(
      throw new IllegalStateException(s"no document store at $path"))

  /** The `_meta.json` sidecar: the last writer's doc count and mode,
    * and the line's schema (None on a store written before it was
    * recorded — see [[lineSchema]]). */
  private final case class Meta(docCount: Long, mode: String,
                                schema: Option[StructType])

  /** The store's `_meta.json`; a missing or unparsable one (a crash
    * mid-write) is absent — counts and schema then come from the data. */
  private def readMeta(path: String): Option[Meta] = {
    val p = Paths.get(s"$path/_meta.json")
    if (!Files.exists(p)) None
    else scala.util.Try {
      val n = Json.readTree(p.toFile)
      Meta(n.get("doc_count").asLong, n.get("mode").asText,
        Option(n.get("schema")).map(d => StructType.fromDDL(d.asText)))
    }.toOption
  }

  private def writeMeta(path: String, m: Meta): Unit =
    writeSidecar(s"$path/_meta.json",
      s"""{"doc_count": ${m.docCount}, "mode": "${m.mode}"${
        m.schema.fold("")(s => ", \"schema\": " +
          Json.writeValueAsString(s.toDDL))}}""")

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The store's current doc count as the LAST WRITER recorded it —
    * the arithmetic the O(request) write path maintains. A sidecar
    * written by an Append-mode batch sync records only that call's
    * rows, so it cannot seed the arithmetic — fall back to one
    * resolved count (and the next write re-records the total). */
  private def metaDocCount(spark: org.apache.spark.sql.SparkSession,
                           path: String): Long =
    readMeta(path).filter(_.mode == "overwrite").map(_.docCount)
      .getOrElse(read(spark, path).count())

  /** Stage `df` (already carrying `_op`/`_seq`), record `meta` (the
    * line's schema grown by this generation) and land it as delta
    * generation `seq` with ONE atomic rename. Returns the row count
    * (from the staging write's own observe metric). */
  private def appendDelta(df: DataFrame, path: String,
                          seq: Long, meta: Meta): Long = {
    val spark = df.sparkSession
    val fs = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.delta_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val n = writeCounted(df, tmp.toString, SaveMode.Overwrite)
    writeMeta(path, meta)
    val root = new org.apache.hadoop.fs.Path(s"$path/data_delta")
    fs.mkdirs(root)
    val dest = new org.apache.hadoop.fs.Path(root, f"delta-$seq%06d")
    // collision guard: the store is single-writer by contract (the
    // HTTP layer's write lock; batch sync is one process), but a
    // second writer racing the same seq must fail LOUD — Hadoop
    // rename onto an existing directory NESTS the source inside it
    // and returns true, which would silently lose this batch
    if (fs.exists(dest) || !fs.rename(tmp, dest) ||
        fs.exists(new org.apache.hadoop.fs.Path(dest, tmp.getName)))
      throw new IllegalStateException(
        s"delta generation collision or rename failure at $dest " +
        "(concurrent writer? the store is single-writer)")
    n
  }

  /** Fold the delta generations into a new base once the threshold
    * accumulates: resolved line → staged write → [[Lake.swapIn]] →
    * clear deltas. The fold's own count re-records the exact total
    * (healing any arithmetic lost to a crashed sidecar write); the
    * schema is the line's, unchanged. The new base is written
    * BUCKETED on the id hash (preserving — or, for a pre-round-18
    * flat store, establishing — the layout the write-path probes
    * prune against). */
  private def compactStoreIfNeeded(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val dp = new org.apache.hadoop.fs.Path(s"$path/data_delta")
    if (deltaGens(fs, dp).size < StoreCompactThreshold) return
    val line = read(spark, path)
    val buckets = storeBuckets(path).getOrElse(StoreBuckets)
    val tmp =
      s"$path/.data_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    val n = writeCounted(
      line.withColumn("_bucket",
        pmod(hash(col("document_id")), lit(buckets))),
      tmp, SaveMode.Overwrite, partitionCols = Seq("_bucket"))
    Lake.swapIn(fs, new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$path/data"))
    fs.delete(dp, true)
    writeSidecar(s"$path/_layout.json", s"""{"buckets": $buckets}""")
    writeMeta(path, Meta(n, "overwrite", Some(line.schema)))
  }

  /** Does ANY generation of the store exist (base or delta)? The
    * cheap existence test [[write]]'s bootstrap decision needs —
    * [[readOpt]] answers the same question but builds the whole
    * resolved-line plan to do it. */
  private def storeExists(spark: org.apache.spark.sql.SparkSession,
                          path: String): Boolean = {
    val fs = hadoopFs(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/data")) ||
      deltaGens(fs,
        new org.apache.hadoop.fs.Path(s"$path/data_delta")).nonEmpty
  }

  /** The current line's rows of `ids` — the rows
    * `read(spark, path).filter(document_id ∈ ids)` returns — or None
    * iff nothing was ever written: the one id-lookup path of point
    * reads ([[idsInLineFrame]] at the newest generation). */
  def lookup(spark: org.apache.spark.sql.SparkSession, path: String,
             ids: Seq[String]): Option[DataFrame] =
    Option.when(storeExists(spark, path))(
      idsInLineFrame(spark, path, ids, belowSeq = Long.MaxValue))

  /** The store's line as of just BEFORE delta generation `belowSeq`,
    * RESTRICTED to `ids`: the base rows of `ids` (as `_seq` 0) unioned
    * with the delta rows of `ids`, both read with the line's schema,
    * then the latest `_seq` wins and tombstones drop. Request-bounded
    * by construction: the only shuffle carries id-filtered rows, never
    * a base-wide anti-join. On a BUCKETED base the scan adds the ids'
    * hash-bucket partition predicate, so it prunes to the touched
    * buckets at PLANNING time — a point lookup, not a base scan; on
    * the flat layout the id predicate still pushes to the parquet scan
    * (row-group pruning), just without directory pruning. */
  private[graft] def idsInLineFrame(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String], belowSeq: Long): DataFrame = {
    val fs = hadoopFs(spark, path)
    val gens = deltaGens(fs,
      new org.apache.hadoop.fs.Path(s"$path/data_delta")).filter(_ < belowSeq)
    val bp = new org.apache.hadoop.fs.Path(s"$path/data")
    val schema = lineSchema(spark, path).getOrElse(
      throw new IllegalStateException(s"no document store at $path"))
    val idPred = col("document_id").isin(ids: _*)
    val base = Option.when(fs.exists(bp)) {
      val b0 = spark.read.schema(schema).parquet(bp.toString)
      val b1 = (b0.columns.contains("_bucket"), storeBuckets(path)) match {
        case (true, Some(n)) =>
          // the ids' buckets, hashed on the driver with the SAME
          // expression the writer used (a projection of a local
          // relation folds without a job)
          val bs = spark.createDataset(ids)(
              org.apache.spark.sql.Encoders.STRING)
            .select(pmod(hash(col("value")), lit(n)))
            .collect().map(_.getInt(0)).distinct.toSeq
          b0.filter(col("_bucket").isInCollection(bs) && idPred)
        // flat, or the layout sidecar lost: the unpruned (still
        // pushdown-filtered) scan — correct, just not pruned
        case _ => b0.filter(idPred)
      }
      b1.drop("_bucket")
        .withColumn("_op", lit("upsert")).withColumn("_seq", lit(0L))
    }
    val deltas = Option.when(gens.nonEmpty)(
      deltaFrame(spark, path, gens, schema).filter(idPred))
    latest((base ++ deltas).reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[
        org.apache.spark.sql.Row](),
        schema.add("_op", StringType).add("_seq", LongType))))
  }

  /** How many of `ids` exist in the store's line as of just BEFORE
    * delta generation `belowSeq` — the count [[write]]'s doc-count
    * contract needs, computed AFTER the new generation landed (a
    * side may be a lazy plan over the line, so nothing can be counted
    * before the append evaluates it) by reading only the PRIOR
    * generations plus the id-restricted base. */
  private def idsInLineCount(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String], belowSeq: Long): Long =
    idsInLineFrame(spark, path, ids, belowSeq).count()

  /** Land one request's net effect on the store at `path`: `upserts`
    * replace-or-insert by `document_id` (REST per-record re-sync
    * semantics, src/routes/ticket_routes.py:91-96), `deletes` (the
    * single `document_id` column) drop ids. O(request): both sides
    * land as ONE delta generation with mixed `_op` values, written as
    * one file when both are given (they are then one request's net
    * effect, e.g. a `_bulk`'s for one entity) ([[appendDelta]] — which
    * also EVALUATES a side that is a lazy plan over the current line,
    * e.g. update_by_query's rewrite, before anything moves, and
    * records the line's schema grown by the generation's columns
    * before the rename); [[readOpt]]'s latest-`_seq` rule resolves
    * it; an id on both sides is deleted. Then, once per call: one
    * id-list-bounded probe of the pre-append line over every landed
    * id ([[idsInLineFrame]] — on the hive-BUCKETED base written by
    * bootstrap/compaction it prunes to the ids' buckets at PLANNING
    * time, so the count costs O(request), plan-pinned in
    * DocumentSinkSpec), giving count = prev − |existing ∩ (U ∪ D)| +
    * |U|; one mapping/meta sidecar rewrite from the recorded schema;
    * one delta update of the adjacent search index from the landed
    * generation's stable files (a crash in between leaves the index
    * one consistent snapshot behind, never ahead); one compaction
    * check. Returns the store's doc count after the write. A store
    * that does not exist yet is bootstrapped from the upserts (a
    * BUCKETED base write — this store takes API writes by definition
    * of this call). */
  def write(upserts: Option[DataFrame], deletes: Option[DataFrame],
            path: String): Long = {
    upserts.foreach(b => require(!b.columns.contains("_op") &&
      !b.columns.contains("_seq") && !b.columns.contains("_bucket"),
      "_op/_seq/_bucket are reserved store column names"))
    val spark = (upserts ++ deletes).headOption.map(_.sparkSession)
      .getOrElse(throw new IllegalArgumentException(
        "write needs upserts or deletes"))
    // an id on both sides is DELETED (SearchIndex.upsert's rule), so
    // the landed generation never holds two ops for one id
    val ups = upserts.map(u => deletes.fold(u)(d => u.join(
      broadcast(d.select("document_id")), Seq("document_id"), "left_anti")))
    if (!storeExists(spark, path)) ups match {
      case Some(b) => return save(b, path, bucketByDocId = true)
      case None =>
        throw new IllegalStateException(s"no document store at $path")
    }
    val fs = hadoopFs(spark, path)
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$path/data_delta")
    val prevTotal = metaDocCount(spark, path)
    val seq = (deltaGens(fs, deltaRoot) :+ 0L).max + 1
    val sides = ups.map(_.withColumn("_op", lit("upsert"))).toSeq ++
      deletes.map(_.select("document_id").distinct()
        .withColumn("_op", lit("delete")))
    val stored = lineSchema(spark, path).get
    val gen = coerced(
      sides.reduce(_.unionByName(_, allowMissingColumns = true)), stored)
    // the mapping contract: the line's schema only grows, by the
    // generation's new columns (a structured column that conflicts
    // fails here, before anything lands)
    val schema = StoreSchemas.union(spark, stored,
      StoreSchemas.asRead(gen.drop("_op").schema))
    // one file: the tombstones cost rows in it rather than a file of
    // their own, all-null but for the id
    val landing = (if (sides.size == 1) gen else gen.coalesce(1))
      .withColumn("_seq", lit(seq))
    val rows = appendDelta(landing, path, seq,
      Meta(prevTotal, "overwrite", Some(schema)))
    val landed = spark.read.schema(StoreSchemas.asRead(landing.schema))
      .parquet(s"$path/data_delta/" + f"delta-$seq%06d")
    val ops = landed.select("document_id", "_op").collect()
      .map(r => (String.valueOf(r.get(0)), r.getString(1))).distinct
    val deleted = ops.collect { case (id, "delete") => id }.toSeq
    val written = ops.collect { case (id, "upsert") => id }.toSeq
    val existing = idsInLineCount(spark, path, written ++ deleted,
      belowSeq = seq)
    // upsert rows, not distinct ids: a batch repeating an id counts
    // each row, as the upsert contract always has
    val n = prevTotal - existing + (rows - deleted.size)
    // the mapping sidecar tracks the RESOLVED line's schema — which,
    // per the union-by-name decision on [[readOpt]], RETAINS a
    // column whose last carrier was just deleted (ES: a mapping
    // never loses fields)
    writeSidecar(s"$path/_mapping.json", mappingJson(schema))
    writeMeta(path, Meta(n, "overwrite", Some(schema)))
    val idxPath = s"$path/_search_index"
    if (SearchIndex.exists(idxPath))
      SearchIndex.upsert(
        // a tombstone-only generation carries no document columns:
        // the index's field list comes from the line's (empty) frame
        if (written.isEmpty) read(spark, path).limit(0)
        else landed.filter(col("_op") === "upsert").drop("_op", "_seq"),
        if (deleted.isEmpty) None
        else Some(landed.filter(col("_op") === "delete")
          .select("document_id")),
        idxPath)
    else if (SearchIndex.staleVersion(idxPath)) {
      // a PRE-CURRENT-VERSION index (retired token grammar) no longer
      // `exists` — rebuild it from the current line with its own
      // field list instead of silently orphaning it
      val meta = SearchIndex.readMeta(idxPath)
      SearchIndex.build(read(spark, path), meta.fields, meta.idCol,
        idxPath, meta.analyzer, meta.custom, meta.searchAnalyzer)
    }
    compactStoreIfNeeded(spark, path)
    n
  }

  /** `gen` with each scalar column the line already maps at another
    * type cast to that type — ES's mapping contract: a mapped field
    * keeps its type and a document's value is coerced to it (a synced
    * BIGINT id lands in a STRING-mapped store as its string). A value
    * a narrowing cast would turn to null, or a type that cannot cast,
    * rejects the write before anything lands. Structured columns are
    * left to the schema union, which grows them or rejects a
    * conflict. */
  private def coerced(gen: DataFrame, stored: StructType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def scalar(t: DataType) = t match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }
    val mapped = stored.fields.map(f => f.name -> f.dataType).toMap
    val casts = gen.schema.fields.toSeq.collect {
      case f if mapped.get(f.name).exists(t =>
          t != f.dataType && scalar(t) && scalar(f.dataType)) =>
        val to = mapped(f.name)
        require(Cast.canCast(f.dataType, to), s"field '${f.name}': " +
          s"${f.dataType.simpleString} cannot be coerced to its mapped " +
          s"type ${to.simpleString}")
        (f.name, f.dataType, to)
    }
    if (casts.isEmpty) return gen
    val lost = casts.collect { case (c, from, to)
        if !Cast.canUpCast(from, to) => col(c).isNotNull && col(c).cast(to).isNull }
    if (lost.nonEmpty) {
      val bad = gen.filter(lost.reduce(_ || _)).limit(1).collect()
      require(bad.isEmpty, "a value does not coerce to its mapped type " +
        casts.map { case (c, _, to) => s"$c ${to.simpleString}" }
          .mkString("(", ", ", ")"))
    }
    gen.select(gen.columns.toSeq.map(c => casts.collectFirst {
      case (`c`, _, to) => col(c).cast(to).as(c) }.getOrElse(col(c))): _*)
  }

  /** Upsert by `document_id` — [[write]] with no deletes. */
  def upsert(batch: DataFrame, path: String): Long =
    write(Some(batch), None, path)

  /** Delete-by-ids — `_delete_by_query`'s storage half: [[write]]
    * with no upserts, so the ids land as a TOMBSTONE generation and
    * leave the adjacent search index through the same integer-delta
    * machinery replaced docs use. Returns the count AFTER deletion.
    * `ids` must be the single `document_id` column. */
  def deleteByIds(ids: DataFrame, path: String): Long =
    write(None, Some(ids), path)

  /** Count verification (reference: src/es_connector.py:76-83) —
    * counts the RESOLVED line (base ∪ deltas). */
  def count(spark: org.apache.spark.sql.SparkSession, path: String): Long =
    read(spark, path).count()

  // ---- per-document version metadata (ES `_version`/`_seq_no` wire) ----
  //
  // ES clients — including the reference's own bulk consumer
  // (src/es_connector.py:51-74 via elasticsearch.helpers.bulk) — read
  // `_version` from write-op responses for optimistic concurrency, and
  // `_seq_no`/`_primary_term` for compare-and-swap writes. Here that
  // metadata lives in a sidecar parquet table `{path}/_versions`
  // (document_id, version, seq_no) plus `{path}/_versions_meta.json`
  // holding the index's next sequence number — INDEX metadata, like
  // ES's per-doc version in Lucene, never columns of the synced store,
  // so the sync pipeline's schema and every oracle stay untouched.
  // Deleted ids keep a TOMBSTONE row (ES keeps version tombstones for
  // `index.gc_deletes`, default 60 s; here: until the next sync
  // rebuild), so a re-created id continues its version line instead of
  // restarting at 1. A doc written by the batch sync with no sidecar
  // row is version 1. Reads are request-bounded (filter by the
  // request's id list — a semi-join, never a corpus collect).
  //
  // The sidecar is LOG-STRUCTURED (ES's translog-then-merge shape):
  // each write request APPENDS one request-sized parquet file to
  // `_versions_delta` — O(request), not O(store) — and the current
  // line is base ∪ deltas with the highest seq_no winning per id
  // (seq_nos are index-monotonic, so max-seq IS latest). Once
  // [[VersionsCompactThreshold]] delta files accumulate, the write
  // folds them into the `_versions` base through the same crash-safe
  // [[Lake.swapIn]] two-rename as the store itself and clears the
  // delta dir. Crash windows are benign by construction: versions
  // write AFTER the data swap (one snapshot behind, never ahead);
  // a crash between the compaction swap and the delta delete leaves
  // deltas that REPLAY idempotently (max-seq per id is unchanged).

  /** Current versions for the given ids: id → (version, seq_no).
    * Absent key = the id has never been written through the
    * version-aware wire. */
  def readVersions(spark: org.apache.spark.sql.SparkSession, path: String,
                   ids: Seq[String]): Map[String, (Long, Long)] = {
    if (ids.isEmpty) return Map.empty
    // Missing sidecar = never versioned; any OTHER read failure
    // (corrupt parquet, transient IO) must propagate — silently
    // restarting version lines at the base would answer wrong
    // _version values instead of failing the request.
    versionLine(spark, path,
        df => df.filter(col("document_id").isin(ids: _*))) match {
      case None => Map.empty
      case Some(df) =>
        df.collect()
          .map(r => String.valueOf(r.getAs[Any]("document_id")) ->
            ((r.getAs[Long]("version"), r.getAs[Long]("seq_no")))).toMap
    }
  }

  /** Delta files folded into the base per compaction — the knob that
    * bounds both the per-request write cost (always O(request): one
    * appended file) and the read fan-in (at most this many small
    * delta files beside one base snapshot). */
  private[graft] val VersionsCompactThreshold = 16

  /** The `_versions` base and delta files' one fixed schema — what
    * [[writeVersions]] writes and [[versionLine]] reads with. */
  private val VersionsSchema = StructType(Seq(
    StructField("document_id", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("seq_no", LongType, nullable = false)))

  /** The CURRENT version line (base snapshot ∪ append-only deltas,
    * max seq_no winning per id), or None iff the store has never been
    * versioned. `pre` narrows BOTH sides BEFORE the latest-wins
    * reduce — the id-list pushdown that keeps reads request-bounded. */
  private def versionLine(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          pre: org.apache.spark.sql.DataFrame =>
                               org.apache.spark.sql.DataFrame =
                            identity): Option[
      org.apache.spark.sql.DataFrame] = {
    val conf = spark.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(s"$path/_versions")
    val dp = new org.apache.hadoop.fs.Path(s"$path/_versions_delta")
    val fs = bp.getFileSystem(conf)
    val sides = Seq(bp, dp).filter(fs.exists)
      .map(p => pre(spark.read.schema(VersionsSchema).parquet(p.toString)))
    if (sides.isEmpty) None
    else Some(sides.reduce(_.unionByName(_))
      .groupBy(col("document_id"))
      .agg(max(struct(col("seq_no"), col("version"))).as("_vs"))
      .select(col("document_id"),
        col("_vs.version").as("version"),
        col("_vs.seq_no").as("seq_no")))
  }

  /** The index's next `_seq_no` (monotonic per index, like ES's
    * per-shard sequence). 0 for a never-versioned index. */
  def nextSeqNo(path: String): Long = {
    val p = Paths.get(s"$path/_versions_meta.json")
    if (!Files.exists(p)) 0L
    else "\"next_seq_no\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
      .map(_.group(1).toLong).getOrElse(0L)
  }

  /** Replace-by-id the given ids' version rows and advance the
    * sequence counter. `entries`: id → (new version, seq_no of its
    * latest op this batch). O(request) on the write path: the batch
    * APPENDS one delta file; only every [[VersionsCompactThreshold]]th
    * call pays the base fold (amortized O(store / threshold)). */
  def writeVersions(spark: org.apache.spark.sql.SparkSession, path: String,
                    entries: Map[String, (Long, Long)],
                    nextSeq: Long): Unit = {
    if (entries.nonEmpty) {
      val rows = entries.toSeq.map { case (id, (v, s)) =>
        org.apache.spark.sql.Row(id, v, s) }
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), VersionsSchema)
      val dp = new org.apache.hadoop.fs.Path(s"$path/_versions_delta")
      batch.coalesce(1).write.mode(SaveMode.Append).parquet(dp.toString)
      compactVersionsIfNeeded(spark, path)
    }
    writeSidecar(s"$path/_versions_meta.json",
      s"""{"next_seq_no": $nextSeq}""")
  }

  /** Fold the delta log into the `_versions` base once enough delta
    * files accumulate: materialize the current line (latest seq wins
    * — a corrupt base or delta fails the fold rather than silently
    * dropping version rows), swap it in as the new base, then clear
    * the deltas. A crash after the swap leaves deltas that replay
    * idempotently against the new base. */
  private def compactVersionsIfNeeded(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dp = new org.apache.hadoop.fs.Path(s"$path/_versions_delta")
    val fs = dp.getFileSystem(conf)
    if (!fs.exists(dp)) return
    val parts = fs.listStatus(dp)
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    if (parts < VersionsCompactThreshold) return
    versionLine(spark, path).foreach { line =>
      val tmp = s"$path/._versions_tmp_" +
        java.util.UUID.randomUUID().toString.take(8)
      line.write.mode(SaveMode.Overwrite).parquet(tmp)
      Lake.swapIn(fs, new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(s"$path/_versions"))
      fs.delete(dp, true)
      ()
    }
  }

  private def writeSidecar(file: String, content: String): Unit = {
    val p = Paths.get(file)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}
