package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Denormalize
import graft.sources.Tables

/** Reference-parity operator inventory (SURVEY §2), each entry named after
  * its SURVEY id and re-expressed on the testdata star schema. Every query
  * here has a DuckDB oracle in [[oracleSql]] — names and column aliases are
  * kept in lockstep because the driver's compare hashes by column name.
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Event time as an epoch-MICROS long, schema-adaptively: the driver
    * has regenerated `events.ts` across rounds as both a raw nanos-long
    * and a parquet `timestamp[us]` (read as TIMESTAMP_NTZ). Micros is the
    * finest engine-shared unit — DuckDB truncates parquet nanos to micros
    * — so every event-time query orders/compares on this value and both
    * engines see identical longs. The NTZ leg casts through TIMESTAMP
    * first (unix_micros only accepts LTZ); the session timezone is pinned
    * UTC ([[graft.GraftSession]]), so the naive datetime round-trips to
    * exactly the stored micros, matching DuckDB's `epoch_us(ts)`. */
  private def tsMicros(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case TimestampType    => unix_micros(col(c))
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case _                => expr(s"$c div 1000") // legacy nanos-long
    }
  }

  val RunTs: String = Denormalize.RunTs

  /** Materialized search indexes for `dir`, built ONCE per JVM — the
    * write-time moment (ES builds postings inside `bulk_index`, not per
    * query; src/es_connector.py:51-74). The indexed queries then PROBE
    * them: the driver's timed runs measure the probe, with the one-time
    * build paid on first touch exactly like an ES deployment pays
    * indexing at sync time. Keyed by source dir (warmup and timed SFs
    * each get their own build). */
  private val indexRoots =
    scala.collection.concurrent.TrieMap[String, String]()
  private def searchIndexRoot(s: SparkSession, dir: String): String =
    indexRoots.synchronized {
      indexRoots.getOrElseUpdate(dir, {
        val root = java.nio.file.Files
          .createTempDirectory("graft-search-index-").toString
        val docs = t(s, dir, "documents")
        val fields = docs.schema.fields
          .filter(_.dataType == org.apache.spark.sql.types.StringType)
          .map(_.name).toSeq
        graft.sinks.SearchIndex.build(docs, fields, "doc_id",
          s"$root/documents")
        graft.serving.Search.buildEntityIndexes(s, dir,
          s"$root/entities", RunTs)
        root
      })
    }

  /** Shared lazy index-root builder behind the per-analyzer mapped
    * indexes: each builds ONCE per source dir at first probe (the
    * write-time moment, like [[searchIndexRoot]]) into a fresh temp
    * root — one synchronization and directory convention for every
    * mapping instead of a per-analyzer clone. */
  private def lazyIndexRoot(
      cache: scala.collection.mutable.Map[String, String],
      prefix: String, dir: String)(build: String => Unit): String =
    cache.synchronized {
      cache.getOrElseUpdate(dir, {
        val root = java.nio.file.Files
          .createTempDirectory(prefix).toString
        build(root)
        root
      })
    }

  private val engIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built ENGLISH-mapPED documents index — index-TIME
    * `"analyzer": "english"` (write-time stems, stop-consumed
    * positions, stop-filtered dl), the commoner ES deployment where
    * stemming happens at bulk-index time rather than per query. The
    * q7_idx_english_* twins probe it. */
  private def englishIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(engIndexRoots, "graft-search-index-eng-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "english")
    }

  private val frIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built FRENCH-mapped documents index — index-TIME
    * `"analyzer": "french"` (write-time light_french stems via
    * the codegen FrenchTokens expression, stop-consumed positions,
    * stop-filtered dl). The q7_idx_french_* twins probe it. */
  private def frIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(frIndexRoots, "graft-search-index-fr-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "french")
    }

  private val deIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built GERMAN-mapped documents index — index-TIME
    * `"analyzer": "german"` (write-time light_german stems via the
    * codegen GermanTokens expression: stop-consumed positions,
    * german_normalization, stop-filtered dl). The q7_idx_german_*
    * twins probe it. */
  private def deIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(deIndexRoots, "graft-search-index-de-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "german")
    }

  private val esIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built SPANISH-mapped documents index — index-TIME
    * `"analyzer": "spanish"` (write-time light_spanish stems via the
    * codegen SpanishTokens expression: stop-consumed positions —
    * the corpus token 'a' IS a spanish stopword — stop-filtered
    * dl). The q7_idx_spanish_* twins probe it. */
  private def esIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(esIndexRoots, "graft-search-index-es-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "spanish")
    }

  private val cuIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built CUSTOM-chain documents index (round 18) — a
    * settings-defined analyzer no prebuilt name covers: whitespace
    * tokenizer + lowercase + the one-word stop list ["the"] +
    * light_german WITHOUT german_normalization. Documents tokenize
    * through the codegen ChainTokens expression at write time; the
    * q7_idx_custom_* twin probes it. */
  private def cuIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(cuIndexRoots, "graft-search-index-cu-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "custom",
          customChain = Some(
            """{"tokenizer": "whitespace", "filter": ["lowercase",
              |{"type": "stop", "stopwords": ["the"]},
              |{"type": "stemmer", "language": "light_german"}]}"""
              .stripMargin))
    }

  private val egIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built EDGE-GRAM documents index with `search_analyzer:
    * standard` (round 18) — ES's search-as-you-type pairing: the
    * index chain emits every 1..6-char prefix of each token (grams
    * share their source token's position), the QUERY analyzes with
    * the plain standard chain, so a typed prefix probes the gram
    * postings directly. The q7_idx_search_analyzer twin probes it. */
  private def egIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(egIndexRoots, "graft-search-index-eg-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "custom",
          customChain = Some(
            """{"tokenizer": "standard", "filter": ["lowercase",
              |{"type": "edge_ngram", "min_gram": 1,
              | "max_gram": 6}]}""".stripMargin),
          searchAnalyzer = Some("standard"))
    }

  private val wsIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built WHITESPACE-mapped documents index — index-TIME
    * `"analyzer": "whitespace"` (write-time whitespace splits, case
    * and punctuation KEPT). The q7_idx_whitespace_* twins probe it. */
  private def wsIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(wsIndexRoots, "graft-search-index-ws-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("text"), "doc_id", s"$root/documents",
          analyzer = "whitespace")
    }

  private val kwIndexRoots =
    scala.collection.mutable.Map.empty[String, String]

  /** Lazily-built KEYWORD-mapped documents index over `source` —
    * index-TIME `"analyzer": "keyword"` (the whole field value is ONE
    * term). The q7_idx_keyword_* twins probe it. */
  private def kwIndexRoot(s: SparkSession, dir: String): String =
    lazyIndexRoot(kwIndexRoots, "graft-search-index-kw-", dir) {
      root =>
        graft.sinks.SearchIndex.build(t(s, dir, "documents"),
          Seq("source"), "doc_id", s"$root/documents",
          analyzer = "keyword")
    }

  /** The testdata events' fixed event-type domain — an explicit pivot
    * value list (open-ended pivot would cost a distinct-discovery pass). */
  private val EventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §3.2 flagship: full denormalized ticket pipeline.
    "denorm_tickets" -> ((s, dir) =>
      Denormalize(
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "part"),
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))),

    // §3.2 flagship, nested shape: labels as [{id,name,color}] structs —
    // the shape the reference indexes (src/ticket_sync.py:44-49). Flattened
    // through to_json ONLY for the oracle hash; the sink path ships the
    // real nested column (DocumentSinkSpec covers the struct round-trip).
    "denorm_tickets_nested" -> ((s, dir) =>
      Denormalize.nested(
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "part"),
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))
        .withColumn("labels", to_json(col("labels")))),

    // S1+P1: full scan with pushed filter + pruned projection
    // (reference: SELECT * WHERE "deletedAt" IS NULL, src/db_connector.py:142).
    "s1_scan_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity"), col("l_extendedprice"))),

    // S3+A1: COUNT scan (reference: src/db_connector.py:308-316).
    "s3_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // P3: projection with aliasing (reference: 17-col SELECT ... AS,
    // src/db_connector.py:270-287).
    "p3_projection" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").as("ticket_id"),
        col("o_orderstatus").as("ticket_status"),
        col("o_orderpriority").as("ticket_priority"),
        col("o_orderdate").as("ticket_created"),
        col("o_totalprice").as("ticket_total"))),

    // P4: namespacing projection + table discriminator
    // (reference: data_lake_sync.py:152-164).
    "p4_namespacing" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.select(c.columns.toSeq.map(cn => col(cn).as(s"customer_$cn")): _*)
        .withColumn("table", lit("customer"))
    }),

    // P5+F5: per-field type coercion — id→string, timestamp→ISO-8601
    // (reference: src/ticket_sync.py:106-119, src/json_encoder.py:12-18).
    "p5_type_coercion" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("id_str"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
          .as("created_iso"))),

    // P7: required-field validation + deterministic defaulting
    // (reference: prepare_entity_data, src/utils.py:69-125).
    "p7_validate_default" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(
          coalesce(col("event_id").cast("string"),
                   md5(concat_ws("|", col("user_id"), col("value"))))
            .as("id"),
          coalesce(col("event_type"), lit("unknown")).as("event_type"),
          coalesce(col("props"), lit("{}")).as("props"))),

    // J1/J6: inner equi join fact→dim (reference: TicketStatus⋈Status,
    // src/db_connector.py:266).
    "j1_inner_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier"); val nat = t(s, dir, "nation")
      sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
                col("n_name").as("nation_name"))
    }),

    // J3-J5: chained left joins to broadcast dimension tables
    // (reference: Ticket ⟕ Module ⟕ DataSource ⟕ User,
    // src/db_connector.py:290-292).
    "j3_broadcast_dims" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .select(col("c_custkey"), col("c_name"),
                col("n_name").as("module_name"),
                col("r_name").as("datasource_name"))
    }),

    // J7: self-join parent lookup (reference: module parentId probe,
    // src/data_sync.py:509-514).
    "j7_self_join" -> ((s, dir) => {
      val n = t(s, dir, "nation").alias("n")
      val p = t(s, dir, "nation").alias("p")
      n.join(p, col("n.n_regionkey") === col("p.n_nationkey"), "left")
        .select(col("n.n_nationkey").as("id"), col("n.n_name").as("name"),
                col("p.n_name").as("parent_name"))
    }),

    // A2/J8/J9: group-to-array of labels per ticket, deterministic order
    // (reference: src/document_utils.py:78-99).
    "a2_group_to_array" -> ((s, dir) =>
      Denormalize.labelsPerOrder(t(s, dir, "lineitem"), t(s, dir, "part"))
        .select(col("l_orderkey"),
                array_join(col("label_names"), "|").as("labels"))),

    // A3 composite: the reference's module document — THREE
    // group-to-arrays plus the parent self-join lookup composed into ONE
    // nested doc (src/data_sync.py:436-461 nests statuses/labels/
    // data_sources; :485-514 resolves parentId from the same table).
    // Here: nation = module; customers + suppliers as sorted struct
    // arrays, distinct market segments as the third array, parent name
    // via the j7 self-join. Child aggs shuffle once on the nation key
    // and are tiny afterwards — broadcast onto the 25-row root.
    "a3_module_nested" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val p = t(s, dir, "nation")
        .select(col("n_nationkey").as("p_key"),
                col("n_name").as("parent_name"))
      val custArr = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("ckey"))
        .agg(
          to_json(array_sort(collect_set(struct(
            col("c_custkey").as("id"), col("c_name").as("name")))))
            .as("customers"),
          nullif(array_join(array_sort(collect_set(col("c_mktsegment"))),
            "|"), lit("")).as("segments"))
      val supArr = t(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("skey"))
        .agg(to_json(array_sort(collect_set(struct(
          col("s_suppkey").as("id"), col("s_name").as("name")))))
          .as("suppliers"))
      n.join(broadcast(p), col("n_regionkey") === col("p_key"), "left")
        .join(broadcast(custArr), col("n_nationkey") === col("ckey"), "left")
        .join(broadcast(supArr), col("n_nationkey") === col("skey"), "left")
        .select(col("n_nationkey").as("module_id"),
          col("n_name").as("module_name"), col("parent_name"),
          col("customers"), col("suppliers"), col("segments"))
    }),

    // W1+O2: latest row per key via ranking window (reference: DISTINCT ON,
    // src/db_connector.py:262-269). ts kept out of the output: the parquet
    // column is ns-precision, which Spark truncates to µs but DuckDB keeps.
    "w1_latest_per_key" -> ((s, dir) =>
      Denormalize.latestPerKey(
        t(s, dir, "events"), "user_id",
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id").as("last_event_id"),
                col("event_type").as("last_event_type"))),

    // W2 (beyond reference — SURVEY §2.12 lists analytic windows as
    // absent): lag/lead over the per-user event sequence plus a running
    // count frame — the session-reconstruction shape.
    "w2_lag_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select(
          col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"),
          lead(col("event_id"), 1).over(w).as("next_event_id"),
          count(lit(1)).over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).as("seq_no"))
    }),

    // W3 (beyond reference): batch sessionization — the lag/cumsum
    // session-id assignment (gap > 30 min ⇒ new session), then per-
    // session engagement features. The batch twin of the streaming
    // session_window operator; one window + one hash agg, both on
    // user_id. ts is normalized to epoch-micros (tsMicros) so gap
    // arithmetic is plain long math whatever physical type the testdata
    // carries — only ids/counts are output.
    "w3_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val raw = t(s, dir, "events")
      val ev = raw.filter(
        col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"),
          tsMicros(raw, "ts").as("tsu"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val gapUs = col("tsu") - lag(col("tsu"), 1).over(w)
      val newSession =
        when(gapUs.isNull || gapUs > lit(30L * 60 * 1000000L), 1)
          .otherwise(0)
      ev.withColumn("session_idx",
          sum(newSession).over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event_id"),
          max(col("event_id")).as("last_event_id"))
    }),

    // TPC-H Q6 shape: selective range filters + single codegen'd agg —
    // the scan-bound class; every predicate must reach the parquet scan.
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))),

    // O1: global sort (reference: ORDER BY t."number",
    // src/db_connector.py:300).
    "o1_global_sort" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))),

    // O3: limit/top-k with total-order tiebreak (reference pagination,
    // data_lake_sync.py:130-134; LIMIT without OFFSET — partitioned reads
    // replace OFFSET pagination at scale).
    "o3_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // W4 (beyond reference): funnel analysis — users by longest
    // completed prefix of view → click → purchase in strict temporal
    // order. One key shuffle + in-row HOF scan (Funnel.stages); event
    // times compared at MICRO granularity (tsMicros) so the oracle's
    // timestamp comparisons see the same values whatever physical type
    // the testdata carries (same reasoning as r6_scd2).
    "w4_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // funnel within each user's FIRST FIVE events (the "first
      // session" framing — with a user's whole history the synthetic
      // stream completes every funnel and the histogram degenerates);
      // the prefix filter is another WindowGroupLimit map-side prune
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val raw = t(s, dir, "events")
      val ev = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("event_id"),
          tsMicros(raw, "ts").as("tsu"), col("event_type"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 5)
      graft.operators.Funnel.stages(ev, "user_id", "tsu", "event_type",
          Seq("view", "click", "purchase"))
        .groupBy(col("stage_reached"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // W5 (beyond reference): per-key EWMA — exponentially time-decayed
    // mean of `value` per user (the recency feature an activity model
    // consumes). Closed-form weighted sum (s1 = x1 seed): one window +
    // one hash agg on the same key = one shuffle; identical formula in
    // the oracle, so no recursive state is needed in either engine.
    "w5_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
      val w = byUser.orderBy(col("tsu"), col("event_id"))
      val raw = t(s, dir, "events")
      val ev = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          tsMicros(raw, "ts").as("tsu"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byUser))
      val term =
        when(col("rn") === 1, pow(lit(0.7), col("n") - 1) * col("value"))
          .otherwise(lit(0.3) * pow(lit(0.7), col("n") - col("rn")) *
            col("value"))
      ev.groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          (floor(sum(term) * 1e4 + 0.5).cast("double") / 1e4).as("ewma"))
    }),

    // R7 (beyond reference): PSI distribution drift between snapshots —
    // the accept/investigate gate before a re-sync; even-key orders vs
    // odd-key orders with every 7th price inflated 1.5x as the drifted
    // "next" extract.
    "r7_drift_psi" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_totalprice").isNotNull)
      val prev = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_totalprice").as("v"))
      val next = o.filter(col("o_orderkey") % 2 === 1)
        .select((col("o_totalprice") *
          when(col("o_orderkey") % 7 === 0, 1.5).otherwise(1.0)).as("v"))
      graft.operators.Drift.psiBuckets(prev, next, "v")
    }),

    // A11 (beyond reference): equi-width numeric histogram — the data-
    // profiling shape: one tiny min/max agg broadcast back, then bucket
    // assignment is a pure projection + hash agg (never a sort; the
    // two-pass broadcast-back pattern of Mix/LanguageModel).
    "a11_histogram" -> ((s, dir) => {
      val mm = t(s, dir, "orders")
        .agg(min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      // null prices dropped explicitly (least() skips the null operand
      // and would misfile them in bucket 9); constant column → bucket 0
      // instead of a NaN cast both engines handle differently
      t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .crossJoin(broadcast(mm))
        .select(when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(9),
            floor((col("o_totalprice") - col("mn")) /
              ((col("mx") - col("mn")) / 10.0)).cast("int")))
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    }),

    // A12: per-group bivariate stats — Pearson correlation + sample
    // covariance via mergeable co-moments (one hash agg; the same
    // partial-aggregation contract as every other agg here).
    "a12_corr" -> ((s, dir) => {
      def r4(c: Column) = floor(c * 1e4 + 0.5).cast("double") / 1e4
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          r4(covar_samp(col("l_quantity"), col("l_extendedprice")) / 1000.0)
            .as("covar_qp_k"))
    }),

    // A9 (beyond reference): PIVOT — per-user event counts as one row of
    // typed columns. The value list is EXPLICIT, so this is a single
    // hash aggregation with five conditional counts (no extra distinct-
    // values discovery pass, which is what an open-ended pivot costs at
    // scale); absent combinations fill 0.
    "a9_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, EventTypes)),

    // A10: UNPIVOT — the melt back to long form (pivot round-trip);
    // a pure projection-explode, no shuffle beyond the pivot's own.
    "a10_unpivot" -> ((s, dir) => {
      val p = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("user_id"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, EventTypes)
      p.unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
          "event_type", "cnt")
        .filter(col("cnt") > 0)
    }),

    // O5 (beyond reference): top-k PER GROUP — each customer's 3 largest
    // orders. row_number ≤ k triggers WindowGroupLimit: map tasks prune
    // to their local per-group top-k before the shuffle (PlanShapeSpec),
    // so the exchange never carries the full fact table and there is no
    // global sort — the group-wise analog of o3's TakeOrderedAndProject.
    "o5_group_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey").isNotNull)
        .withColumn("rank_in_cust", row_number().over(w))
        .filter(col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    }),

    // F2/F3/F6: deterministic document ids — id_timestamp and md5 content
    // hash (reference: src/ticket_sync.py:138; data_lake_sync.py:72-82).
    "f2_doc_id" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        concat_ws("_", col("c_custkey"), lit(RunTs)).as("document_id"),
        md5(concat_ws("|", col("c_custkey"), col("c_name"),
                      col("c_nationkey"), col("c_mktsegment")))
          .as("content_hash"))),

    // F7: JSON field extraction from a free-form payload column
    // (reference: json.loads of ticket `data`, src/ticket_sync.py:122-128).
    "f7_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // F7, Variant form (SURVEY §1.2): Spark 4's parse_json →
    // VariantType → typed variant_get — the binary-encoded untyped-JSON
    // path that replaces per-access string re-parsing (the classic
    // get_json_object re-tokenizes the string per extraction; Variant
    // parses once and navigates a binary encoding). try_parse_json
    // because the column is nullable free-form input.
    "f7_variant_extract" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        try_variant_get(try_parse_json(col("props")), "$.k", "int")
          .as("k"))),

    // F8: recursive JSON-string normalization (reference:
    // _normalize_json_fields, src/json_encoder.py:23-41). The input wraps
    // props as a *stringified* JSON field; normalization must inline it
    // back into an object — exercising the recursive replace.
    "f8_normalize_json" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("props").isNotNull)
        .select(
          col("event_id"),
          graft.functions.JsonFunctions.normalizeJson(
            to_json(struct(col("props").as("payload"))))
            .as("normalized"))),

    // R1+P2: single-record re-sync — flagship pipeline filtered to one key;
    // Catalyst pushes the point predicate below the joins
    // (reference: src/routes/ticket_routes.py:212-264).
    "r1_point_lookup" -> ((s, dir) =>
      Denormalize(
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "part"),
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))
        .filter(col("ticket_number") === 42)),

    // Q1: multi-field full-text-ish search (reference: ES multi_match,
    // src/search_api.py:16-36). Parity target is the retrieval set.
    "q1_search" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(lower(col("text")).contains("window") ||
                lower(col("source")).contains("window"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // Q1 scored variant: occurrence-count relevance + top-k (the serving
    // layer's ranking approximation of ES multi_match scoring).
    "q1_search_scored" -> ((s, dir) =>
      graft.serving.Search.multiField(
        t(s, dir, "documents").select("doc_id", "text", "source"),
        "window", Seq("text", "source"))),

    // Q1 TF-IDF variant: token-exact multi-term retrieval ranked by
    // tf·idf (rational idf form — see Search.tfidf scaladoc).
    "q2_search_tfidf" -> ((s, dir) =>
      graft.serving.Search.tfidf(
        t(s, dir, "documents"), "window the of", "text", "doc_id")),

    // Q1 BM25 variant: the reference's ACTUAL ranking function
    // (multi_match executes Lucene BM25, src/search_api.py:16-36) —
    // tf saturation + doc-length normalization on top of tf·idf.
    // Same query as q2_search_tfidf so the two rankings are directly
    // comparable: 'window' (selective) vs 'the'/'of' (stopword-common,
    // where saturation bites).
    "q2_search_bm25" -> ((s, dir) =>
      graft.serving.Search.bm25(
        t(s, dir, "documents"), "window the of", "text", "doc_id")),

    // Q1 multi-field BM25: TRUE multi_match semantics — ES scores each
    // requested field with that field's own statistics and combines
    // (src/search_api.py:22-30 passes a fields list). 'window' only
    // hits text, 'src3' only hits source, so the combined ranking
    // differs from either field alone. Sum combine = ES most_fields.
    "q2_search_bm25_multi" -> ((s, dir) =>
      graft.serving.Search.bm25Fields(
        t(s, dir, "documents"), "window src3",
        Seq("text", "source"), "doc_id")),

    // best_fields combine (ES multi_match's DEFAULT type): per-doc MAX
    // of the per-field scores instead of the sum.
    "q2_search_bm25_best" -> ((s, dir) =>
      graft.serving.Search.bm25Fields(
        t(s, dir, "documents"), "window src3",
        Seq("text", "source"), "doc_id", bestFields = true)),

    // ES `field^boost`: "source^3" triples source's per-field BM25
    // score before the most_fields sum (the reference forwards its
    // fields list verbatim to multi_match where the ^ suffix applies,
    // src/search_api.py:22-30) — the ranking shifts vs the unboosted
    // q2_search_bm25_multi.
    "q2_search_boost" -> ((s, dir) =>
      graft.serving.Search.bm25Fields(
        t(s, dir, "documents"), "window src3",
        Seq("text", "source"), "doc_id",
        boosts = Map("source" -> 3.0))),

    // Q1 BM25 over the WRITE-TIME index: same query and same oracle as
    // q2_search_bm25, but the request plan probes materialized postings
    // + stats tables (`term IN (...)` pushed to the parquet scan)
    // instead of re-tokenizing the corpus and re-aggregating N/avgdl/df
    // per request — the architectural parity ES has (bulk_index builds
    // at write time, multi_match probes).
    "q2_search_bm25_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.ranked(
        s, s"${searchIndexRoot(s, dir)}/documents", "window the of",
        Seq("text"))),

    // The data_lake_* wildcard over per-entity write-time indexes —
    // identical ranking to q4_union_search_bm25 (same oracle), request
    // cost = pruned postings probes instead of 5 entity-pipeline corpus
    // scans + 5 statistics aggregates.
    "q4_union_search_bm25_indexed" -> ((s, dir) =>
      graft.serving.Search.acrossIndexesRankedIndexed(
        s, s"${searchIndexRoot(s, dir)}/entities",
        "small error household")),

    // The data_lake_* wildcard under multi_match type=phrase: every
    // entity's POSITIONAL postings probed independently, global top-k
    // merge. "blue rod" is token-adjacent only in part names, so the
    // result set is the part branch and the other six branches prove
    // empty-merge correctness against the oracle's full union.
    "q4_union_search_phrase_indexed" -> ((s, dir) =>
      graft.serving.Search.acrossIndexesPhraseIndexed(
        s, s"${searchIndexRoot(s, dir)}/entities", "blue rod")),

    // Q2 ES-DSL passthrough (the reference's /search/advanced forwards
    // request bodies VERBATIM to ES — src/search_api.py:38-46): the
    // serving/EsDsl translator compiles the DSL's common core to one
    // Catalyst plan. Here: bool with scored must (match), filter-context
    // range, must_not term (null-safe), and a scored should term.
    "q7_esdsl_bool" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {
          |  "must": [{"match": {"text": "window batch"}}],
          |  "filter": [{"range": {"n_chars": {"gte": 100}}}],
          |  "must_not": [{"term": {"lang": "de"}}],
          |  "should": [{"term": {"source": "src3"}}]
          |}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // The SAME bool body with its match clause scored by a write-time
    // postings PROBE (round 10: statsIndex routes every match-family
    // clause through SearchIndex.rankedScores — zero corpus scans for
    // scoring, ES's operational shape). One oracle, two plans.
    "q7_esdsl_bool_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {
          |  "must": [{"match": {"text": "window batch"}}],
          |  "filter": [{"range": {"n_chars": {"gte": 100}}}],
          |  "must_not": [{"term": {"lang": "de"}}],
          |  "should": [{"term": {"source": "src3"}}]
          |}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // DSL filter-context + explicit sort: range & terms filters score
    // 0, the sort key is a field (not _score), the engine appends the
    // id tiebreak so pagination is deterministic.
    "q7_esdsl_range_sort" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {"filter": [
          |  {"range": {"o_totalprice": {"gte": 1000, "lt": 50000}}},
          |  {"terms": {"o_orderstatus": ["O", "F"]}}]}},
          | "size": 100, "sort": [{"o_totalprice": {"order": "desc"}}]}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // percolation (round 10, second lap): corpus-centric reverse
    // search — K stored queries compiled ONCE to filter-context
    // predicates and evaluated as K branches inside one scan's
    // projection (zero joins/shuffles — the saved-search fan-out /
    // taxonomy-tagging shape that survives 100 TB). matched_queries
    // is the comma-joined id list in stored order.
    "q7_esdsl_percolate" -> ((s, dir) => {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val qs = Seq(
        "pq_window" -> m.readTree("""{"match": {"text": "window"}}"""),
        "pq_long" -> m.readTree(
          """{"range": {"n_chars": {"gte": 200}}}"""),
        "pq_en_short" -> m.readTree(
          """{"bool": {"filter": [{"term": {"lang": "en"}},
            |  {"range": {"n_chars": {"lt": 150}}}]}}""".stripMargin),
        "pq_src1x" -> m.readTree(
          """{"prefix": {"source": {"value": "src1"}}}"""))
      graft.serving.Percolate.tagAll(t(s, dir, "documents"), qs)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("matched_queries"))
        .orderBy(col("doc_id"))
    }),

    // search template (round 10, second lap): mustache substitution —
    // scalar var, {{#toJson}} array, conditional section — renders to
    // an ordinary DSL body, then runs through the same translator; the
    // template phase is request text only, zero execution machinery.
    "q7_esdsl_template" -> ((s, dir) => {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val source =
        """{"query": {"bool": {"filter": [
          |  {"range": {"o_totalprice": {"gte": {{min_total}}}}},
          |  {"terms": {"o_orderpriority": {{#toJson}}prios{{/toJson}}}}
          |  {{#status}},{"term": {"o_orderstatus": "{{status}}"}}{{/status}}
          |]}},
          | "size": 100, "sort": [{"o_orderkey": "asc"}]}""".stripMargin
      val params = mapper.readTree(
        """{"min_total": 150000, "prios": ["1-URGENT", "2-HIGH"],
          | "status": "F"}""".stripMargin)
      val body = graft.serving.SearchTemplate.renderBody(source, params)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES aggregations through the DSL translator: a filtered terms
    // bucket agg with metric sub-aggs (ES default bucket order:
    // doc_count desc, key asc). Metrics chosen order-independent
    // (min/max/value_count/exact cardinality) so the oracle compare is
    // float-stable; avg/sum are spec-tier (EsDslSpec).
    "q7_esdsl_aggs" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"range": {"o_totalprice": {"gte": 100}}},
          | "aggs": {"by_status": {"terms":
          |   {"field": "o_orderstatus", "size": 10},
          |   "aggs": {
          |     "min_price": {"min": {"field": "o_totalprice"}},
          |     "max_price": {"max": {"field": "o_totalprice"}},
          |     "n_prices": {"value_count": {"field": "o_totalprice"}},
          |     "n_customers": {"cardinality": {"field": "o_custkey"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // Nested terms-in-terms buckets: ES's top-N parents, top-M child
    // buckets per parent. The plan is two hash aggregations + a
    // broadcast parent gate + one per-parent WindowGroupLimit — the
    // 100 TB shape for "top sub-categories per category".
    "q7_esdsl_nested_aggs" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_status": {"terms":
          |   {"field": "o_orderstatus", "size": 10},
          |   "aggs": {"by_priority": {"terms":
          |     {"field": "o_orderpriority", "size": 3},
          |     "aggs": {"n_customers":
          |       {"cardinality": {"field": "o_custkey"}}}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // date_histogram over the real timestamp column — events per day
    // with distinct actives, the canonical pipeline time-series agg;
    // bucket key = ES's epoch-millis interval start, exact integer
    // bucketing on both engines.
    "q7_esdsl_date_histogram" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {"actives":
          |     {"cardinality": {"field": "user_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // ES date_range agg (round 9): ISO-bound timestamp buckets (from
    // inclusive, to exclusive), every bucket present, one conditional
    // pass — the cohort/date-window rollup.
    "q7_esdsl_date_range" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"periods": {"date_range": {"field": "ts",
          |   "ranges": [{"to": "2024-01-10"},
          |              {"from": "2024-01-10", "to": "2024-01-20",
          |               "key": "mid_month"},
          |              {"from": "2024-01-20"}]},
          |   "aggs": {"actives":
          |     {"cardinality": {"field": "user_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // ES highlighting (round 9): the page's hits carry a
    // highlight_text column — the field's tokens with every analyzed
    // query term wrapped in <em> tags (ES's plain-highlighter shape,
    // flat-relational). Page-sized work, independent of _source.
    "q7_esdsl_highlight" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": "the window"}},
          | "highlight": {"fields": {"text": {}}},
          | "_source": ["doc_id"], "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES field collapsing (round 9): the hit list keeps each field
    // value's BEST hit under the effective sort — one per-group window
    // limit, the "one result per domain" serving pattern.
    "q7_esdsl_collapse" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "collapse": {"field": "lang"},
          | "sort": [{"n_chars": {"order": "desc"}}],
          | "size": 10}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // collapse + inner_hits: each kept hit carries its group's top-2
    // docs under the effective sort (winner included), as an array of
    // source-column structs — jsonified for the oracle hash.
    "q7_esdsl_collapse_inner" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "collapse": {"field": "lang",
          |   "inner_hits": {"name": "top_docs", "size": 2}},
          | "sort": [{"n_chars": {"order": "desc"}}],
          | "size": 10}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
        .withColumn("inner_hits_top_docs",
          to_json(col("inner_hits_top_docs")))
    }),

    // ES search_after deep pagination (round 9): resume STRICTLY
    // AFTER the last hit's sort values (explicit key + id tiebreak) —
    // the cursor contract that stays O(page) at any depth, where
    // from+size degrades linearly.
    "q7_esdsl_search_after" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "sort": [{"n_chars": {"order": "desc"}}],
          | "search_after": [306, 100],
          | "size": 50}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // simple_query_string (round 9): ES's fault-tolerant end-user
    // query syntax — a sloppy quoted phrase OR'd with (prefix AND
    // term); occurrence-count scored (the documented count families),
    // matching clauses' scores summed.
    "q7_esdsl_simple_query_string" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"simple_query_string": {
          |  "query": "\"the window\"~1 | wind* + batch",
          |  "fields": ["text"]}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES composite agg (round 9): the SCALE path for walking every
    // bucket of a huge corpus — source-value-ordered pages with a
    // strictly-after resume key. Page 2 here: after (F, 3-MEDIUM),
    // 5 buckets, with an exact min sub-metric.
    "q7_esdsl_composite" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"page": {"composite": {"size": 5, "sources": [
          |   {"status": {"terms": {"field": "o_orderstatus"}}},
          |   {"prio": {"terms": {"field": "o_orderpriority"}}}],
          |   "after": {"status": "F", "prio": "3-MEDIUM"}},
          |   "aggs": {"min_price": {"min": {"field": "o_totalprice"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES top_hits agg (round 9): per-bucket top DOCUMENTS, flat
    // rows (key, doc_count, hit_rank, hit columns). Plan: top-size
    // parent buckets broadcast-gate the corpus, one per-bucket
    // WindowGroupLimit — the 100 TB "top docs per category" shape.
    "q7_esdsl_top_hits" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_status": {"terms":
          |   {"field": "o_orderstatus", "size": 2},
          |   "aggs": {"best": {"top_hits": {"size": 2,
          |     "sort": [{"o_totalprice": {"order": "desc"}}],
          |     "_source": ["o_orderkey", "o_totalprice"]}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES stats metric agg (round 9): one-row count/min/max/avg/sum,
    // flattened to <name>_* columns. Long column keeps every value
    // exact (sum is integer arithmetic; avg one exact division) so the
    // oracle is float-stable; extended_stats' variance tier is
    // spec-gated (EsDslSpec) like avg/sum on doubles.
    "q7_esdsl_stats" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"ck": {"stats": {"field": "o_custkey"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES percentiles agg (round 9): EXACT interpolated percentiles
    // (ES's TDigest is approximate; exact is deterministic and
    // oracle-able — DuckDB's quantile_cont interpolates identically).
    "q7_esdsl_percentiles" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"price": {"percentiles": {"field": "o_totalprice",
          |   "percents": [25, 50, 75, 99]}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES range agg (round 9): request-enumerated buckets (from
    // inclusive, to exclusive, ES's *-to-* keys), EVERY bucket
    // returned in one single-pass conditional aggregation — no
    // per-bucket scan, no shuffle beyond the one aggregation.
    "q7_esdsl_range" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"price_ranges": {"range": {"field": "o_totalprice",
          |   "ranges": [{"to": 10000}, {"from": 10000, "to": 150000},
          |              {"from": 150000}]},
          |   "aggs": {"n_customers":
          |     {"cardinality": {"field": "o_custkey"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // ES filters agg (round 9): named buckets from arbitrary query
    // clauses (filter context), same single-pass conditional shape.
    "q7_esdsl_filters" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"cohorts": {"filters": {"filters": {
          |   "short_docs": {"range": {"n_chars": {"lt": 200}}},
          |   "src3": {"term": {"source": "src3"}},
          |   "german": {"term": {"lang": "de"}}}},
          |   "aggs": {"min_len": {"min": {"field": "n_chars"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES terms-agg knobs (round 9): min_doc_count prunes buckets below
    // the floor (71 drops de@70 and fr@64), order {_key asc} replaces
    // the default _count desc (with size 3 the SELECTED set changes,
    // so the knob is hash-visible), missing maps nulls to a stand-in
    // key (no-op on this corpus; semantics spec-gated).
    // terms order by a SUB-METRIC (round 13 oracle for the existing
    // knob): with size 3 the selected bucket set changes, so the
    // order target is hash-visible, not just cosmetic.
    "q7_esdsl_terms_order_metric" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"langs": {"terms": {"field": "lang",
          |   "order": {"avg_chars": "asc"}, "size": 3},
          |   "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    "q7_esdsl_terms_knobs" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"langs": {"terms": {"field": "lang",
          |   "missing": "unknown", "min_doc_count": 71,
          |   "order": {"_key": "asc"}, "size": 3},
          |   "aggs": {"n_docs":
          |     {"value_count": {"field": "n_chars"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // DSL BM25 scoring parity (round 9): match/multi_match clauses in a
    // replayed ES body now rank with REAL BM25 — the same
    // serving.Ranking kernel /search rank=bm25 runs — so a
    // reference client gets ES's ranking order, not an occurrence
    // approximation. best_fields must + a scored should over a second
    // field; the oracle recomputes both clauses' BM25 from scratch.
    "q7_esdsl_bm25" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {
          |  "must": [{"multi_match": {"query": "window src3",
          |    "fields": ["text", "source"], "type": "best_fields"}}],
          |  "should": [{"match": {"lang": "en"}}]
          |}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // The SAME two-scoring-clause bool routed through the write-time
    // index: each clause becomes one postings probe (round 10) — the
    // per-clause frames full-outer join on the id, no corpus scan
    // anywhere in the scoring path. Shares q7_esdsl_bm25's oracle.
    "q7_esdsl_bm25_probe" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {
          |  "must": [{"multi_match": {"query": "window src3",
          |    "fields": ["text", "source"], "type": "best_fields"}}],
          |  "should": [{"match": {"lang": "en"}}]
          |}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // Query-time `"analyzer": "english"` (round 13): ES semantics
    // against the reference's standard-analyzed mappings — the QUERY
    // analyzes with possessive-strip → stop-filter → Porter stem
    // ("the sorted windows" → stems [sort, window]; "the" drops), and
    // the stems are searched as LITERAL terms against the standard
    // document tokens with the standard BM25 statistics. The oracle
    // therefore replays a plain standard match whose terms are the
    // engine's precomputed stems.
    "q7_esdsl_match_english" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {"query": "the sorted windows",
          |  "analyzer": "english"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its write-time-index twin: stems are standard terms, so
    // the standard postings are exactly the right index — one probe,
    // zero corpus scans, same oracle.
    "q7_esdsl_match_english_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {"query": "the sorted windows",
          |  "analyzer": "english"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // INDEX-TIME english analyzer (round 15): the index holds
    // write-time STEMS (possessive strip → stop filter → Porter) with
    // stop-consumed positions and stop-filtered dl — ES's mapping
    // `"analyzer": "english"`, the commoner deployment (stem at bulk
    // time, not per query). The query analyzes with the FIELD's chain
    // (search_analyzer defaults to the mapping's), so "merging" stems
    // to 'merg' and matches every document holding "merge" — which NO
    // standard-index route can do. BM25 statistics (df/dl/avgdl) are
    // english-side; the oracle replays the stop filter and the fixed
    // testdata vocabulary's stem classes literally.
    "q7_idx_english_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${englishIndexRoot(s, dir)}/documents",
        "the sorted windows merging", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // ... and match_phrase against the english-mapped index: BOTH
    // sides carry stop gaps — query "sorted the windows" analyzes to
    // (sort@0, window@2) and the postings hold stems at their
    // original token indices, so the phrase finds "sort <stop>
    // window" documents; phrase-frequency BM25 over the ENGLISH
    // statistics (stemmed idf sum, stop-filtered dl).
    "q7_idx_english_phrase" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${englishIndexRoot(s, dir)}/documents",
        "sorted the windows", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // INDEX-TIME french analyzer (round 16; light_french since
    // round 17): the index holds write-time LIGHT FRENCH stems
    // (elision → french_stop → FrenchLightStemmer, stop-consumed
    // positions, stop-filtered dl) — exactly ES 8.11's
    // mapping-level prebuilt french chain. The query analyzes with
    // the FIELD's chain: "le filter des data" drops the french
    // stopwords and stems filter→filt, data→data (light keeps
    // 4-letter words whole) — `filt` only THIS index holds (the
    // standard index keeps the surface forms). BM25 statistics are
    // french-side; the oracle replays the fixed testdata
    // vocabulary's french stem classes literally
    // (FrenchStemmerSpec pins the map against the engine).
    "q7_idx_french_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${frIndexRoot(s, dir)}/documents",
        "le filter des data", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // ... and match_phrase against the french-mapped index: BOTH
    // sides carry stop gaps — "le filter de la data" analyzes to
    // (filt@0, data@3) and the postings hold french stems at original
    // token indices (the corpus has no french stopwords, so its
    // positions are dense); phrase-frequency BM25 over the FRENCH
    // statistics.
    "q7_idx_french_phrase" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${frIndexRoot(s, dir)}/documents",
        "le filter de la data", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // INDEX-TIME german analyzer (round 17 — the THIRD language
    // mapping, proving the chain plumbing is N-ary): the index holds
    // write-time LIGHT GERMAN stems (lowercase → german_stop →
    // german_normalization → GermanLightStemmer — exactly ES 8.11's
    // prebuilt german chain). "die filtern von der data" drops the
    // german stopwords and stems filtern→filt, data→data; BM25
    // statistics are german-side (line→lin stems here where
    // light_french keeps it, so the streams genuinely differ).
    "q7_idx_german_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${deIndexRoot(s, dir)}/documents",
        "die filtern von der data", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // ... and match_phrase against the german-mapped index: "die
    // filtern von der data" analyzes to (filt@1, data@4) — the three
    // consumed stop positions survive as the +3 gap — matched at
    // exact offsets in the german-stemmed postings, phrase-BM25 over
    // GERMAN statistics.
    "q7_idx_german_phrase" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${deIndexRoot(s, dir)}/documents",
        "die filtern von der data", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // INDEX-TIME spanish analyzer (round 18 — the FOURTH language
    // mapping): the index holds write-time LIGHT SPANISH stems
    // (lowercase → spanish_stop → SpanishLightStemmer — exactly ES
    // 8.11's prebuilt spanish chain; the corpus token 'a' is a
    // spanish stopword, so it leaves the stream and shortens dl).
    // "las tables y los values" drops the spanish stopwords and
    // stems tables→tabl, values→valu — stems only THIS index holds
    // with THESE statistics (french also maps table/value but stems
    // customer/filter/order too, so the streams genuinely differ).
    "q7_idx_spanish_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${esIndexRoot(s, dir)}/documents",
        "las tables y los values", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // ... and match_phrase against the spanish-mapped index: "las
    // tables de los values" analyzes to (tabl@1, valu@4) — the
    // consumed stop positions survive as the +3 gap — matched at
    // exact offsets in the spanish-stemmed postings (whose positions
    // are original token indices with 'a' slots consumed),
    // phrase-BM25 over SPANISH statistics.
    "q7_idx_spanish_phrase" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${esIndexRoot(s, dir)}/documents",
        "las tables de los values", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // CUSTOM analysis chain as an index MAPPING (round 18): the
    // index holds write-time tokens of a settings-defined chain no
    // prebuilt name covers (whitespace tokenizer + lowercase + stop
    // ["the"] + light_german, NO normalization). The query analyzes
    // with the FIELD's chain: "the merges the tables" drops the
    // custom stopword and stems merges→merg, tables→tabl; BM25
    // statistics are chain-side ('the' leaves the stream, so dl and
    // df differ from every prebuilt mapping of this corpus).
    "q7_idx_custom_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${cuIndexRoot(s, dir)}/documents",
        "the merges the tables", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // search_analyzer (round 18): the edge_ngram index chain emits
    // every 1..6-char token prefix at write time and the mapping's
    // `search_analyzer: standard` analyzes the QUERY with the plain
    // chain — "wind bat" probes the gram postings as the literal
    // terms (every token prefixed wind/bat answers), BM25 over GRAM
    // statistics (dl counts emitted grams). ES's search-as-you-type
    // pairing, impossible without the knob.
    "q7_idx_search_analyzer" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${egIndexRoot(s, dir)}/documents",
        "wind bat", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // INDEX-TIME whitespace analyzer (round 16): the mapping's chain
    // tokenizes at WRITE time (whitespace splits, case/punctuation
    // KEPT) and the query analyzes with the FIELD's chain
    // (search_analyzer defaults to the mapping's) — "window BATCH"
    // keeps 'BATCH' uppercase, a term no whitespace-analyzed document
    // holds (the corpus is lowercase), so it contributes exactly 0.0
    // and the hit set + score are the one-term 'window' BM25 over
    // WHITESPACE statistics. A standard index would fold 'BATCH' to
    // 'batch' and answer differently — the oracle distinguishes the
    // mapping.
    "q7_idx_whitespace_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${wsIndexRoot(s, dir)}/documents",
        "window BATCH", Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // INDEX-TIME keyword analyzer (round 16): the whole field value
    // is ONE write-time term (ES's noop chain — the keyword-mapped
    // `source` column), and the query is one whole-value term too, so
    // match("src3") is an exact-value lookup scored BM25 with tf 1
    // and dl 1 — ES's keyword-field scoring shape.
    "q7_idx_keyword_match" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.ranked(
        s, s"${kwIndexRoot(s, dir)}/documents",
        "src3", Seq("source"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // query-time FRENCH analyzer (round 16 — the second language
    // chain, proving the english plumbing generalizes): elision →
    // lowercase → french_stop → LIGHT french stemmer
    // (functions/FrenchAnalysis → FrenchLightStemmer — since round
    // 17 exactly ES 8.11's prebuilt-french default, golden-pinned
    // in FrenchStemmerSpec). "les groupes et les parts" analyzes to
    // stems [group, part] (stopwords consumed), searched as literal
    // terms against the standard tokens and statistics.
    "q7_esdsl_match_french" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "les groupes et les parts",
          |  "analyzer": "french"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its write-time-index twin: french stems are standard
    // terms, so the standard postings serve them — one probe, zero
    // corpus scans, same oracle.
    "q7_esdsl_match_french_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "les groupes et les parts",
          |  "analyzer": "french"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // french match_phrase: the stop filter consumes positions like
    // english — "les groupes de la sorte" analyzes to (group@0,
    // sort@3), matched at exact offsets in the standard token stream
    // (Positional.phrase), phrase-BM25 scored.
    "q7_esdsl_phrase_french" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "les groupes de la sorte",
          |  "analyzer": "french"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // query-time GERMAN analyzer (round 17 — the third language
    // chain): lowercase → german_stop → german_normalization →
    // LIGHT german stemmer (functions/GermanAnalysis — exactly ES
    // 8.11's prebuilt german analyzer; GermanStemmerSpec pins the
    // vectors). "die sorten und die batches" analyzes to stems
    // [sort, batch] (stopwords consumed, -en/-es stripped),
    // searched as literal terms against the standard tokens and
    // statistics.
    "q7_esdsl_match_german" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "die sorten und die batches",
          |  "analyzer": "german"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its write-time-index twin: german stems are standard
    // terms, so the standard postings serve them — one probe, zero
    // corpus scans, same oracle.
    "q7_esdsl_match_german_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "die sorten und die batches",
          |  "analyzer": "german"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // german match_phrase: the stop filter consumes positions like
    // english/french — "die groupen an der sorten" analyzes to
    // (group@1, sort@4), the +3 stop gap matched at exact offsets
    // in the standard token stream, phrase-BM25 scored. The oracle
    // is SHARED with the french phrase (same stems, same gap) —
    // two different engine-side chains, one answer.
    "q7_esdsl_phrase_german" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "die groupen an der sorten",
          |  "analyzer": "german"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // query-time SPANISH analyzer (round 18 — the fourth language
    // chain): lowercase → spanish_stop → LIGHT spanish stemmer
    // (functions/SpanishAnalysis — exactly ES 8.11's prebuilt
    // spanish analyzer; SpanishStemmerSpec pins the vectors).
    // "la sorte y los partes" analyzes to stems [sort, part]
    // (stopwords consumed, final -e / -es stripped), searched as
    // literal terms against the standard tokens and statistics.
    "q7_esdsl_match_spanish" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "la sorte y los partes",
          |  "analyzer": "spanish"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its write-time-index twin: spanish stems are standard
    // terms, so the standard postings serve them — one probe, zero
    // corpus scans, same oracle.
    "q7_esdsl_match_spanish_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "la sorte y los partes",
          |  "analyzer": "spanish"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // spanish match_phrase: the stop filter consumes positions like
    // the other language chains — "la sorte de los partes" analyzes
    // to (sort@0, part@3) after rebase, the +3 stop gap matched at
    // exact offsets in the standard token stream, phrase-BM25
    // scored.
    "q7_esdsl_phrase_spanish" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "la sorte de los partes",
          |  "analyzer": "spanish"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES `simple` analyzer (round 17): lowercase LETTER-run
    // tokenization — "Window7Batch" splits at the digit into
    // [window, batch] where the standard chain keeps ONE token
    // window7batch (matching nothing here); scored as a plain
    // two-term BM25 over the standard statistics.
    "q7_esdsl_match_simple" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "Window7Batch",
          |  "analyzer": "simple"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES `stop` analyzer (round 17): simple + the classic english
    // stop set — "The Window And The Batch" analyzes to
    // [window, batch], the same two-term BM25 oracle as the simple
    // twin (two different chains, one answer).
    "q7_esdsl_match_stop" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {
          |  "query": "The Window And The Batch",
          |  "analyzer": "stop"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // stop-analyzer match_phrase: the stop filter consumes positions
    // — "sort the window" analyzes to (sort@0, window@2), the same
    // stop-gap layout as the english phrase twin, so the oracle is
    // SHARED with q7_esdsl_phrase_english.
    "q7_esdsl_phrase_stop" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "sort the window",
          |  "analyzer": "stop"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // `analyzer` on query_string (round 17): ES accepts the knob on
    // the classic syntax too — TERM atoms analyze with the named
    // chain ("sorten batches" german-stems to sort/batch, searched
    // as literal standard tokens), occurrence-count scored under
    // the default OR (matching shoulds sum).
    "q7_esdsl_query_string_german" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {
          |  "query": "sorten batches", "default_field": "text",
          |  "analyzer": "german"}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // `analyzer` on simple_query_string (round 17): "sorted +
    // windows" under the english chain — both term atoms stem
    // (sort, window), the + requires both, the scores sum.
    "q7_esdsl_sqs_english" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"simple_query_string": {
          |  "query": "sorted + windows", "fields": ["text"],
          |  "analyzer": "english"}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // zero_terms_query "all" (round 16): a query the french stop
    // filter removes ENTIRELY ("le la les" → zero stems) acts as
    // match_all — every document, constant score 1.0 (ES's escape
    // hatch for stopword-only user input under a removing analyzer).
    "q7_esdsl_zero_terms_all" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {"query": "le la les",
          |  "analyzer": "french", "zero_terms_query": "all"}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // query-time whitespace analyzer (round 15): whitespace-only
    // splitting, CASE KEPT (ES's whitespace analyzer does not
    // lowercase) — "window BATCH" analyzes to [window, BATCH]; the
    // documents are standard-analyzed (lowercase tokens), so 'BATCH'
    // is a term absent from the index (it still counts toward
    // operator / minimum_should_match totals, matching nothing) and
    // the clause scores exactly as a one-term window match.
    "q7_esdsl_match_whitespace" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {"query": "window BATCH",
          |  "analyzer": "whitespace"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // query-time keyword analyzer (round 15): the WHOLE input is one
    // term — a single word probes the standard token stream like a
    // one-term match (sharing the whitespace query's surviving-term
    // oracle); a multi-word input is one token that cannot exist in
    // a standard-analyzed index (spec-pinned zero hits).
    "q7_esdsl_match_keyword" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": {"query": "window",
          |  "analyzer": "keyword"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // multi_match type=phrase (round 13): a match_phrase per listed
    // field, best-field combine (ES = dis_max of field phrases).
    // "the window" never phrase-matches the single-token source
    // column, so its leg scores exactly 0.0 and greatest() keeps the
    // text leg — the hits and scores equal q7_esdsl_phrase_bm25's,
    // sharing its oracle (one oracle, two clause shapes).
    "q7_esdsl_multimatch_phrase" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "the window",
          |  "type": "phrase", "fields": ["text", "source"]}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // multi_match type=cross_fields (round 13): TERM-centric — each
    // term may live in any field ('window' in text, 'src3' in
    // source), operator=and gates per TERM across fields, and each
    // term scores its best field under ONE blended idf whose df is
    // the max across fields (Lucene's BlendedTermQuery). Statistics
    // ride the shared single-row phrase-stats frame.
    "q7_esdsl_cross_fields" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "window src3",
          |  "type": "cross_fields", "operator": "and",
          |  "fields": ["text", "source"]}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // multi_match type=phrase_prefix / bool_prefix (round 13): the
    // remaining per-field compose types — phrase_prefix takes the
    // best field, bool_prefix SUMS the per-field scores. The
    // single-token source column never matches "the s*" / "the win",
    // so its leg contributes exactly 0 under either combine and both
    // share their single-field twins' oracles.
    "q7_esdsl_multimatch_phrase_prefix" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "the s",
          |  "type": "phrase_prefix", "fields": ["text", "source"]}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    "q7_esdsl_multimatch_bool_prefix" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "the win",
          |  "type": "bool_prefix", "fields": ["text", "source"]}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // match_phrase + english (round 13): the stop filter CONSUMES a
    // position, so "sorted the windows" analyzes to (sort@0,
    // window@2) and the phrase matches the literal token "sort" with
    // "window" EXACTLY two standard positions later — Lucene's
    // PhraseQuery over a gapped query, scored with phrase-frequency
    // BM25 on the standard statistics.
    "q7_esdsl_phrase_english" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "sorted the windows",
          |  "analyzer": "english"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // english phrase + SLOP (round 14): each gapped stem may drift
    // ±slop standard positions from its stop-gap offset
    // (Positional.phrase) — "sorted the windows" with slop 1
    // also matches "sort windows" (a document omitting the stopword
    // places "window" one position EARLY, which costs slop) and
    // "sorted the big windows" (one extra token pushes it late).
    // Phrase-frequency BM25 over the standard statistics, like the
    // gapless form.
    "q7_esdsl_phrase_english_slop" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "sorted the windows",
          |  "analyzer": "english", "slop": 1}}}, "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and the positional-postings twin of the gapless english
    // phrase (round 14): query-side english analysis (stems + stop
    // gaps) matched and scored entirely from the index tables
    // (SearchIndex.phraseRanked analyzer="english") — bit-identical
    // to q7_esdsl_phrase_english, one oracle, no corpus scan.
    "q7_esdsl_phrase_english_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "sorted the windows",
        Seq("text"), analyzer = "english")
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // english phrase + slop with THREE gapped stems (round 15): the
    // stems spend ONE SHARED slop budget — the span of adjusted
    // positions pos_k - offset_k, Lucene's sloppy matchLength — not
    // ±slop each. "joined the batches ordered" analyzes to (join@0,
    // batch@2, order@3); with slop 1 the whole tail may shift one
    // position together, but a stem pulled early AND a stem pushed
    // late together cost 2 and must NOT match
    // (Positional.phrase; the >=3-stem budget is what round 14's
    // per-term window got wrong).
    "q7_esdsl_phrase_english_budget" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "joined the batches ordered",
          |  "analyzer": "english", "slop": 1}}}, "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its positional-postings twin
    // (SearchIndex.phraseRanked analyzer="english" slop=1): the SAME
    // shared-budget walk over the postings' position lists —
    // bit-identical hits and scores, one oracle, no corpus scan.
    "q7_esdsl_phrase_english_budget_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${searchIndexRoot(s, dir)}/documents",
        "joined the batches ordered", Seq("text"),
        slop = 1, analyzer = "english")
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // TRANSPOSED sloppy phrase (round 16 — full Lucene parity):
    // "window the" at slop 2 matches every adjacent "the window" in
    // the corpus through the OUT-OF-ORDER alignment (the swap's
    // adjusted-position span is exactly 2 — ES matches "fox quick"
    // for "quick fox" at slop 2). The oracle's windowed join is
    // two-sided: 'the' anywhere in [window - 1, window + 3].
    "q7_esdsl_phrase_slop_transposed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text":
          |  {"query": "window the", "slop": 2}}}, "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its positional-postings twin: the same order-free
    // shared-budget walk over the postings' position lists
    // (SearchIndex.phraseCounts) — bit-identical hits and scores, one
    // oracle, no corpus scan.
    "q7_esdsl_phrase_slop_transposed_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "window the",
        Seq("text"), slop = 2)
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // transposed GAPPED stems (round 16): "windows the sorting"
    // analyzes to (window@0, sort@2) — the reverse of the corpus's
    // "sort ... window" family, so every hit is an out-of-order
    // alignment: "sort window" costs span 3, "sorted the windows"
    // span 4; slop 4 admits both (Positional.phrase's
    // order-free walk over stop-gap offsets).
    "q7_esdsl_phrase_english_transposed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": {
          |  "query": "windows the sorting",
          |  "analyzer": "english", "slop": 4}}}, "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its positional-postings twin — one oracle, two plans.
    "q7_esdsl_phrase_english_transposed_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${searchIndexRoot(s, dir)}/documents",
        "windows the sorting", Seq("text"),
        slop = 4, analyzer = "english")
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // Term-level pattern clauses (round 9): ES wildcard (whole-value,
    // * / ?) -> SQL LIKE, prefix -> LIKE 'x%' (pushed to the scan as
    // StringStartsWith — EsDslPlanCheckSpec pins it), regexp ->
    // anchored RLIKE (ES regexp matches the entire value). All three in
    // one bool; constant scores, id-ordered.
    "q7_esdsl_wildcard" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"bool": {
          |  "filter": [{"wildcard": {"p_name": "*r?d*"}},
          |             {"prefix": {"p_type": {"value": "S"}}}],
          |  "must": [{"regexp": {"p_brand": "Brand#(1[0-9]|2)"}}]
          |}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "part"), body)
    }),

    // match_phrase under PHRASE-FREQUENCY BM25 (round 10 — ES's
    // PhraseQuery model, closing the count-scored deviation): idf =
    // the phrase terms' idf sum, tf = the adjacency count, dl-
    // normalized like the match family.
    "q7_esdsl_phrase_bm25" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": "the window"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and the positional-postings twin: phrase counts, dl, and
    // every statistic from the index tables (SearchIndex.phraseRanked)
    // — bit-identical scores, one oracle, no corpus scan.
    "q7_esdsl_phrase_bm25_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phraseRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "the window",
        Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // ... and the DSL front door with statsIndex (round 11): the SAME
    // verbatim match_phrase body, but the phrase-BM25 STATISTICS
    // (n/avgdl/df) come from fieldstats/termstats instead of a corpus
    // aggregate — one corpus scan total (the positional hit path),
    // down from two. Shares q7_esdsl_phrase_bm25's oracle.
    "q7_esdsl_phrase_stats_probe" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text": "the window"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // match_phrase slop through the DSL translator (round 9): the same
    // sloppy-proximity semantics as q2_search_phrase_slop (transposed
    // alignments included from slop >= 2), arriving in a verbatim ES
    // body; scored with phrase-frequency BM25.
    "q7_esdsl_phrase_slop" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase": {"text":
          |  {"query": "the window", "slop": 2}}}, "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // dis_max (round 9): best-subquery scoring — matches when any
    // subquery matches, scored max + tie_breaker·(sum − max). Here a
    // count-scored phrase against a constant-scored term filter, so
    // the oracle recomputes both subscores exactly.
    "q7_esdsl_dismax" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"dis_max": {"queries": [
          |  {"match_phrase": {"text": "the window"}},
          |  {"term": {"source": "src3"}}],
          |  "tie_breaker": 0.4}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // boosting (round 9): positive hits DEMOTED (not excluded) by
    // negative_boost when they also match the negative query — ES's
    // soft-exclusion. Phrase-count positive, term negative.
    "q7_esdsl_boosting" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"boosting": {
          |  "positive": {"match_phrase": {"text": "the window"}},
          |  "negative": {"term": {"lang": "de"}},
          |  "negative_boost": 0.5}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // match_phrase_prefix (round 9): search-as-you-type — "the s"
    // matches 'the' followed by ANY token starting with 's' (scan,
    // slow, small, sort, spark, stream...), count-scored by start
    // positions like the sloppy-phrase family.
    "q7_esdsl_phrase_prefix" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_phrase_prefix": {"text": "the s"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // term-level fuzzy (round 9): one unanalyzed term within its AUTO
    // edit budget ('windoq', 6 chars → 2 edits) of a field token,
    // scored by the fuzzy-occurrence count.
    "q7_esdsl_fuzzy" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"fuzzy": {"text": {"value": "windoq"}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // fuzzy under ES's DEFAULT transpositions=true: 'windwo' is ONE
    // Damerau edit (adjacent swap) from 'window', so fuzziness 1
    // matches — plain Levenshtein would need 2. The oracle replays
    // with DuckDB's damerau_levenshtein (fuzz-pinned identical to the
    // engine's codegen expression).
    "q7_esdsl_fuzzy_damerau" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"fuzzy": {"text": {"value": "windwo",
          |  "fuzziness": "1"}}}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // the explicit transpositions:false path stays plain Levenshtein:
    // same probe term and budget, so the two result sets bracket the
    // metric difference and both are oracled.
    "q7_esdsl_fuzzy_lev" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"fuzzy": {"text": {"value": "windwo",
          |  "fuzziness": "1", "transpositions": false}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // calendar_interval date_histogram (round 9): calendar WEEK
    // buckets (Monday starts — ES's default, and both engines'
    // date_trunc convention) via date_trunc under the session's pinned
    // UTC zone, bucket key = ES's epoch-millis bucket start, with a
    // cardinality sub-agg. Week chosen over month for oracle strength:
    // the events span ~5 weeks but one month. EsDslSpec pins
    // month/quarter truncation on constructed timestamps.
    "q7_esdsl_calendar_histogram" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_month": {"date_histogram":
          |   {"field": "ts", "calendar_interval": "week"},
          |   "aggs": {"actives":
          |     {"cardinality": {"field": "user_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // date_histogram with a TIME ZONE (round 10): calendar DAY
    // buckets truncated in the zone-local frame (+05:30 — an offset
    // zone keeps the oracle free of tz-database drift), keys = the
    // bucket-start instant's epoch millis, ES's zone-aware bucketing.
    "q7_esdsl_tz_histogram" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "calendar_interval": "day",
          |    "time_zone": "+05:30"},
          |   "aggs": {"actives":
          |     {"cardinality": {"field": "user_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // rate agg (round 10, second lap): per-day order and fill rates
    // inside MONTH calendar buckets — the divisor is each bucket's
    // ACTUAL calendar length (Jan/31, Feb/28 or 29), ES's example
    // arithmetic. doc_count mode and value_count mode in one body;
    // integer numerators keep the one double division bit-stable.
    "q7_esdsl_rate" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_month": {"date_histogram":
          |   {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "orders_per_day": {"rate": {"unit": "day"}},
          |     "fills_per_day": {"rate": {"field": "o_custkey",
          |       "mode": "value_count", "unit": "day"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // cumulative_cardinality (round 10, second lap): distinct
    // customers seen up to each month. ES merges per-bucket HLL
    // sketches; the engine's exact form credits each customer to its
    // FIRST month (one hash agg on the key, one on the bucket, a
    // bucket-table join + running sum — no second corpus pass).
    "q7_esdsl_cum_cardinality" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_month": {"date_histogram":
          |   {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "actives": {"cardinality": {"field": "o_custkey"}},
          |     "total_customers": {"cumulative_cardinality":
          |       {"buckets_path": "actives"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // moving_percentiles (round 10, second lap): quarterly price
    // percentiles over a 3-month trailing window (current bucket
    // INCLUDED — ES's shift default of 1 here, unlike moving_fn).
    // ES merges TDigest sketches; the engine recomputes exactly over
    // the window's raw values — same interpolation as the sibling
    // percentiles metric, same documented exact-vs-sketch deviation.
    "q7_esdsl_moving_percentiles" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_month": {"date_histogram":
          |   {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "price": {"percentiles": {"field": "o_totalprice",
          |       "percents": [25, 50, 75]}},
          |     "mp": {"moving_percentiles":
          |       {"buckets_path": "price", "window": 3}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // serial_diff (round 10): week-over-week differencing of daily
    // event volume — x_t − x_{t−7} over the bucket table; the first 7
    // buckets are null (ES's omitted key under gap_policy skip).
    // Exact long arithmetic end-to-end.
    "q7_esdsl_serial_diff" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {"wow": {"serial_diff":
          |     {"buckets_path": "_count", "lag": 7}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // normalize pipeline (round 10): each day's share of total volume
    // (percent_of_sum) and min-max rescale — whole-table window
    // statistics over the bucket table. Float-stable: long counts stay
    // exact through sum/min/max; each bucket value is then ONE IEEE
    // division (and one sub for the rescale), mirrored in the oracle.
    "q7_esdsl_normalize" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "share": {"normalize": {"buckets_path": "_count",
          |       "method": "percent_of_sum"}},
          |     "resc": {"normalize": {"buckets_path": "_count",
          |       "method": "rescale_0_1"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // bucket_script (round 10): events-per-active-user by day — a
    // Painless arithmetic script over buckets_path params, compiled to
    // one codegen'd Column over the bucket table. Long count / long
    // cardinality = ONE double division, bit-stable cross-engine.
    // scripted_metric (round 11): the canonical sum-fold — weighted
    // value-length accumulation with a ternary gate inside the map
    // expression; folds to ONE aggregate expression (ScriptedMetric),
    // both top-level and per-bucket under the date_histogram twin.
    "q7_esdsl_scripted_metric" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"weighted_chars": {"scripted_metric": {
          |   "init_script": "state.total = 0",
          |   "map_script": "state.total += doc['n_chars'].value * params.w",
          |   "combine_script": "return state",
          |   "reduce_script":
          |     "double t = 0; for (a in states) { t += a.total } return t",
          |   "params": {"w": 2}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // scripted_metric min/max folds (round 13): the other two
    // order-independent families — a scalar Math.min fold (extreme
    // seeds clamp instead of re-adding, so ANY literal seed is
    // shard-count-independent) and an array-collect state folded to a
    // per-shard max by the combine. Both compile to one aggregate
    // expression; mismatched stage folds reject by name.
    "q7_esdsl_scripted_metric_minmax" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {
          |  "min_chars": {"scripted_metric": {
          |   "init_script": "state.m = Double.MAX_VALUE",
          |   "map_script":
          |     "state.m = Math.min(state.m, doc['n_chars'].value * params.w)",
          |   "combine_script": "return state",
          |   "reduce_script":
          |  "double m = Double.MAX_VALUE; for (a in states) { m = Math.min(m, a.m) } return m",
          |   "params": {"w": 2}}},
          |  "max_chars": {"scripted_metric": {
          |   "init_script": "state.vals = []",
          |   "map_script": "state.vals.add(doc['n_chars'].value)",
          |   "combine_script":
          |  "double x = -Double.MAX_VALUE; for (t in state.vals) { x = Math.max(x, t) } return x",
          |   "reduce_script":
          |  "double m = -Double.MAX_VALUE; for (a in states) { m = Math.max(m, a) } return m"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    "q7_esdsl_scripted_metric_bucketed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_lang": {"terms": {"field": "lang", "size": 50},
          |   "aggs": {"long_docs": {"scripted_metric": {
          |     "init_script": "state.n = 0",
          |     "map_script":
          |       "state.n += doc['n_chars'].value > params.cut ? 1 : 0",
          |     "combine_script": "return state.n",
          |     "reduce_script":
          |       "double t = 0; for (a in states) { t += a } return t",
          |     "params": {"cut": 500}}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // bucket_script with a ternary + Math call (round 11): the
    // Painless surface real pipeline scripts use beyond arithmetic.
    "q7_esdsl_bucket_script_ternary" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "actives": {"cardinality": {"field": "user_id"}},
          |     "load": {"bucket_script":
          |       {"buckets_path": {"c": "_count", "u": "actives"},
          |        "script":
          |  "params.u > 0 ? Math.max(params.c / params.u, 1.5) : 0"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    "q7_esdsl_bucket_script" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "actives": {"cardinality": {"field": "user_id"}},
          |     "per_user": {"bucket_script":
          |       {"buckets_path": {"c": "_count", "u": "actives"},
          |        "script": "params.c / params.u"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // bucket_selector (round 10): ES's HAVING — keep only days where
    // volume exceeds twice the active-user count. Pure integer
    // comparison; selective at sf0.001, all-pass at sf0.01 (both
    // non-degenerate).
    "q7_esdsl_bucket_selector" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "actives": {"cardinality": {"field": "user_id"}},
          |     "busy": {"bucket_selector":
          |       {"buckets_path": {"c": "_count", "u": "actives"},
          |        "script": "params.c > params.u * 2"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // stats_bucket + percentiles_bucket siblings (round 10): the
    // bucket table with its own count/min/max/avg/sum and exact
    // interpolated quartiles appended as constants (broadcast
    // single-row join) — ES's buckets-plus-sibling response. Long
    // counts keep the stats exact; quantile interpolation matches
    // DuckDB's quantile_cont op-for-op.
    "q7_esdsl_stats_bucket" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {
          |   "per_day": {"date_histogram":
          |     {"field": "ts", "fixed_interval": "1d"}},
          |   "daily": {"stats_bucket":
          |     {"buckets_path": "per_day>_count"}},
          |   "spread": {"percentiles_bucket":
          |     {"buckets_path": "per_day>_count",
          |      "percents": [25, 50, 75]}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // rare_terms (round 10): the long tail — customers with at most
    // one order, count-ascending (ES's rare-first order). One exact
    // hash agg + post-filter; ES's CuckooFilter approximation is
    // subsumed by exactness.
    "q7_esdsl_rare_terms" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"rare": {"rare_terms":
          |   {"field": "o_custkey", "max_doc_count": 3},
          |   "aggs": {"cheapest": {"min": {"field": "o_totalprice"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // top_metrics inside terms buckets (round 10): per language, the
    // longest document's doc_id — ONE max(struct) aggregate riding the
    // terms agg, ties broken by the metric values (deterministic,
    // mirrored in the oracle's ORDER BY).
    "q7_esdsl_top_metrics" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
          |   "aggs": {"best": {"top_metrics":
          |     {"metrics": [{"field": "doc_id"}],
          |      "sort": [{"n_chars": {"order": "desc"}}]}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // boxplot (round 10): exact quartiles + the IQR whiskers (nearest
    // points inside 1.5·IQR) — quartile pass, then one conditional
    // min/max pass against the broadcast quartile row.
    "q7_esdsl_boxplot" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"price": {"boxplot": {"field": "o_totalprice"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // median_absolute_deviation (round 10): EXACT median of absolute
    // deviations from the exact median (ES's TDigest `compression`
    // knob subsumed by exactness).
    // ── parent/child family (round 10): ES join-field queries over
    // the lake's REAL foreign keys (orders ← lineitem on l_orderkey).
    // The child query compiles on the child frame, aggregates on the
    // join key (parent-cardinality-bounded), and folds into the hit
    // path as one left join — two shuffles, no fan-out. ──

    // has_child score_mode sum: parents of >= 2 high-quantity items,
    // scored by the matching-child count (each child term/range
    // clause scores 1.0 — sum = count, deterministic)
    "q7_esdsl_has_child" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"has_child": {"type": "lineitem",
          |   "query": {"range": {"l_quantity": {"gte": 45}}},
          |   "score_mode": "sum", "min_children": 2}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body,
        relations = tpchRelations(s, dir))
    }),

    // has_parent: items of urgent orders — a key semi-join, constant
    // score, explicit composite sort for determinism
    "q7_esdsl_has_parent" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"has_parent": {"parent_type": "orders",
          |   "query": {"term": {"o_orderpriority": "1-URGENT"}}}},
          | "sort": [{"l_orderkey": "asc"}, {"l_linenumber": "asc"}],
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "lineitem"), body,
        relations = tpchRelations(s, dir))
    }),

    // parent_id: the children of ONE parent (type names the parent
    // relation here — documented deviation, validated by name)
    "q7_esdsl_parent_id" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"parent_id": {"type": "orders", "id": "7"}},
          | "sort": [{"l_linenumber": "asc"}], "size": 100}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "lineitem"), body,
        relations = tpchRelations(s, dir))
    }),

    // children agg: metrics over the matching parents' children (a
    // left-semi join switch of aggregation context)
    "q7_esdsl_children_agg" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"term": {"o_orderpriority": "1-URGENT"}},
          | "aggs": {"kids": {"children": {"type": "lineitem"},
          |   "aggs": {
          |     "min_qty": {"min": {"field": "l_quantity"}},
          |     "max_qty": {"max": {"field": "l_quantity"}},
          |     "n_items": {"value_count": {"field": "l_quantity"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body,
        relations = tpchRelations(s, dir))
    }),

    // t_test (round 10): Welch's unpooled two-sample t (ES's default
    // heteroscedastic type) between en and fr documents' n_chars —
    // filters compile in filter context, the statistic derives from
    // integer-exact power sums in one pass.
    "q7_esdsl_ttest" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"t": {"t_test": {
          |   "a": {"field": "n_chars",
          |     "filter": {"term": {"lang": "en"}}},
          |   "b": {"field": "n_chars",
          |     "filter": {"term": {"lang": "fr"}}},
          |   "type": "heteroscedastic"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // paired t_test (round 10): per-row differences of two integral
    // columns of one table — decimal-exact difference power sums.
    "q7_esdsl_ttest_paired" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"t": {"t_test": {
          |   "a": {"field": "l_partkey"},
          |   "b": {"field": "l_suppkey"},
          |   "type": "paired"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "lineitem"), body)
    }),

    "q7_esdsl_mad" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"spread": {"median_absolute_deviation":
          |   {"field": "o_totalprice", "compression": 1000}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // string_stats (round 10): length stats in one pass + Shannon
    // entropy over the corpus-wide character distribution (explode →
    // char counts → −Σ p·log2 p, round4'd — the one free-order double
    // sum in the response, see EsDsl scaladoc).
    "q7_esdsl_string_stats" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"txt": {"string_stats": {"field": "text"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // matrix_stats (round 10): per-field mean/variance + pairwise
    // covariance/correlation from integer-exact power sums in ONE
    // aggregation (sample n−1 normalization, fixed IEEE op DAG
    // mirrored by the oracle).
    "q7_esdsl_matrix_stats" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"m": {"matrix_stats":
          |   {"fields": ["o_custkey", "o_orderkey"]}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // auto_date_histogram (round 10): the engine picks the interval —
    // smallest fixed rounding (1s..7d ladder) fitting the span into
    // the buckets target; the span probe is one single-row min/max.
    // The 30-day events table at 10 buckets lands on 7d.
    "q7_esdsl_auto_histogram" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"auto": {"auto_date_histogram":
          |   {"field": "ts", "buckets": 10},
          |   "aggs": {"actives":
          |     {"cardinality": {"field": "user_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // span_near (round 10): Lucene positional algebra — "the" followed
    // by (window|batch) within 2 interleaved tokens, in order. The
    // span_or rides the SAME position scan (one token-set slot);
    // span-frequency scored.
    "q7_esdsl_span_near" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_near": {"clauses": [
          |   {"span_term": {"text": "the"}},
          |   {"span_or": {"clauses": [
          |     {"span_term": {"text": "window"}},
          |     {"span_term": {"text": "batch"}}]}}],
          |  "slop": 2, "in_order": true}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // index-probe twin: the SAME span_near body served from the
    // write-time positional postings (query-term-sized IO, no corpus
    // scan) — shares the scan path's oracle, one oracle two plans.
    "q7_esdsl_span_near_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.spanRanked(
        s, s"${searchIndexRoot(s, dir)}/documents",
        Seq(Seq("the"), Seq("window", "batch")), 2, inOrder = true,
        Seq("text"))
      t(s, dir, "documents")
        .join(broadcast(hits), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("score").as("_score"))
        .orderBy(col("_score").desc, col("doc_id"))
    }),

    // unordered span_near (round 10): window and batch within 1
    // interleaved token, either order.
    "q7_esdsl_span_unordered" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_near": {"clauses": [
          |   {"span_term": {"text": "window"}},
          |   {"span_term": {"text": "batch"}}],
          |  "slop": 1, "in_order": false}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_not (round 10): window occurrences with no batch within one
    // token either side.
    "q7_esdsl_span_not" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_not": {
          |  "include": {"span_term": {"text": "window"}},
          |  "exclude": {"span_term": {"text": "batch"}},
          |  "pre": 1, "post": 1}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_first (round 10): (window|batch) among the first 5 tokens.
    "q7_esdsl_span_first" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_first": {
          |  "match": {"span_or": {"clauses": [
          |    {"span_term": {"text": "window"}},
          |    {"span_term": {"text": "batch"}}]}},
          |  "end": 5}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_containing (round 10): big spans [the → window|batch,
    // slop 2, in order] that cover a 'data' token — big-span
    // frequency scored (Lucene returns the big side's spans).
    "q7_esdsl_span_containing" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_containing": {
          |  "big": {"span_near": {"clauses": [
          |    {"span_term": {"text": "the"}},
          |    {"span_or": {"clauses": [
          |      {"span_term": {"text": "window"}},
          |      {"span_term": {"text": "batch"}}]}}],
          |   "slop": 2, "in_order": true}},
          |  "little": {"span_term": {"text": "data"}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_within (round 10): the SAME interval relation scored from
    // the little side — 'data' occurrences covered by a big span.
    "q7_esdsl_span_within" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_within": {
          |  "big": {"span_near": {"clauses": [
          |    {"span_term": {"text": "the"}},
          |    {"span_or": {"clauses": [
          |      {"span_term": {"text": "window"}},
          |      {"span_term": {"text": "batch"}}]}}],
          |   "slop": 2, "in_order": true}},
          |  "little": {"span_term": {"text": "data"}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_multi (round 10): a prefix pattern lifted into span
    // position — token-occurrence frequency, no expansion-set cap.
    "q7_esdsl_span_multi" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_multi": {
          |  "match": {"prefix": {"text": {"value": "win"}}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_multi as a span_near SLOT (round 10): 'the' followed by a
    // win-prefixed token within one interleaved token — the pattern
    // matcher rides the same per-slot position scan.
    "q7_esdsl_span_multi_near" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_near": {"clauses": [
          |   {"span_term": {"text": "the"}},
          |   {"span_multi": {
          |     "match": {"prefix": {"text": {"value": "win"}}}}}],
          |  "slop": 1, "in_order": true}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // span_field_masking (round 10, second lap): cross-field span
    // composition — the source-field term's positions overlay text's
    // position space (Lucene's analyzer-compatible multi-field
    // contract), then ordinary in-order span_near proximity applies.
    // source is a one-token stream, so the masked slot anchors the
    // window at position 1.
    "q7_esdsl_span_masked" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"span_near": {"clauses": [
          |   {"span_field_masking": {
          |     "query": {"span_term": {"source": "src3"}},
          |     "field": "text"}},
          |   {"span_term": {"text": "window"}}],
          |  "slop": 3, "in_order": true}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // intervals (round 10): any_of over an ordered proximity rule and
    // an unordered pair rule — interval-frequency sum scored.
    "q7_esdsl_intervals" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"intervals": {"text": {"any_of": {"intervals": [
          |   {"match": {"query": "the window", "max_gaps": 1,
          |     "ordered": true}},
          |   {"match": {"query": "window batch", "max_gaps": 2,
          |     "ordered": false}}]}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // terms-level pipelines (round 10): ES's HAVING over the returned
    // terms buckets — bucket_script computes chars-per-doc, a chained
    // bucket_selector filters on it, bucket_sort re-orders and pages.
    // All reduce-phase (<= size buckets), applied after the top-size
    // cut like ES.
    "q7_esdsl_terms_having" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_src": {"terms":
          |   {"field": "source", "size": 20},
          |   "aggs": {
          |     "chars": {"sum": {"field": "n_chars"}},
          |     "per_doc": {"bucket_script":
          |       {"buckets_path": {"s": "chars", "c": "_count"},
          |        "script": "params.s / params.c"}},
          |     "keep": {"bucket_selector":
          |       {"buckets_path": {"p": "per_doc"},
          |        "script": "params.p >= 300"}},
          |     "top": {"bucket_sort": {"sort":
          |       [{"per_doc": {"order": "desc"}}], "size": 5}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // script_score (round 10): re-score matches with a Painless
    // arithmetic script — _score, doc['field'].value and
    // script.params compile to ONE codegen'd projection
    // (serving/BucketScript.scala), no joins.
    "q7_esdsl_script_score" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"script_score": {
          |  "query": {"query_string": {"query": "text:window"}},
          |  "script": {
          |    "source": "_score * (doc['n_chars'].value + params.base) / 100",
          |    "params": {"base": 50}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // post_filter + top-level min_score (round 10): the faceted-search
    // staple — hits gated by the query-phase score floor, then
    // narrowed by the post filter (aggs, when present, would keep the
    // full match set; hits-only here for the oracle).
    "q7_esdsl_post_filter" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:window"}},
          | "post_filter": {"term": {"lang": "en"}},
          | "min_score": 2,
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // date_histogram offset (round 10): day buckets shifted to 06:00
    // boundaries — ES's day-boundary knob; exact long arithmetic.
    "q7_esdsl_offset_histogram" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d", "offset": "+6h"},
          |   "aggs": {"peak": {"max": {"field": "value"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // numeric histogram offset (round 10): price buckets anchored at
    // 25000 + k*50000 — floor((x − o)/iv)·iv + o, each step one IEEE
    // op, mirrored.
    "q7_esdsl_offset_price" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"price": {"histogram":
          |   {"field": "o_totalprice", "interval": 50000,
          |    "offset": 25000}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // filters other_bucket (round 10): the catch-all bucket — docs
    // matching NO named filter, riding the same single conditional
    // pass, custom key honored.
    "q7_esdsl_filters_other" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"kinds": {"filters": {
          |   "filters": {
          |     "short_docs": {"range": {"n_chars": {"lt": 200}}},
          |     "src3": {"term": {"source": "src3"}}},
          |   "other_bucket_key": "rest"},
          |   "aggs": {"min_len": {"min": {"field": "n_chars"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // significant_terms background_filter (round 10): sources
    // over-represented among 'dup' docs vs the ENGLISH background
    // only — ES's narrowed-context knob; same one-pass conditional
    // JLH, bg-absent terms dropped like ES.
    "q7_esdsl_sig_background" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:dup"}},
          | "aggs": {"sig_src": {"significant_terms":
          |   {"field": "source", "size": 10,
          |    "background_filter": {"term": {"lang": "en"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // linear decay function_score (round 10): score decays with
    // distance from a price origin — ES's proximity booster. Pure
    // IEEE arithmetic (no exp/ln in the hot path), op order mirrored;
    // the transcendental tiers (gauss/exp) are spec-gated like the
    // other libm-dependent families.
    "q7_esdsl_decay" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"function_score": {
          |  "query": {"match_all": {}},
          |  "functions": [{"linear": {"o_totalprice":
          |    {"origin": 100000, "scale": 50000, "offset": 10000,
          |     "decay": 0.5}}}],
          |  "boost_mode": "replace"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // query_string (round 9): the STRICT full Lucene classic syntax —
    // field scoping, classic AND occur resolution (the leading clause
    // is retroactively promoted to MUST by the following AND), a
    // boosted term, a `?` token wildcard, an OR group, an inclusive
    // range, and a NOT. Score = 2·tf(window) + wildcard token count +
    // matched-should sum (the lang group) + 1.0 (range constant) —
    // the documented occurrence-count families.
    "q7_esdsl_query_string" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query":
          |  "text:window^2 AND text:sc?n AND (lang:en OR lang:fr) AND n_chars:[100 TO 500] NOT source:src7"
          |  }}, "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ES PARENT pipeline aggregations (round 9): cumulative_sum and
    // derivative ride a window over the date_histogram bucket table —
    // bucket-count-sized post-processing, never data-sized. Metrics
    // chosen for cross-engine float stability: the cumulative path is
    // exact long arithmetic (_count), the derivative differences two
    // identical doubles (max).
    "q7_esdsl_pipeline" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "peak": {"max": {"field": "value"}},
          |     "cum_events": {"cumulative_sum": {"buckets_path": "_count"}},
          |     "peak_delta": {"derivative": {"buckets_path": "peak"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // bucket_sort: the "top buckets" pipeline — sort the histogram's
    // buckets by a bucket value and truncate, ES's reduce-phase
    // equivalent of ORDER BY ... LIMIT over the bucket table.
    "q7_esdsl_bucket_sort" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {
          |     "actives": {"cardinality": {"field": "user_id"}},
          |     "top": {"bucket_sort": {"sort":
          |       [{"_count": {"order": "desc"}}], "size": 5}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // function_score (round 9): per-document re-ranking — occurrence
    // base score × sqrt(n_chars) (field_value_factor; sqrt is
    // IEEE-correctly-rounded, so both engines agree bit-for-bit) × a
    // lang-gated weight. One codegen'd projection, no joins.
    "q7_esdsl_function_score" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"function_score": {
          |  "query": {"query_string": {"query": "text:window"}},
          |  "functions": [
          |    {"field_value_factor": {"field": "n_chars",
          |      "modifier": "sqrt", "missing": 1}},
          |    {"filter": {"term": {"lang": "en"}}, "weight": 2}],
          |  "score_mode": "multiply", "boost_mode": "multiply"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // significant_terms (round 9): sources over-represented among
    // docs containing the 'dup' token vs the whole corpus, JLH-scored
    // — ES's "what is unusual about this match set" agg. Two
    // term-sized hash aggs + broadcast single-row totals.
    "q7_esdsl_significant_terms" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:dup"}},
          | "aggs": {"sig_src": {"significant_terms":
          |   {"field": "source", "size": 10}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // moving_fn (round 9): 7-day trailing average of daily event
    // volume — the canonical smoothing pipeline; builtin
    // MovingFunctions script over the PRECEDING window.
    "q7_esdsl_moving_fn" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d"},
          |   "aggs": {"trail": {"moving_fn": {"buckets_path": "_count",
          |     "window": 7,
          |     "script": "MovingFunctions.unweightedAvg(values)"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // sibling *_bucket pipelines: the bucket table plus its own
    // avg/max reduced alongside — ES's buckets+sibling response,
    // projected flat as constant columns (broadcast single-row join).
    "q7_esdsl_sibling_bucket" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {
          |   "per_day": {"date_histogram":
          |     {"field": "ts", "fixed_interval": "1d"}},
          |   "avg_daily": {"avg_bucket":
          |     {"buckets_path": "per_day>_count"}},
          |   "peak_daily": {"max_bucket":
          |     {"buckets_path": "per_day>_count"}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // match_bool_prefix: independent bool clauses, last term a prefix
    // — the non-positional search-as-you-type sibling.
    "q7_esdsl_bool_prefix" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_bool_prefix": {"text": "the win"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // nested query (round 9): per-element evaluation over the
    // labels array-of-struct — BOTH conditions must hold on the SAME
    // label (the semantics that separate ES nested docs from
    // flattened objects; the reference indexes tickets' labels
    // nested exactly so — src/ticket_sync.py:44-49). One
    // higher-order array predicate; labels jsonified only for the
    // oracle hash, like denorm_tickets_nested.
    "q7_esdsl_nested_query" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"nested": {"path": "labels", "score_mode": "sum",
          |  "query": {"bool": {"must": [
          |    {"term": {"labels.color": "Brand#12"}},
          |    {"range": {"labels.id": {"lte": 1000}}}]}}}},
          | "size": 100, "sort": [{"l_orderkey": {"order": "asc"}}]}"""
          .stripMargin)
      graft.serving.EsDsl.search(
        graft.operators.Denormalize.labelStructsPerOrder(
          t(s, dir, "lineitem"), t(s, dir, "part")), body)
        .withColumn("labels", to_json(col("labels")))
    }),

    // nested + inner_hits: the matching elements ride each hit as an
    // array column (element order — ES's constant-score inner order),
    // capped at size 2; jsonified for the oracle hash like the parent
    // array.
    "q7_esdsl_inner_hits" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"nested": {"path": "labels", "score_mode": "sum",
          |  "query": {"bool": {"must": [
          |    {"term": {"labels.color": "Brand#12"}},
          |    {"range": {"labels.id": {"lte": 1000}}}]}},
          |  "inner_hits": {"size": 2}}},
          | "size": 100, "sort": [{"l_orderkey": {"order": "asc"}}],
          | "_source": ["l_orderkey"]}""".stripMargin)
      graft.serving.EsDsl.search(
        graft.operators.Denormalize.labelStructsPerOrder(
          t(s, dir, "lineitem"), t(s, dir, "part")), body)
        .withColumn("inner_hits_labels", to_json(col("inner_hits_labels")))
    }),

    // nested aggregation: label-color distribution over the nested
    // elements (doc_count = nested docs, ES's convention) — one
    // explode + one hash agg.
    "q7_esdsl_nested_agg" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"labels": {"nested": {"path": "labels"},
          |   "aggs": {"by_color": {"terms":
          |     {"field": "labels.color", "size": 10}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(
        graft.operators.Denormalize.labelStructsPerOrder(
          t(s, dir, "lineitem"), t(s, dir, "part")), body)
    }),

    // reverse_nested (round 10): the nested agg's join-back — each
    // brand bucket ALSO reports how many parent orders contributed
    // labels (distinct parent ids riding the same aggregation).
    "q7_esdsl_reverse_nested" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"labels": {"nested": {"path": "labels"},
          |   "aggs": {"by_color": {"terms":
          |     {"field": "labels.color", "size": 10},
          |     "aggs": {"orders": {"reverse_nested": {}}}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(
        graft.operators.Denormalize.labelStructsPerOrder(
          t(s, dir, "lineitem"), t(s, dir, "part")), body)
    }),

    // ── Geo / sampling / ip family (round 10): the testdata carries
    // no geo_point or ip column, so BOTH engines derive identical
    // synthetic values from c_custkey (custGeo/custIp and their SQL
    // twins) — the oracles pin real end-to-end behavior, not fixtures.

    // geo_distance QUERY: haversine radius filter (Lucene mean-radius
    // arc), constant-score in query context.
    "q7_esdsl_geo_distance" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"geo_distance": {"distance": "3000km",
          |   "loc": {"lat": 0, "lon": 0}}},
          | "size": 10000}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
        .drop("loc")
    }),

    // geo_bounding_box QUERY across the date line (left 150 > right
    // -120 → the lon disjunction branch).
    "q7_esdsl_geo_bbox" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"geo_bounding_box": {"loc": {
          |   "top_left": {"lat": 60, "lon": 150},
          |   "bottom_right": {"lat": -20, "lon": -120}}}},
          | "size": 10000}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
        .drop("loc")
    }),

    // geo_shape QUERY (round 10, second lap): polygon-WITH-HOLE
    // membership via even-odd ray casting unrolled into column
    // arithmetic (one crossing term per edge). The oracle proves the
    // SAME region with half-plane tests (the outer diamond is
    // convex) minus the hole box — two independent formulations, one
    // membership. Vertices end in .005 so the two-decimal synthetic
    // grid never lands on a boundary.
    "q7_esdsl_geo_shape" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"geo_shape": {"loc": {"shape":
          |  {"type": "polygon", "coordinates": [
          |    [[-60.005, 0], [0, -50.005], [60.005, 0], [0, 50.005],
          |     [-60.005, 0]],
          |    [[-20.005, -15.005], [20.005, -15.005],
          |     [20.005, 15.005], [-20.005, 15.005],
          |     [-20.005, -15.005]]]},
          |  "relation": "intersects"}}},
          | "size": 10000}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
        .drop("loc")
    }),

    // geo_bounds AGG: the data spans almost the whole lon circle, so
    // ES's wrap_longitude default picks the date-line-crossing box —
    // the wrap branch is what this query pins.
    "q7_esdsl_geo_bounds" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}}, "size": 0,
          | "aggs": {"viewport": {"geo_bounds": {"field": "loc"}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // geo_centroid AGG: mean lat/lon + contributing count (round4 on
    // the free-order double means — the string_stats precedent).
    "q7_esdsl_geo_centroid" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"range": {"c_acctbal": {"gte": 0}}}, "size": 0,
          | "aggs": {"center": {"geo_centroid": {"field": "loc"}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // geo_distance AGG: km ring buckets around a fixed origin with a
    // per-ring max metric — one conditional pass, zero joins.
    "q7_esdsl_geo_distance_agg" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}}, "size": 0,
          | "aggs": {"rings": {"geo_distance": {"field": "loc",
          |   "origin": {"lat": 0, "lon": 30}, "unit": "km",
          |   "ranges": [{"to": 3000}, {"from": 3000, "to": 8000},
          |              {"from": 8000}]},
          |  "aggs": {"top_bal": {"max": {"field": "c_acctbal"}}}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // geotile_grid AGG: slippy-map tiles at zoom 4 — pure column
    // arithmetic, one hash agg.
    "q7_esdsl_geotile_grid" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}}, "size": 0,
          | "aggs": {"tiles": {"geotile_grid":
          |   {"field": "loc", "precision": 4}}}}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // geohash_grid AGG: from-scratch base32 geohash (bit-interleave
    // column arithmetic) at precision 2; the oracle re-derives the
    // hash with independently generated DuckDB bit SQL.
    "q7_esdsl_geohash_grid" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}}, "size": 0,
          | "aggs": {"cells": {"geohash_grid":
          |   {"field": "loc", "precision": 2}}}}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // ip_range AGG: from/to buckets plus the CIDR mask form over a
    // derived dotted-quad column (string → u32 in codegen'd column
    // arithmetic; the oracle parses the same strings in SQL).
    "q7_esdsl_ip_range" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}}, "size": 0,
          | "aggs": {"nets": {"ip_range": {"field": "ip",
          |   "ranges": [{"to": "10.0.8.0"},
          |              {"from": "10.0.8.0", "to": "10.0.32.0"},
          |              {"mask": "10.0.32.0/19"},
          |              {"from": "10.0.64.0"}]}}}}""".stripMargin)
      graft.serving.EsDsl.search(custIp(t(s, dir, "customer")), body)
    }),

    // sampler AGG: sub-aggregations over the top-scoring shard_size
    // docs (one TakeOrdered; deterministic via the id tiebreak where
    // ES's per-shard cut is topology-dependent).
    "q7_esdsl_sampler" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:window"}},
          | "size": 0,
          | "aggs": {"sample": {"sampler": {"shard_size": 50},
          |   "aggs": {"top_len": {"max": {"field": "n_chars"}},
          |            "n": {"value_count": {"field": "doc_id"}}}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // diversified_sampler AGG: per-lang cap (max_docs_per_value 3)
    // before the top cut, then a child terms agg RECURSES over the
    // sample frame — the bucket-child composition path.
    "q7_esdsl_diversified_sampler" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:window"}},
          | "size": 0,
          | "aggs": {"sample": {"diversified_sampler":
          |   {"shard_size": 30, "field": "lang",
          |    "max_docs_per_value": 3},
          |   "aggs": {"langs": {"terms":
          |     {"field": "lang", "size": 20}}}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // _count API: the match-set size of a query body — filter-context
    // compile (no scoring machinery), one distributed aggregate.
    "q7_esdsl_count" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match": {"text": "window"}}}""")
      graft.serving.EsDsl.countFrame(t(s, dir, "documents"), body)
    }),

    // terms LOOKUP (round 10): the term list is READ from another
    // document at compile time (doc 7's lang) — ES's GET-by-id
    // rewrite, here a bounded point-lookup collect through the same
    // index resolver the HTTP layer registers.
    "q7_esdsl_terms_lookup" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"terms": {"lang":
          |  {"index": "documents", "id": "7", "path": "lang"}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        lookup = Some(name =>
          scala.util.Try(t(s, dir, name)).toOption.map(df => (df, Nil))))
    }),

    // runtime_mappings: a search-time computed field drives the
    // query, the sort, and the fields response section — the raw
    // column never reaches the hits (ES's runtime-fields contract).
    "q7_esdsl_runtime" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"runtime_mappings": {"total": {"type": "double",
          |   "script": {"source":
          |     "emit(doc['c_acctbal'].value * params.f + 10)",
          |     "params": {"f": 2}}}},
          | "query": {"range": {"total": {"gte": 15000}}},
          | "sort": [{"total": "desc"}],
          | "fields": ["total"],
          | "size": 10000}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "customer"), body)
    }),

    // script_fields + fields in one body: a per-hit computed value
    // (page-sized work, ES's fetch phase) beside a concrete-column
    // fields entry.
    "q7_esdsl_script_fields" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"term": {"c_mktsegment": "BUILDING"}},
          | "script_fields": {"ratio": {"script": {"source":
          |   "doc['c_acctbal'].value / params.d",
          |   "params": {"d": 100}}}},
          | "fields": ["c_name"],
          | "size": 10000}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "customer"), body)
    }),

    // _geo_distance sort: nearest-first page around an origin — the
    // haversine sort key computes per row, the page is one
    // TakeOrdered, missing points sort at Infinity.
    "q7_esdsl_geo_sort" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "sort": [{"_geo_distance": {"loc": {"lat": 0, "lon": 30},
          |   "order": "asc", "unit": "km"}}],
          | "size": 120}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
        .drop("loc")
    }),

    // _script sort: the computed-key sort twin — painless arithmetic
    // over the hit row picks the page.
    "q7_esdsl_script_sort" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "sort": [{"_script": {"type": "number",
          |   "script": {"source": "0 - doc['c_acctbal'].value"},
          |   "order": "asc"}}],
          | "size": 150}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "customer"), body)
    }),

    // rescore (round 9): two-phase ranking — occurrence-ranked
    // primary, top-50 window recombined with a double-weighted phrase
    // score. The window is one TakeOrdered; the page re-sorts within
    // it by the combined score.
    "q7_esdsl_rescore" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"query_string": {"query": "text:window"}},
          | "rescore": {"window_size": 50, "query": {
          |   "rescore_query": {"match_phrase": {"text": "the window"}},
          |   "query_weight": 1, "rescore_query_weight": 2}},
          | "size": 20}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // terms_set: per-document match threshold — at least `doc_id % 3`
    // of the supplied terms must token-match.
    "q7_esdsl_terms_set" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"terms_set": {"text": {
          |   "terms": ["window", "batch", "dup"],
          |   "minimum_should_match_field": "req"}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(
        t(s, dir, "documents")
          .withColumn("req", (col("doc_id") % 3).cast("int")), body)
    }),

    // significant_text (round 9): TOKENS over-represented among the
    // zh-language docs vs the whole corpus — doc-frequency JLH, the
    // free-text variant of significant_terms.
    "q7_esdsl_significant_text" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"term": {"lang": "zh"}},
          | "aggs": {"sig": {"significant_text":
          |   {"field": "text", "size": 10}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // term suggester: spell-correction from the corpus vocabulary —
    // per input token, the terms within 2 edits ranked by (distance,
    // doc frequency); suggest-only body, ES's suggest surface.
    "q7_esdsl_suggest" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"fix": {"text": "windoq bath",
          |  "term": {"field": "text"}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // The suggester's WRITE-TIME-INDEX twin: candidates from the
    // termstats vocabulary (term-cardinality-sized), never a corpus
    // re-scan — Lucene's DirectSpellChecker shape. Same oracle as the
    // scan path: termstats' df IS the doc frequency.
    "q7_esdsl_suggest_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.suggest(s,
        s"${searchIndexRoot(s, dir)}/documents", "text", "windoq bath")),

    // suggest_mode=popular + sort=frequency (round 15): popular keeps
    // only candidates MORE FREQUENT than the input token (so the
    // in-vocabulary 'window' gets nothing — no neighbor outranks it —
    // while the absent 'windoq' gets its corrections), and the
    // frequency sort puts the corpus-frequency key first. Scan and
    // termstats-probe twins share the oracle.
    "q7_esdsl_suggest_popular" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"fix": {"text": "windoq window",
          |  "term": {"field": "text", "suggest_mode": "popular",
          |  "sort": "frequency"}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),
    "q7_esdsl_suggest_popular_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.suggest(s,
        s"${searchIndexRoot(s, dir)}/documents", "text",
        "windoq window", mode = "popular", byFrequency = true)),

    // phrase suggester: whole-phrase corrections ranked by the bigram
    // stupid-backoff language model over the corpus (single-token
    // error budget, ES's max_errors default) — 'windoq' corrects to
    // the vocabulary word whose bigram context (the _, _ scan) the
    // corpus likes best.
    "q7_esdsl_phrase_suggest" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"fix": {"text": "windoq bath scan",
          |  "phrase": {"field": "text"}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // completion suggester (round 15): autocomplete over a string
    // column's values — options are documents whose value starts with
    // the typed prefix (case-folded, ES's `simple` completion
    // analyzer), weightless score 1.0, ranked by surface form then id
    // (the FST's term-order traversal). The third ES suggester family
    // alongside term and phrase.
    "q7_esdsl_completion_suggest" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "wind",
          |  "completion": {"field": "text", "size": 10}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and the completion suggester's INDEX twin: the same options
    // from the write-time index's (fid, lowercased-input)-SORTED
    // inputs dictionary — the prefix probe is a pushed
    // StringStartsWith whose range skips non-matching row groups, the
    // columnar analog of ES's FST walk; zero corpus scans, one
    // oracle, two plans.
    "q7_esdsl_completion_suggest_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.completionRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "wind", "text",
        size = 10)),

    // FUZZY completion (round 15): the typed prefix may differ from
    // the matched input prefix by <= fuzziness edits (Damerau, ES's
    // default transpositions), first prefix_length chars exact
    // (default 1) — "wimd" reaches every "wind..." value at one
    // substitution (Search.completionPrefixPredicate: a bounded
    // disjunction of substring edit distances, ES's Levenshtein-
    // automaton-over-FST model).
    "q7_esdsl_completion_fuzzy" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "wimd",
          |  "completion": {"field": "text", "size": 10,
          |  "fuzzy": {"fuzziness": 1}}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its dictionary-probe twin: the exact head still pushes
    // as StartsWith into the sorted inputs scan; the edit-distance
    // disjunction filters the surviving row groups. One oracle, two
    // plans, zero corpus scans.
    "q7_esdsl_completion_fuzzy_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.completionRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "wimd", "text",
        size = 10, edits = 1)),

    // completion CATEGORY contexts (round 15): a context name is a
    // sibling column — options must hold one of the listed values
    // there (names intersect, values union, ES's category-context
    // gating). Scan path filters the column; the dictionary twin
    // semi-joins the prefix hits against the context field's own
    // inputs rows with the value list pushed down.
    "q7_esdsl_completion_contexts" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "wind",
          |  "completion": {"field": "text", "size": 10,
          |  "contexts": {"lang": ["en", "fr"]}}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),
    "q7_esdsl_completion_contexts_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.completionRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "wind", "text",
        size = 10,
        contexts = Seq("lang" -> Seq("en" -> 1.0, "fr" -> 1.0)))),

    // BOOSTED category contexts (round 16): a matched
    // `{"context": ..., "boost": ...}` entry multiplies the option's
    // weightless 1.0 — 'en' options score 2.0 and outrank the 'fr'
    // ones (several matching contexts would take the max, ES's
    // documented multi-context scoring).
    "q7_esdsl_completion_context_boost" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "wind",
          |  "completion": {"field": "text", "size": 10,
          |  "contexts": {"lang": [{"context": "en", "boost": 2},
          |               "fr"]}}}}}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),
    "q7_esdsl_completion_context_boost_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.completionRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "wind", "text",
        size = 10,
        contexts = Seq("lang" -> Seq("en" -> 2.0, "fr" -> 1.0)))),

    // GEO completion contexts (round 17; ES-default NEIGHBOUR cells
    // round 18): the context name is a struct<lat,lon> geo_point
    // column — an option matches when its point falls in the query
    // point's base32 geohash cell at the entry's precision OR (ES
    // 8.11's GeoQueryContext default) one of its 8 NEIGHBOUR cells,
    // so each entry gates a 3×3 cell block. Two blocks here: around
    // (10,20) boosted 2.0 and around (-50,-150) weightless (its
    // precision spelled as the ES distance string "10000km" — the
    // level-1 cell edge bound); matched boosts take the max, so
    // near options outrank far ones. The oracle re-derives both
    // neighbourhoods INDEPENDENTLY: at one precision the cells form
    // a regular lon/lat grid, so neighbour-or-same is |Δx| ≤ 1
    // modulo the grid width AND |Δy| ≤ 1 on raw quantized cell
    // indexes — no base32 at all.
    "q7_esdsl_completion_geo" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "bu",
          |  "completion": {"field": "c_mktsegment", "size": 25,
          |  "contexts": {"loc": [
          |    {"context": {"lat": 10, "lon": 20}, "precision": 1,
          |     "boost": 2},
          |    {"context": {"lat": -50, "lon": -150},
          |     "precision": "10000km"}]}}}}}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // ... and the explicit `neighbours` knob: ONE entry at precision
    // 2 with neighbours [1, 2] — the match set is the exact
    // precision-2 cell, its 8 precision-2 neighbours, and the 8
    // precision-1 neighbours of the coarser containing cell (ES's
    // truncated-hash neighbour generation). The oracle replays it as
    // (3×3 block at precision 2) OR (3×3 block at precision 1 MINUS
    // the exact precision-1 cell), on independent cell-index
    // arithmetic.
    "q7_esdsl_completion_geo_neighbours" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"prefix": "bu",
          |  "completion": {"field": "c_mktsegment", "size": 25,
          |  "contexts": {"loc": [
          |    {"context": {"lat": 10, "lon": 20}, "precision": 2,
          |     "neighbours": [1, 2], "boost": 2}]}}}}}""".stripMargin)
      graft.serving.EsDsl.search(custGeo(t(s, dir, "customer")), body)
    }),

    // REGEX completion (round 16 — ES's third completion input
    // form): the pattern matches from the START of the case-folded
    // input with an open end (the FST-regex intersection: any
    // continuation completes) — "wi[nm]d" reaches the wind* values
    // through the character class.
    "q7_esdsl_completion_regex" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"suggest": {"ac": {"regex": "wi[nm]d",
          |  "completion": {"field": "text", "size": 10}}}}"""
          .stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // ... and its dictionary twin: the same anchored pattern filters
    // the sorted inputs dictionary (no prefix pushdown — RLIKE is
    // not a pushed predicate — but the read stays dictionary-sized,
    // never corpus-sized; ES's own regex FST walk is likewise
    // super-linear in the automaton).
    "q7_esdsl_completion_regex_indexed" -> ((s, dir) =>
      graft.sinks.SearchIndex.completionRanked(
        s, s"${searchIndexRoot(s, dir)}/documents", "", "text",
        size = 10, regex = Some("wi[nm]d"))),

    // gap-filled date_histogram (round 9): min_doc_count 0 +
    // extended_bounds — every aligned day bucket in the extended
    // range appears, empties with doc_count 0 and null metrics (ES's
    // dense time-series response). The key range comes from a
    // broadcast single-row bounds aggregate, never a driver collect.
    "q7_esdsl_gap_fill" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"per_day": {"date_histogram":
          |   {"field": "ts", "fixed_interval": "1d",
          |    "min_doc_count": 0,
          |    "extended_bounds": {"min": 1703808000000,
          |                        "max": 1706832000000}},
          |   "aggs": {"peak": {"max": {"field": "value"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // weighted_avg: Σ(value·weight)/Σ(weight) over integral columns —
    // exact on both engines (one division of exact integer sums).
    "q7_esdsl_weighted_avg" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"wavg": {"weighted_avg": {
          |   "value": {"field": "n_chars"},
          |   "weight": {"field": "w"}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(
        t(s, dir, "documents").withColumn("w", col("doc_id") % 10 + 1),
        body)
    }),

    // multi_terms: composite-key terms buckets (status × priority),
    // top-N by doc_count with the key tuple ascending as tiebreak.
    "q7_esdsl_multi_terms" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"by_sp": {"multi_terms": {"terms": [
          |    {"field": "o_orderstatus"},
          |    {"field": "o_orderpriority"}], "size": 10},
          |   "aggs": {"n_customers":
          |     {"cardinality": {"field": "o_custkey"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // percentile_ranks: exact share of values <= x (ES's TDigest is
    // approximate) — integer counts, one division.
    "q7_esdsl_percentile_ranks" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"pr": {"percentile_ranks": {
          |   "field": "o_totalprice", "values": [10000, 100000]}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "orders"), body)
    }),

    // adjacency_matrix: filters + pairwise intersections in ONE
    // conditional aggregation pass — co-occurrence analytics.
    "q7_esdsl_adjacency" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"adj": {"adjacency_matrix": {"filters": {
          |   "en": {"term": {"lang": "en"}},
          |   "long": {"range": {"n_chars": {"gte": 300}}},
          |   "src3": {"term": {"source": "src3"}}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // more_like_this (round 9): like-text terms window/batch/merge
    // all survive selection on this corpus (each common, well above
    // min_doc_freq; 'qqq' has doc freq 0 and drops out), so the
    // oracle enumerates the chosen terms statically — required =
    // max(1, floor(67% of 3)) = 2 of the 3 must match.
    "q7_esdsl_mlt" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"more_like_this": {"fields": ["text"],
          |  "like": "window batch merge qqq",
          |  "min_term_freq": 1, "min_doc_freq": 1,
          |  "minimum_should_match": "67%"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // more_like_this with its term-selection STATISTICS served from
    // the write-time index (fieldstats n + termstats df — round 10):
    // integer-identical numbers, so selection and scoring match the
    // scan path bit for bit; request cost drops from two corpus scans
    // (count + doc-freq aggregate) to two query-term-sized index
    // probes. SearchIndexSpec pins that the probe plans read ONLY
    // index tables.
    "q7_esdsl_mlt_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"more_like_this": {"fields": ["text"],
          |  "like": "window batch merge qqq",
          |  "min_term_freq": 1, "min_doc_freq": 1,
          |  "minimum_should_match": "67%"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body,
        statsIndex = Some(s"${searchIndexRoot(s, dir)}/documents"))
    }),

    // rank_feature (round 9): saturation relevance from the n_chars
    // feature — x/(x+pivot), one exact division.
    "q7_esdsl_rank_feature" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"rank_feature": {"field": "n_chars",
          |  "saturation": {"pivot": 250}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // distance_feature: recency ranking around Jan 15 with a 7-day
    // pivot — boost·pivot/(pivot + |ts − origin|).
    "q7_esdsl_distance_feature" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"distance_feature": {"field": "ts",
          |  "origin": "2024-01-15T00:00:00Z", "pivot": "7d"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // pinned: curated ids first (in order), organic hits after.
    "q7_esdsl_pinned" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"pinned": {"ids": [42, 7, 300],
          |  "organic": {"query_string": {"query": "text:window"}}}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // combined_fields (round 9): term-centric BM25 over text+source
    // as ONE combined field — contrast with q7_esdsl_bm25's
    // field-centric multi_match over the same fields.
    "q7_esdsl_combined_fields" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"combined_fields": {"query": "window src3",
          |  "fields": ["text", "source"]}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "documents"), body)
    }),

    // composite with a date_histogram source (round 9): the
    // time-series export walk — (day, event_type) pages in source
    // order, resumable with after like any composite.
    "q7_esdsl_composite_date" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"match_all": {}},
          | "aggs": {"walk": {"composite": {"size": 12, "sources": [
          |   {"day": {"date_histogram":
          |     {"field": "ts", "fixed_interval": "1d"}}},
          |   {"type": {"terms": {"field": "event_type"}}}]},
          |   "aggs": {"vol": {"sum": {"field": "event_id"}}}}},
          | "size": 0}""".stripMargin)
      graft.serving.EsDsl.search(t(s, dir, "events"), body)
    }),

    // Q1 phrase search (ES multi_match type=phrase): query tokens must
    // be ADJACENT in order — token adjacency on the normalized token
    // string, not raw substring (double spaces still match).
    "q2_search_phrase" -> ((s, dir) =>
      graft.serving.Search.phrase(
        t(s, dir, "documents").select("doc_id", "text"),
        "the window", Seq("text"))),

    // Q1 operator=and search (ES multi_match operator=and): EVERY term
    // must token-match in some field; token-exact occurrence scoring.
    "q2_search_and" -> ((s, dir) =>
      graft.serving.Search.multiFieldAnd(
        t(s, dir, "documents").select("doc_id", "text", "source"),
        "window src3", Seq("text", "source"))),

    // Phrase over the WRITE-TIME index: positional postings (what
    // Lucene persists for multi_match type=phrase) probed with the
    // query's terms pushed to the parquet scan, adjacency checked on
    // query-sized position lists — then the document body fetched by id
    // AFTER scoring, exactly ES's _source fetch. Same oracle as the
    // scan-path q2_search_phrase: identical rows, index-served.
    "q2_search_phrase_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phrase(
        s, s"${searchIndexRoot(s, dir)}/documents", "the window",
        Seq("text"))
      t(s, dir, "documents").select("doc_id", "text")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ES match_phrase slop (round 9; full Lucene model round 16):
    // sloppy proximity — the terms' adjusted positions span at most
    // `slop`, transposed alignments included ("window ... the" counts
    // from slop >= 2, exactly Lucene's sloppy matchLength). The oracle
    // re-derives the match set from first principles (token positions
    // + a two-sided windowed join).
    "q2_search_phrase_slop" -> ((s, dir) =>
      graft.serving.Search.slopPhrase(
        t(s, dir, "documents").select("doc_id", "text"),
        "the window", Seq("text"), slop = 2)),

    // The indexed twin answers the same sloppy phrase from positional
    // postings (term IN (...) pushed to the scan, windowed existence on
    // query-sized position lists) — one oracle, two plans.
    "q2_search_phrase_slop_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.phrase(
        s, s"${searchIndexRoot(s, dir)}/documents", "the window",
        Seq("text"), slop = 2)
      t(s, dir, "documents").select("doc_id", "text")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // operator=and over the index: same oracle as q2_search_and — the
    // match predicate (every term token-matches somewhere) and the
    // token-exact score both come from the probed tf column.
    "q2_search_and_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.minShould(
        s, s"${searchIndexRoot(s, dir)}/documents", "window src3",
        Seq("text", "source"))
      t(s, dir, "documents").select("doc_id", "text", "source")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ES match fuzziness=1: a text token matches a query term within
    // one edit ("windos" still hits "window"; transpositions default
    // true like ES — Damerau). Scan path = per-token distance HOF;
    // DuckDB mirrors it with damerau_levenshtein.
    "q2_search_fuzzy" -> ((s, dir) =>
      graft.serving.Search.multiFieldFuzzy(
        t(s, dir, "documents").select("doc_id", "text"),
        "window batch", Seq("text"), fuzziness = "1")),

    // The indexed twin expands the query terms against the VOCABULARY
    // (termstats, dictionary-sized) and probes postings with the
    // expansion — Lucene's FST-automaton shape, same oracle.
    "q2_search_fuzzy_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.fuzzy(
        s, s"${searchIndexRoot(s, dir)}/documents", "window batch",
        Seq("text"), fuzziness = "1")
      t(s, dir, "documents").select("doc_id", "text")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ES fuzzy-rewrite knobs (round 9): prefix_length=1 exempts the
    // first character from edits (Lucene's nonFuzzyPrefix — 'pat'
    // stops matching 'data'/'fast', keeps 'part'), max_expansions=2
    // caps each term's expansion at the 2 closest candidates (edit
    // distance asc, term asc — 'sot' keeps sort+slow, drops row). The
    // oracle recomputes the capped expansion sets from the corpus
    // vocabulary in SQL.
    "q2_search_fuzzy_knobs" -> ((s, dir) =>
      graft.serving.Search.multiFieldFuzzy(
        t(s, dir, "documents").select("doc_id", "text"),
        "pat sot", Seq("text"), fuzziness = "2",
        prefixLength = 1, maxExpansions = Some(2))),

    // The indexed twin expands against the termstats dictionary with
    // the same prefix gate and the same deterministic cap — one
    // oracle, two plans.
    "q2_search_fuzzy_knobs_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.fuzzy(
        s, s"${searchIndexRoot(s, dir)}/documents", "pat sot",
        Seq("text"), fuzziness = "2", prefixLength = 1,
        maxExpansions = Some(2))
      t(s, dir, "documents").select("doc_id", "text")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // minimum_should_match=2 over the index (same oracle as
    // q2_search_minmatch): the unweighted match grid and the scored
    // grid ride one probe aggregation.
    "q2_search_minmatch_indexed" -> ((s, dir) => {
      val hits = graft.sinks.SearchIndex.minShould(
        s, s"${searchIndexRoot(s, dir)}/documents", "window batch src3",
        Seq("text", "source"), minMatch = 2)
      t(s, dir, "documents").select("doc_id", "text", "source")
        .join(broadcast(hits), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ES minimum_should_match: at least 2 of the 3 terms must
    // token-match ('batch' and 'window' live in text, 'src3' in
    // source — so the 2-of-3 set is strictly between OR and AND).
    "q2_search_minmatch" -> ((s, dir) =>
      graft.serving.Search.multiFieldMinShould(
        t(s, dir, "documents").select("doc_id", "text", "source"),
        "window batch src3", Seq("text", "source"), minMatch = 2)),

    // Q1 cross-index variant: the reference's `data_lake_*` wildcard —
    // one search across EVERY entity index (src/es_connector.py:85-95
    // defaults index="data_lake_*"; legacy data_lake_sync.py:228) via
    // the unionByName document view (SURVEY §2.7). "er" hits customers,
    // suppliers and error events, so the top-k interleaves entities.
    "q4_union_search" -> ((s, dir) => {
      import org.apache.spark.sql.types.StringType
      val lake = graft.catalog.EntityCatalog.unionDocuments(s, dir, RunTs)
      val fields = lake.schema.fields
        .filter(f => f.dataType == StringType)
        .map(_.name).filterNot(Set("table", "document_id")).toSeq
      graft.serving.Search.acrossIndexes(lake, "er", fields)
    }),

    // Q1 cross-index RANKED variant: the data_lake_* wildcard under the
    // real scorer — every entity index scored with its OWN per-index,
    // per-field BM25 statistics (ES semantics: IDF is index-local),
    // merged into one global top-k. 'small' hits part, 'error' events,
    // 'household' customer — the ranking interleaves entities.
    "q4_union_search_bm25" -> ((s, dir) =>
      graft.serving.Search.acrossIndexesRanked(
        s, dir, RunTs, "small error household")),

    // ES comma-separated multi-index target (round 11): the SAME
    // per-index ranking restricted to a named entity subset — 'small'
    // hits part, 'household' customer; events' 'error' hits drop out
    // because events is not in the list.
    "q4_union_search_bm25_pair" -> ((s, dir) =>
      graft.serving.Search.acrossIndexesRanked(
        s, dir, RunTs, "small error household",
        only = Seq("customer", "part"))),

    // The SAME wildcard ranking through the DSL front door (round 10):
    // a verbatim ES multi_match body against data_lake_* now scores
    // with per-index statistics — /search and /search/advanced rank
    // identically on wildcard targets, sharing q4_union_search_bm25's
    // oracle verbatim.
    "q7_esdsl_bm25_wildcard" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "small error household"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.searchAcrossIndexes(s, dir, RunTs, body)
    }),

    // ... and the write-time-index twin of the DSL wildcard route:
    // the same body, per-entity postings probes instead of entity
    // pipeline scans. Same oracle again — three plans, one answer.
    "q7_esdsl_bm25_wildcard_indexed" -> ((s, dir) => {
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"query": {"multi_match": {"query": "small error household"}},
          | "size": 100}""".stripMargin)
      graft.serving.EsDsl.searchAcrossIndexes(s, dir, RunTs, body,
        indexRoot = Some(s"${searchIndexRoot(s, dir)}/entities"))
    }),

    // Generic catalog-driven entity sync: validate → namespace → lineage
    // (reference: the per-entity sync functions, src/data_sync.py:20-921,
    // collapsed to one declarative pipeline).
    "sync_entity_docs" -> ((s, dir) =>
      graft.catalog.EntityCatalog.pipeline(
        t(s, dir, "customer"),
        graft.catalog.EntityCatalog.entities("customer"), RunTs)),

    // Snapshot-diff CDC: the scale-correct alternative to the
    // reference's full re-sync. Old snapshot = ids not divisible by 3;
    // new = ids not divisible by 5, with every 7th event_type mutated —
    // yields all three change types deterministically.
    "r5_snapshot_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id").isNotNull)
      val prev = ev.filter(col("event_id") % 3 =!= 0)
      val next = ev.filter(col("event_id") % 5 =!= 0)
        .withColumn("event_type",
          when(col("event_id") % 7 === 0,
            concat(col("event_type"), lit("!")))
            .otherwise(col("event_type")))
      graft.operators.ChangeDataCapture.snapshotDiff(
        prev, next, "event_id", Seq("event_type"))
    }),

    // R6 (beyond reference): type-2 SCD history — per-user event_type
    // changelog collapsed to change rows with [valid_from, valid_to)
    // intervals. Both windows ride one key-hash shuffle (PlanShapeSpec).
    // The changelog is truncated to MICROS *before* scd2History (not on
    // output) so the collapse/ordering happens at the same granularity
    // DuckDB sees — ordering by raw nanos and truncating after could
    // keep/order different rows for same-micro changelog entries
    // (epoch_us is the finest engine-shared unit; plain `/` would
    // round-trip through double and lose the low bits of an epoch-nano).
    "r6_scd2" -> ((s, dir) => {
      val raw = t(s, dir, "events")
      graft.operators.ChangeDataCapture.scd2History(
        raw.filter(
          col("user_id").isNotNull && col("ts").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("tsu", tsMicros(raw, "ts")),
        "user_id", "tsu", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          col("valid_from"), col("valid_to"),
          col("version"), col("is_current"))
    }),

    // As-of join (beyond reference — SURVEY §2.12): each even-id event
    // ("observation") picks up the latest odd-id event ("state") of the
    // same user at-or-before its timestamp. Right side deduped per
    // (user, ts) first so both engines' tie semantics coincide.
    "j10_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
      val l = ev.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("obs_id"))
      val r = ev.filter(col("event_id") % 2 === 1)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("state_id"))
      graft.operators.Temporal.asOfJoin(
          l, r, "user_id", "ts", Seq("state_id"), "state_id")
        .select("user_id", "obs_id", "state_id")
    }),

    // Forward as-of join: each observation picks up the NEXT state
    // at-or-after its timestamp ("what happened next" alignment); same
    // one-window shuffle as j10 scanning time descending.
    "j12_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
      val l = ev.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("obs_id"))
      val r = ev.filter(col("event_id") % 2 === 1)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("state_id"))
      graft.operators.Temporal.asOfJoinForward(
          l, r, "user_id", "ts", Seq("state_id"), "state_id")
        .select("user_id", "obs_id", "state_id")
    }),

    // Distinct aggregation + corpus stats (beyond reference — SURVEY
    // §2.12 lists distinct aggregates as absent there). Exact counts so
    // the oracle can pin it; approx_count_distinct is the same plan
    // shape with a sketch buffer.
    "a5_distinct_agg" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        round(lit(1.0) - countDistinct(col("text")).cast("double") /
          count(lit(1)), 4).as("dup_rate"))),

    // Rollup with grouping id (beyond reference): per-(nation, segment)
    // revenue with nation and grand totals in one pass.
    "a6_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(round(sum(col("c_acctbal")), 2).as("balance"),
          grouping_id().as("gid"))
    }),

    // A6b: CUBE — all 2^k grouping sets in the same single-pass
    // expanded aggregation (rollup's sibling; Catalyst expands the
    // grouping sets before one hash agg, no per-set re-scan).
    "a6_cube" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(round(sum(col("c_acctbal")), 2).as("balance"),
          grouping_id().as("gid"))
    }),

    // W6: NTILE — per-user value quartiles (equi-count tiling within
    // the partition; a per-key sort, never a global one).
    "w6_ntile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          ntile(4).over(w).as("quartile"))
    }),

    // Set operations (beyond reference — SURVEY §2.7 records none): the
    // snapshot-reconciliation shape. UNION distinct-merges two snapshot
    // key sets, INTERSECT finds survivors, EXCEPT finds departures —
    // each one hash-aggregation/shuffle on the key, no joins needed.
    "set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id").isNotNull)
      val prev = ev.filter(col("event_id") % 3 =!= 0)
        .select(col("event_id"))
      val next = ev.filter(col("event_id") % 5 =!= 0)
        .select(col("event_id"))
      prev.intersect(next).withColumn("op", lit("both"))
        .unionByName(prev.except(next).withColumn("op", lit("departed")))
        .unionByName(next.except(prev).withColumn("op", lit("arrived")))
    }),

    // J11 (beyond reference): interval/range join via overlap binning —
    // each order meets the supplier price bands containing its total.
    // The naive range predicate would plan as a nested loop (O(n·m));
    // the binned form is one hash equi-join (PlanShapeSpec guards it).
    "j11_range_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val bands = t(s, dir, "supplier").select(
        col("s_suppkey"),
        (col("s_suppkey") * 5000.0).as("lo"),
        (col("s_suppkey") * 5000.0 + 7500.0).as("hi"))
      graft.operators.Temporal.rangeJoin(
          o, "o_totalprice", bands, "lo", "hi", binWidth = 5000.0)
        .select(col("o_orderkey"), col("s_suppkey"))
    }),

    // Deterministic train/val/test assignment by content hash (beyond
    // reference — a training-data pipeline primitive). Reproducible
    // under corpus growth/reorder by construction; SplitSpec pins the
    // stability property, the oracle pins the exact assignment.
    "split_assign" -> ((s, dir) =>
      graft.operators.Split.assign(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        salt = "g1")),

    // A7 (beyond reference): exact statistical profile per segment —
    // count/avg/stddev/min/max/median in ONE hash-agg pass. The exact
    // ground-truth twin of the sketch layer (operators/Sketches.scala);
    // percentile() is exact interpolated (= DuckDB quantile_cont).
    "a7_stats_profile" -> ((s, dir) => {
      def r4(c: org.apache.spark.sql.Column) =
        floor(c * 1e4 + 0.5).cast("double") / 1e4
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          r4(avg(col("c_acctbal"))).as("avg_bal"),
          r4(stddev_samp(col("c_acctbal"))).as("std_bal"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          r4(percentile(col("c_acctbal"), lit(0.5))).as("median_bal"))
    }),

    // A8 (beyond reference): exact corpus heavy hitters — top-k tokens
    // by frequency, deterministic tiebreak. Ground truth for the
    // count-min sketch probe (SketchesSpec bounds the sketch against
    // this). Two-stage hash agg: map-side combine shrinks partitions to
    // their distinct tokens before the shuffle.
    "a8_heavy_hitters" -> ((s, dir) =>
      graft.operators.Sketches.heavyHittersExact(
        t(s, dir, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(col("term") =!= ""),
        col("term"), 20)),

    // Headline aggregation (TPC-H Q1 shape) — exercises partial+final agg.
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // Headline join+agg+topk (TPC-H Q3 shape).
    "q3_top_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.filter(col("c_mktsegment") === "BUILDING")
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Headline multi-join agg (TPC-H Q5 shape) — broadcast dims + one fact
    // shuffle.
    "q5_region_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles — column aliases in lockstep with the Spark queries.
  // ---------------------------------------------------------------------

  /** Flat (string_agg) and nested (to_json of ordered struct list) forms of
    * the flagship's label CTE — everything else in the oracle is shared. */
  private def denormSqlWith(labelsCte: String): String =
    """WITH latest AS (
      |  SELECT l_orderkey, l_returnflag AS status_flag,
      |         l_linestatus AS status_name, l_shipdate AS status_at
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY l_orderkey
      |          ORDER BY l_shipdate DESC, l_linenumber DESC,
      |                   l_returnflag DESC, l_linestatus DESC) AS rn
      |        FROM lineitem) WHERE rn = 1
      |), labels AS (
      |%LABELS%
      |)
      |SELECT CAST(o.o_orderkey AS VARCHAR) AS ticket_id,
      |       o.o_orderkey AS ticket_number,
      |       o.o_orderdate AS ticket_created,
      |       o.o_orderstatus AS ticket_status,
      |       ls.status_flag, ls.status_name, ls.status_at,
      |       c.c_name AS user_name,
      |       n.n_name AS module_name,
      |       r.r_name AS datasource_name,
      |       lb.labels AS labels,
      |       round(o.o_totalprice, 2) AS total_price,
      |       concat(o.o_orderkey, '_', '%RUNTS%') AS document_id,
      |       TIMESTAMP '2026-01-01 00:00:00' AS indexed_at
      |FROM orders o
      |LEFT JOIN latest ls ON o.o_orderkey = ls.l_orderkey
      |LEFT JOIN labels lb ON o.o_orderkey = lb.l_orderkey
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"""
      .stripMargin.replace("%RUNTS%", RunTs)
      .replace("%LABELS%", labelsCte.stripMargin)

  private val denormSql: String = denormSqlWith(
    """  SELECT l_orderkey,
      |         string_agg(DISTINCT p_name, '|' ORDER BY p_name) AS labels
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY l_orderkey""")

  /** Nested oracle: DuckDB's struct comparison and to_json rendering both
    * coincide with Spark's (field-ordinal sort; compact `{"k":v}` JSON) —
    * verified empirically, so the flattened hash pins the real shape. */
  private val denormNestedSql: String = denormSqlWith(
    """  SELECT l_orderkey,
      |         CAST(to_json(list(s ORDER BY s)) AS VARCHAR) AS labels
      |  FROM (SELECT DISTINCT l_orderkey,
      |               struct_pack(id := p_partkey, name := p_name,
      |                           color := p_brand) AS s
      |        FROM lineitem JOIN part ON l_partkey = p_partkey) q
      |  GROUP BY l_orderkey""")

  /** Per-field BM25 CTE set (suffix `$i`) mirroring serving.Ranking
    * over one field: per-field dl/avgdl/df — ES scores each field of a
    * multi_match with that field's own statistics. `sc$i` holds the RAW
    * per-field score (rounding happens once, after the combine).
    * `src` = the FROM source (a table or filtered subquery), `idExpr` =
    * the document-id expression over it — generalized so the same
    * builder serves the documents table and every entity branch of the
    * cross-index oracle. */
  private def bm25FieldCtes(field: String, terms: Seq[String], i: String,
                            src: String = "documents",
                            idExpr: String = "doc_id"): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    val termSum = terms.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN idf$i.idf * " +
        s"((tf$i.tf * CAST(2.2 AS DOUBLE)) / (tf$i.tf + " +
        "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
        s"CAST(0.75 AS DOUBLE) * tf$i.dl / st$i.avgdl))) END), " +
        "CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    s"dls$i AS (SELECT $idExpr AS doc_id, " +
      s"len(${anToksSql(field)}) AS dl, " +
      s"$field AS f FROM $src), " +
    s"toks$i AS (SELECT doc_id, dl, unnest(${anToksSql("f")}) AS term " +
      s"FROM dls$i), " +
    s"q$i AS (SELECT doc_id, dl, term FROM toks$i WHERE term IN ($in)), " +
    s"st$i AS (SELECT count(*) AS n, " +
      s"CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls$i), " +
    s"idf$i AS (SELECT term, " +
      s"ln(CAST(1.0 AS DOUBLE) + (st$i.n - count(DISTINCT doc_id) " +
      s"+ CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
      s"+ CAST(0.5 AS DOUBLE))) AS idf " +
      s"FROM q$i CROSS JOIN st$i GROUP BY term, st$i.n), " +
    s"tf$i AS (SELECT doc_id, dl, term, count(*) AS tf " +
      s"FROM q$i GROUP BY 1, 2, 3), " +
    s"sc$i AS (SELECT doc_id, $termSum AS s_$i " +
      s"FROM tf$i JOIN idf$i USING (term) CROSS JOIN st$i " +
      s"GROUP BY doc_id)"
  }

  /** N-field combine over `sc$sfx` CTEs: full-outer-join chain in field
    * order with COALESCEd ids, fixed-order sum (or greatest), rounded
    * ONCE — exactly serving.Ranking.combine. Returns the SELECT
    * (no WITH, no ORDER BY) producing (doc_id, score). */
  private def bm25CombineSql(sfxs: Seq[String],
                             bestFields: Boolean,
                             boosts: Seq[Option[Double]] = Nil): String = {
    val bs = if (boosts.isEmpty) sfxs.map(_ => None) else boosts
    val parts = sfxs.zip(bs).map { case (s, b) =>
      val raw = s"COALESCE(sc$s.s_$s, CAST(0.0 AS DOUBLE))"
      // mirrors serving.Ranking.combine: boost multiplies the RAW per-field
      // score (a single double ×) before the fixed-order combine
      b.map(x => s"($raw * CAST($x AS DOUBLE))").getOrElse(raw)
    }
    val combined =
      if (sfxs.size == 1) parts.head
      else if (bestFields) s"greatest(${parts.mkString(", ")})"
      else parts.mkString(" + ")
    val idOf = (n: Int) =>
      s"COALESCE(${sfxs.take(n).map(s => s"sc$s.doc_id").mkString(", ")})"
    val from = sfxs.tail.zipWithIndex.foldLeft(s"sc${sfxs.head}") {
      case (acc, (s, i)) =>
        s"$acc FULL JOIN sc$s ON ${idOf(i + 1)} = sc$s.doc_id"
    }
    s"SELECT ${idOf(sfxs.size)} AS doc_id, " +
      s"floor(($combined) * 10000.0 + 0.5) / 10000.0 AS score FROM $from"
  }

  /** Two-field BM25 oracle over the documents table. */
  private def bm25MultiSql(f0: String, f1: String, terms: Seq[String],
                           bestFields: Boolean,
                           boosts: Seq[Option[Double]] = Nil): String =
    s"WITH ${bm25FieldCtes(f0, terms, "0")}, " +
      s"${bm25FieldCtes(f1, terms, "1")} " +
      s"${bm25CombineSql(Seq("0", "1"), bestFields, boosts)} " +
      "ORDER BY score DESC, doc_id LIMIT 100"

  /** Cross-index BM25 oracle: one branch per entity — its validity
    * filter, its own per-field statistics (mirroring how
    * Search.acrossIndexesRanked scores each index separately), combined
    * per-branch, unioned, global top-k. Branch field lists match the
    * entity pipelines' string columns IN SCHEMA ORDER (the fixed-order
    * float sum makes order load-bearing). */
  private def unionBm25Sql(terms: Seq[String],
                           only: Set[String] = Set.empty): String = {
    val branches0 = Seq(
      ("customer", "c_custkey", Seq("c_name", "c_mktsegment"),
        Seq("c_custkey", "c_name")),
      ("events", "event_id", Seq("event_type", "props"),
        Seq("event_id", "user_id")),
      ("nation", "n_nationkey", Seq("n_name"),
        Seq("n_nationkey", "n_name")),
      ("orders", "o_orderkey", Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_orderkey", "o_custkey")),
      ("part", "p_partkey", Seq("p_name", "p_brand", "p_type"),
        Seq("p_partkey", "p_name")),
      ("region", "r_regionkey", Seq("r_name"),
        Seq("r_regionkey", "r_name")),
      ("supplier", "s_suppkey", Seq("s_name"),
        Seq("s_suppkey", "s_name")))
    val branches =
      if (only.isEmpty) branches0 else branches0.filter(b => only(b._1))
    val (ctes, selects) = branches.map { case (t, id, fs, req) =>
      val src = s"(SELECT * FROM $t WHERE ${
        req.map(c => s"$c IS NOT NULL").mkString(" AND ")}) ${t}_v"
      val idExpr = s"concat_ws('_', $id, '$RunTs')"
      val sfxs = fs.indices.map(i => s"_${t}_$i")
      val cteStr = fs.zip(sfxs).map { case (f, sfx) =>
        bm25FieldCtes(f, terms, sfx, src, idExpr) }.mkString(", ")
      val sel = s"""SELECT '$t' AS "table", doc_id AS document_id, """ +
        s"score FROM (${bm25CombineSql(sfxs, bestFields = false)}) ${t}_sc"
      (cteStr, sel)
    }.unzip
    s"WITH ${ctes.mkString(", ")} " +
      s"SELECT * FROM (${selects.mkString(" UNION ALL ")}) u " +
      """ORDER BY score DESC, document_id, "table" LIMIT 100"""
  }

  /** Deterministic synthetic geo_point on customer — the testdata has
    * no geo column, so BOTH engines derive the same struct<lat,lon>
    * from c_custkey (the multipliers are coprime to the moduli, so
    * points spread over the whole globe; lat stays clear of the ±90
    * poles and the mercator clamp edge). SQL twins: [[GeoLatSql]] /
    * [[GeoLonSql]]. */
  private def custGeo(df: DataFrame): DataFrame =
    df.withColumn("loc", struct(
      ((col("c_custkey") * 7919 % 17000) / 100.0 - 85.0).as("lat"),
      ((col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).as("lon")))
  private val GeoLatSql = "((c_custkey * 7919 % 17000) / 100.0 - 85.0)"
  private val GeoLonSql =
    "((c_custkey * 104729 % 36000) / 100.0 - 180.0)"

  /** Deterministic synthetic dotted-quad IPv4 on customer (10.x.y.z
    * from c_custkey octets); SQL twin: [[IpSql]]. */
  private def custIp(df: DataFrame): DataFrame =
    df.withColumn("ip", concat_ws(".", lit(10),
      (col("c_custkey") / 65536).cast("long") % 256,
      (col("c_custkey") / 256).cast("long") % 256,
      col("c_custkey") % 256))
  private val IpSql = "('10.' || ((c_custkey // 65536) % 256) || " +
    "'.' || ((c_custkey // 256) % 256) || '.' || (c_custkey % 256))"

  /** Haversine meters from a fixed origin, as DuckDB SQL MIRRORING
    * EsDsl's column DAG op for op (the origin-lat cosine folds to 1.0
    * for the lat-0 origins the geo queries use — the same constant
    * the Scala side inlines). */
  private def haversineSql(oLat: Double, oLon: Double): String = {
    require(oLat == 0.0, "oracle mirrors math.cos(0) = 1.0 only")
    val dPhi = s"radians(0.0 - $GeoLatSql)"
    val dLam = s"radians($oLon - $GeoLonSql)"
    s"((2.0 * 6371008.7714) * asin(sqrt(" +
      s"sin($dPhi / 2) * sin($dPhi / 2) + " +
      s"cos(radians($GeoLatSql)) * 1.0 * " +
      s"sin($dLam / 2) * sin($dLam / 2))))"
  }

  /** The geotile x/y tile indexes as DuckDB SQL (mirrors
    * EsDsl.geotile arithmetic: clamp, slippy-map formulas, top-edge
    * clamp to n−1). */
  private def geotileSql(z: Int): (String, String) = {
    val n = math.pow(2, z)
    val maxLat = "85.0511287798066"
    val latC = s"greatest(least($GeoLatSql, $maxLat), -$maxLat)"
    val x = s"CAST(least(floor((($GeoLonSql + 180.0) / 360.0) * $n), " +
      s"${n - 1}) AS BIGINT)"
    val y = s"CAST(least(floor(((1.0 - ln(tan(radians($latC)) + " +
      s"1.0 / cos(radians($latC))) / pi()) / 2.0) * $n), " +
      s"${n - 1}) AS BIGINT)"
    (x, y)
  }

  /** Base32 geohash at `p` chars as INDEPENDENTLY GENERATED DuckDB
    * bit SQL (quantize → unrolled interleave → alphabet slices) —
    * the oracle twin of EsDsl.geohashColumn. `latE`/`lonE` default
    * to the synthetic customer point; literals replay a QUERY point
    * (the geo completion context's cell). */
  private def geohashSql(p: Int, latE: String = GeoLatSql,
                         lonE: String = GeoLonSql): String = {
    val totalBits = 5 * p
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    val lonQ = s"least(CAST(floor((($lonE + 180.0) / 360.0) * " +
      s"${math.pow(2, lonBits)}) AS BIGINT), ${(1L << lonBits) - 1})"
    val latQ = s"least(CAST(floor((($latE + 90.0) / 180.0) * " +
      s"${math.pow(2, latBits)}) AS BIGINT), ${(1L << latBits) - 1})"
    val lonTerms = (0 until lonBits).map(i =>
      s"((($lonQ >> ${lonBits - 1 - i}) & 1) << " +
        s"${totalBits - 1 - 2 * i})")
    val latTerms = (0 until latBits).map(i =>
      s"((($latQ >> ${latBits - 1 - i}) & 1) << " +
        s"${totalBits - 1 - (2 * i + 1)})")
    val code = (lonTerms ++ latTerms).mkString("(", " + ", ")")
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    (0 until p).map(g =>
      s"substr('$alpha', CAST((($code >> ${5 * (p - 1 - g)}) & 31) " +
        "AS INT) + 1, 1)").mkString("(", " || ", ")")
  }

  /** Quantized geohash CELL INDEXES (x from lon, y from lat) at
    * precision `p` as DuckDB SQL — the INDEPENDENT formulation
    * behind the geo-context neighbour oracles: cells at one
    * precision form a regular 2^lonBits × 2^latBits lon/lat grid,
    * so cell adjacency is raw index arithmetic, no base32 anywhere
    * in the oracle. Same floor/top-edge-clamp convention as
    * [[geohashSql]]. */
  private def geoCellIdxSql(p: Int, latE: String = GeoLatSql,
                            lonE: String = GeoLonSql): (String, String) = {
    val totalBits = 5 * p
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    val x = s"least(CAST(floor((($lonE + 180.0) / 360.0) * " +
      s"${math.pow(2, lonBits)}) AS BIGINT), ${(1L << lonBits) - 1})"
    val y = s"least(CAST(floor((($latE + 90.0) / 180.0) * " +
      s"${math.pow(2, latBits)}) AS BIGINT), ${(1L << latBits) - 1})"
    (x, y)
  }

  /** "`(lat, lon)` lies in the query point's precision-`p` cell or
    * one of its 8 neighbours" as independent DuckDB cell-index SQL:
    * |Δx| ≤ 1 modulo the grid width (longitude wraps at the
    * antimeridian) AND |Δy| ≤ 1 (rows beyond the poles do not
    * exist, so the plain bound is exact). */
  private def geoNeighborhoodSql(p: Int, qLat: String,
                                 qLon: String): String = {
    val (xo, yo) = geoCellIdxSql(p)
    val (xq, yq) = geoCellIdxSql(p, qLat, qLon)
    val nx = 1L << ((5 * p + 1) / 2)
    s"(least(abs(($xo) - ($xq)), $nx - abs(($xo) - ($xq))) <= 1 " +
      s"AND abs(($yo) - ($yq)) <= 1)"
  }

  /** "`(lat, lon)` lies in the query point's EXACT precision-`p`
    * cell" on the same independent cell indexes. */
  private def geoSameCellSql(p: Int, qLat: String,
                             qLon: String): String = {
    val (xo, yo) = geoCellIdxSql(p)
    val (xq, yq) = geoCellIdxSql(p, qLat, qLon)
    s"(($xo) = ($xq) AND ($yo) = ($yq))"
  }

  /** DuckDB replay of the standard-analyzer token grammar
    * ([[graft.functions.TextFunctions.analyzerTokens]]) — ONE shared
    * spelling for every search oracle, so the engine's analysis chain
    * and the oracle's cannot drift. */
  private def anToksSql(expr: String): String =
    graft.functions.TextFunctions.analyzerTokensSql(expr)

  /** `' ' || tokens-joined-by-DOUBLE-spaces || ' '` — token-exact
    * substring probes (mirrors Search.tokenNorm, incl. the two-space
    * separator that keeps back-to-back matches countable). */
  private def tokenNormSql(field: String): String =
    s"' ' || array_to_string(${anToksSql(field)}, '  ') || ' '"

  /** Non-overlapping occurrence count of `needle` in the SQL expr
    * `hay` (mirrors Search.substrCount). */
  private def substrCountSql(hay: String, needle: String): String =
    s"CAST((length($hay) - length(replace($hay, '$needle', ''))) / " +
      s"${needle.length} AS INT)"

  /** Single-field BM25 oracle (documents.text, terms window/the/of):
    * per-term contributions added in a FIXED order, mirroring Search.bm25
    * exactly; every constant CAST to DOUBLE (DuckDB would otherwise run
    * DECIMAL arithmetic on the literals). Shared by the scan-path query
    * and its indexed twin — one oracle, two plans. */
  private val bm25SingleSql: String = {
    val termSum = Seq("window", "the", "of").map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN idf.idf * " +
        "((tf.tf * CAST(2.2 AS DOUBLE)) / (tf.tf + " +
        "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
        "CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl))) END), " +
        "CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    "WITH dls AS (" +
     "  SELECT doc_id, text, len(" + anToksSql("text") + ") AS dl" +
     "  FROM documents" +
     "), toks AS (" +
     "  SELECT doc_id, dl, unnest(" + anToksSql("text") + ") AS term" +
     "  FROM dls" +
     "), q AS (SELECT doc_id, dl, term FROM toks " +
     "  WHERE term IN ('window', 'the', 'of')), " +
     "st AS (SELECT count(*) AS n, " +
     "  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls), " +
     "idf AS (SELECT term, " +
     "  ln(CAST(1.0 AS DOUBLE) + (st.n - count(DISTINCT doc_id) " +
     "    + CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
     "    + CAST(0.5 AS DOUBLE))) AS idf " +
     "  FROM q CROSS JOIN st GROUP BY term, st.n), " +
     "tf AS (SELECT doc_id, dl, term, count(*) AS tf " +
     "  FROM q GROUP BY 1, 2, 3) " +
     "SELECT doc_id, " +
     s"  floor(($termSum) * 10000.0 + 0.5) / 10000.0 AS score " +
     "FROM tf JOIN idf USING (term) CROSS JOIN st GROUP BY doc_id " +
     "ORDER BY score DESC, doc_id LIMIT 100"
  }

  /** Term-suggester oracle — doc-frequency vocabulary + Damerau
    * distance ranking; shared by the corpus-scan path and the
    * termstats index probe (the index's df_t IS the doc frequency). */
  private val suggestOracleSql: String =
    "WITH vocab AS (SELECT t AS term, count(*) AS freq FROM (" +
      "SELECT unnest(list_distinct(" + anToksSql("text") + ")) AS t " +
      "FROM documents WHERE text IS NOT NULL) GROUP BY 1), " +
    "cand AS (SELECT tok.token, v.term, v.freq, " +
      "CAST(damerau_levenshtein(tok.token, v.term) AS INT) AS distance " +
      "FROM vocab v CROSS JOIN (SELECT unnest(" +
      "['windoq', 'bath']) AS token) tok " +
      "WHERE damerau_levenshtein(tok.token, v.term) <= 2), " +
    "gated AS (SELECT *, max(CASE WHEN distance = 0 THEN 1 ELSE 0 " +
      "END) OVER (PARTITION BY token) AS ex FROM cand), " +
    "ranked AS (SELECT token, term AS suggestion, distance, freq, " +
      "row_number() OVER (PARTITION BY token ORDER BY distance, " +
      "freq DESC, term) AS rn FROM gated " +
      "WHERE distance > 0 AND ex = 0) " +
    "SELECT token, suggestion, distance, freq FROM ranked " +
    "WHERE rn <= 5 ORDER BY token, distance, freq DESC, suggestion"

  /** Oracle of q7_esdsl_suggest_popular (+ its termstats twin):
    * popular-mode gating (candidate freq must EXCEED the input
    * token's own doc frequency, 0 when absent) with the frequency
    * sort (freq desc, distance, term). */
  private val suggestPopularOracleSql: String =
    "WITH vocab AS (SELECT t AS term, count(*) AS freq FROM (" +
      "SELECT unnest(list_distinct(" + anToksSql("text") + ")) AS t " +
      "FROM documents WHERE text IS NOT NULL) GROUP BY 1), " +
    "cand AS (SELECT tok.token, v.term, v.freq, " +
      "CAST(damerau_levenshtein(tok.token, v.term) AS INT) AS distance " +
      "FROM vocab v CROSS JOIN (SELECT unnest(" +
      "['windoq', 'window']) AS token) tok " +
      "WHERE damerau_levenshtein(tok.token, v.term) <= 2), " +
    "gated AS (SELECT *, coalesce(max(CASE WHEN distance = 0 THEN " +
      "freq END) OVER (PARTITION BY token), 0) AS selffreq " +
      "FROM cand), " +
    "ranked AS (SELECT token, term AS suggestion, distance, freq, " +
      "row_number() OVER (PARTITION BY token ORDER BY freq DESC, " +
      "distance, term) AS rn FROM gated " +
      "WHERE distance > 0 AND freq > selffreq) " +
    "SELECT token, suggestion, distance, freq FROM ranked " +
    "WHERE rn <= 5 ORDER BY token, freq DESC, distance, suggestion"

  /** Phrase-suggester oracle — the bigram stupid-backoff LM from first
    * principles: unigram/bigram counts over the whitespace-tokenized
    * corpus, per-position candidates within 2 edits (identity
    * excluded, top 32 by distance/freq/term), each single-token
    * correction scored log10 P(w0) + Σ log10 P(w_j | w_{j-1}) with
    * stupid-backoff 0.4·(u(w)+1)/(N+V) and add-one unigram prior. The
    * query text "windoq bath scan" is inlined positionally. */
  private val phraseSuggestOracleSql: String = {
    def word(j: Int): String = {
      val lit = Seq("'windoq'", "'bath'", "'scan'")(j)
      s"CASE WHEN i = $j THEN term ELSE $lit END"
    }
    "WITH docs AS (SELECT " + anToksSql("text") + " AS ts " +
      "FROM documents WHERE text IS NOT NULL), " +
    "uni AS (SELECT t AS term, count(*) AS u FROM (" +
      "SELECT unnest(ts) AS t FROM docs) GROUP BY 1), " +
    "stats AS (SELECT CAST(sum(u) AS DOUBLE) AS n_tok, " +
      "CAST(count(*) AS DOUBLE) AS v_sz FROM uni), " +
    "bi AS (SELECT a, w, count(*) AS b FROM (" +
      "SELECT ts[g.i] AS a, ts[g.i + 1] AS w FROM docs, " +
      "unnest(generate_series(1, len(ts) - 1)) AS g(i)) GROUP BY 1, 2), " +
    "pos AS (SELECT * FROM (VALUES (0, 'windoq'), (1, 'bath'), " +
      "(2, 'scan')) AS p(i, tok)), " +
    "cand0 AS (SELECT p.i, u.term, u.u, " +
      "CAST(damerau_levenshtein(p.tok, u.term) AS INT) AS d " +
      "FROM uni u CROSS JOIN pos p " +
      "WHERE damerau_levenshtein(p.tok, u.term) <= 2), " +
    // the identity row (d = 0, an in-vocabulary token) rides the
    // window rank — it occupies a candidate slot in the engine's one
    // collected pass — and is excluded from the suggestions after
    "cand AS (SELECT * FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY i ORDER BY d, u DESC, term) AS rn FROM cand0) " +
      "WHERE rn <= 32 AND d > 0), " +
    "sugg AS (SELECT i, term, concat_ws(' ', " +
      s"${word(0)}, ${word(1)}, ${word(2)}) AS suggestion " +
      "FROM cand), " +
    "pairs AS (" +
      s"SELECT suggestion, 0 AS j, NULL AS a, ${word(0)} AS w " +
        "FROM sugg UNION ALL " +
      s"SELECT suggestion, 1, ${word(0)}, ${word(1)} " +
        "FROM sugg UNION ALL " +
      s"SELECT suggestion, 2, ${word(1)}, ${word(2)} FROM sugg), " +
    "scored AS (SELECT p.suggestion, CASE " +
      "WHEN p.j = 0 THEN log10((coalesce(uw.u, 0) + 1.0) / " +
        "(s.n_tok + s.v_sz)) " +
      "WHEN b.b IS NOT NULL THEN log10(CAST(b.b AS DOUBLE) / " +
        "CAST(ua.u AS DOUBLE)) " +
      "ELSE log10(0.4 * (coalesce(uw.u, 0) + 1.0) / " +
        "(s.n_tok + s.v_sz)) END AS sc " +
      "FROM pairs p " +
      "LEFT JOIN bi b ON b.a = p.a AND b.w = p.w " +
      "LEFT JOIN uni ua ON ua.term = p.a " +
      "LEFT JOIN uni uw ON uw.term = p.w CROSS JOIN stats s) " +
    "SELECT suggestion, sum(sc) AS score FROM scored GROUP BY 1 " +
    "ORDER BY score DESC, suggestion LIMIT 5"
  }

  /** Phrase / operator=and / minimum_should_match oracles — shared by
    * the scan-path queries and their write-time-index twins: one oracle,
    * two plans, so any drift between positional postings and the corpus
    * shows up as a hash mismatch. */
  private val phraseOracleSql: String = {
    val n = tokenNormSql("text")
    "SELECT doc_id, text, score FROM (SELECT doc_id, text, " +
      s"${substrCountSql("n", " the  window ")} AS score " +
      s"FROM (SELECT doc_id, text, $n AS n FROM documents)) " +
    "WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 100"
  }

  /** Sloppy-phrase oracle — first-principles re-derivation: token
    * positions via unnest + generate_subscripts, a windowed self-join
    * for "t2 within `slop` of its expected slot a.pos + 1 on EITHER
    * side" (|adj_t2 - adj_t1| <= slop — Lucene's sloppy matchLength
    * with transposed alignments, Positional.phrase's contract; the
    * out-of-order side only opens from slop >= 2 since a transposition
    * costs 2), score = count of DISTINCT head positions. Shared by
    * the scan path, the positional-postings probe, and (recast with a
    * double _score + full columns) the DSL body. */
  /** Shared positional CTE for the span/intervals oracles: tokens with
    * 1-based positions (the arithmetic is relative, so the base does
    * not matter — Spark's scan is 0-based). */
  /** The lake's real foreign keys as DSL parent/child relations:
    * orders ← lineitem on l_orderkey (reference entity model —
    * src/ticket_sync.py's parent/child document shape). */
  private def tpchRelations(s: org.apache.spark.sql.SparkSession,
                            dir: String): graft.serving.EsDsl.Relations =
    graft.serving.EsDsl.Relations(
      children = Map("lineitem" -> ((t(s, dir, "lineitem"),
        "l_orderkey"))),
      parents = Map("orders" -> ((t(s, dir, "orders"), "l_orderkey"))))

  private val spanPosCte: String =
    "WITH stoks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "spos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM stoks), "

  private lazy val spanNearOracleSql: String = spanPosCte +
    "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
    "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
    "AND a.tok = 'the' AND b.tok IN ('window', 'batch') " +
    "AND b.pos > a.pos AND b.pos <= a.pos + 3 GROUP BY a.doc_id) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
    "CAST(m.score AS DOUBLE) AS \"_score\" " +
    "FROM documents d JOIN m USING (doc_id) " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"

  private def slopOracleCte(t1: String, t2: String, slop: Int): String =
    "WITH toks AS (SELECT doc_id, text, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      s"FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      s"AND a.tok = '$t1' AND b.tok = '$t2' " +
      s"AND b.pos >= a.pos + ${1 - slop} AND b.pos <= a.pos + ${1 + slop} " +
      "GROUP BY a.doc_id) "

  private val slopOracleSql: String =
    slopOracleCte("the", "window", 2) +
    "SELECT d.doc_id, d.text, CAST(m.score AS INT) AS score " +
    "FROM documents d JOIN m ON d.doc_id = m.doc_id " +
    "ORDER BY score DESC, d.doc_id LIMIT 100"

  private val andOracleSql: String = {
    def cnt(t: String) =
      s"(${substrCountSql("nt", s" $t ")} + " +
        s"${substrCountSql("ns", s" $t ")})"
    "WITH nrm AS (SELECT doc_id, text, source, " +
      s"${tokenNormSql("text")} AS nt, " +
      s"${tokenNormSql("source")} AS ns FROM documents), " +
    "cnts AS (SELECT doc_id, text, source, " +
      s"${cnt("window")} AS c0, ${cnt("src3")} AS c1 FROM nrm) " +
    "SELECT doc_id, text, source, (c0 + c1) AS score FROM cnts " +
    "WHERE c0 > 0 AND c1 > 0 ORDER BY score DESC, doc_id LIMIT 100"
  }

  /** Fuzzy-match oracle: per-token Levenshtein within 1 edit of each
    * query term, counts summed in query order — transpositions
    * default TRUE like ES; DuckDB's damerau_levenshtein mirrors the
    * engine's codegen Damerau expression (fuzz-tested identical). */
  private val fuzzyOracleSql: String =
    ("WITH ts AS (SELECT doc_id, text, " + anToksSql("text") +
     " AS ts FROM documents), " +
     "c AS (SELECT doc_id, text, " +
     "CAST(len(list_filter(ts, x -> damerau_levenshtein(x, 'window') <= 1)) " +
     "AS INT) AS c0, " +
     "CAST(len(list_filter(ts, x -> damerau_levenshtein(x, 'batch') <= 1)) " +
     "AS INT) AS c1 FROM ts) " +
     "SELECT doc_id, text, (c0 + c1) AS score FROM c " +
     "WHERE (c0 + c1) > 0 ORDER BY score DESC, doc_id LIMIT 100")

  /** Fuzzy-knobs oracle: the capped expansion set per query term is
    * recomputed in SQL from the corpus vocabulary (prefix gate, edit
    * budget, ORDER BY distance/token LIMIT n — the deterministic cap
    * both engine paths implement), then tokens count by membership. */
  private val fuzzyKnobsOracleSql: String =
    ("WITH ts AS (SELECT doc_id, text, " + anToksSql("text") +
     " AS ts FROM documents), " +
     "vocab AS (SELECT DISTINCT unnest(ts) AS tok FROM ts), " +
     "e0 AS (SELECT tok FROM vocab WHERE substr(tok, 1, 1) = 'p' " +
       "AND damerau_levenshtein(tok, 'pat') <= 2 " +
       "ORDER BY damerau_levenshtein(tok, 'pat'), tok LIMIT 2), " +
     "e1 AS (SELECT tok FROM vocab WHERE substr(tok, 1, 1) = 's' " +
       "AND damerau_levenshtein(tok, 'sot') <= 2 " +
       "ORDER BY damerau_levenshtein(tok, 'sot'), tok LIMIT 2), " +
     "pos AS (SELECT doc_id, unnest(ts) AS tok FROM ts), " +
     "c0 AS (SELECT doc_id, count(*) AS c FROM pos " +
       "JOIN e0 USING (tok) GROUP BY doc_id), " +
     "c1 AS (SELECT doc_id, count(*) AS c FROM pos " +
       "JOIN e1 USING (tok) GROUP BY doc_id) " +
     "SELECT d.doc_id, d.text, " +
     "CAST(coalesce(c0.c, 0) + coalesce(c1.c, 0) AS INT) AS score " +
     "FROM documents d " +
     "LEFT JOIN c0 ON d.doc_id = c0.doc_id " +
     "LEFT JOIN c1 ON d.doc_id = c1.doc_id " +
     "WHERE coalesce(c0.c, 0) + coalesce(c1.c, 0) > 0 " +
     "ORDER BY score DESC, d.doc_id LIMIT 100")

  private val minmatchOracleSql: String = {
    def cnt(t: String) =
      s"(${substrCountSql("nt", s" $t ")} + " +
        s"${substrCountSql("ns", s" $t ")})"
    "WITH nrm AS (SELECT doc_id, text, source, " +
      s"${tokenNormSql("text")} AS nt, " +
      s"${tokenNormSql("source")} AS ns FROM documents), " +
    "cnts AS (SELECT doc_id, text, source, " +
      s"${cnt("window")} AS c0, ${cnt("batch")} AS c1, " +
      s"${cnt("src3")} AS c2 FROM nrm) " +
    "SELECT doc_id, text, source, (c0 + c1 + c2) AS score FROM cnts " +
    "WHERE (CASE WHEN c0 > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN c1 > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN c2 > 0 THEN 1 ELSE 0 END) >= 2 " +
    "ORDER BY score DESC, doc_id LIMIT 100"
  }

  /** Phrase-frequency BM25 oracle fragment (round 10 — the DSL scores
    * match_phrase with ES's PhraseQuery model): CTEs `pst` (corpus
    * statistics) and `pb` = (doc_id, text, lang, source, n_chars, pf,
    * ph_score) — op-for-op the Spark expression: idf = the
    * PHRASE-ORDERED sum of per-term idfs over token-presence doc
    * frequencies, tf = `pfExpr`'s phrase count, one floor-rounding to
    * the 1e-4 grid. Emitted WITHOUT the leading WITH so slop callers
    * can prepend their position CTEs; `fromSql` lets the pf come from
    * a joined CTE. */
  private def phraseBm25Body(terms: Seq[String], fromSql: String,
                             pfExpr: String): String = {
    val dt = terms.distinct
    val dlExpr = "len(" + anToksSql("text") + ")"
    val dfCols = dt.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN ${substrCountSql(s"(${tokenNormSql("text")})",
        s" $t ")} > 0 THEN 1 ELSE 0 END) AS d$i" }.mkString(", ")
    val idfSum = terms.map { t =>
      val i = dt.indexOf(t)
      s"ln(CAST(1.0 AS DOUBLE) + (n - d$i + CAST(0.5 AS DOUBLE)) / " +
        s"(d$i + CAST(0.5 AS DOUBLE)))"
    }.mkString(" + ")
    s"pst AS (SELECT count(*) AS n, " +
      s"CAST(sum($dlExpr) AS DOUBLE) / count(*) AS avgdl, $dfCols " +
      "FROM documents), " +
    "pb AS (SELECT doc_id, text, lang, source, n_chars, pf, " +
      s"floor((($idfSum) * ((pf * CAST(2.2 AS DOUBLE)) / " +
      "(pf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      "CAST(0.75 AS DOUBLE) * dl / avgdl)))) * 10000.0 + 0.5) / 10000.0 " +
      "AS ph_score FROM (SELECT doc_id, text, lang, source, n_chars, " +
      s"$pfExpr AS pf, $dlExpr AS dl FROM $fromSql) pc0 CROSS JOIN pst)"
  }

  /** The exact-adjacency "the window" phrase-BM25 CTE over documents —
    * shared by every oracle whose body scores that phrase. */
  private lazy val phraseBm25TheWindow: String =
    "WITH " + phraseBm25Body(Seq("the", "window"), "documents",
      substrCountSql(s"(${tokenNormSql("text")})", " the  window "))

  /** Shared oracle of q7_esdsl_phrase_bm25 and its positional-postings
    * index twin: full columns + the phrase-BM25 _score. */
  private lazy val phraseBm25Sql: String =
    phraseBm25TheWindow +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"

  /** Shared oracle of q7_esdsl_bool and its index-probe twin: scored
    * must (BM25 match) + filter-context range + null-safe must_not +
    * scored should term. */
  private lazy val boolOracleSql: String = {
    val n = tokenNormSql("text")
    val c0 = substrCountSql("n", " window ")
    val c1 = substrCountSql("n", " batch ")
    s"WITH ${bm25FieldCtes("text", Seq("window", "batch"), "0")}, " +
    s"msc AS (${bm25CombineSql(Seq("0"), bestFields = false)}), " +
    "nn AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$n AS n FROM documents), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$c0 AS c0, $c1 AS c1 FROM nn) " +
    "SELECT c.doc_id, text, lang, source, n_chars, " +
      "COALESCE(msc.score, CAST(0.0 AS DOUBLE)) + " +
      "(CASE WHEN source = 'src3' THEN 1.0 ELSE 0.0 END) AS \"_score\" " +
    "FROM c LEFT JOIN msc ON c.doc_id = msc.doc_id " +
    "WHERE (CASE WHEN c0 > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN c1 > 0 THEN 1 ELSE 0 END) >= 1 " +
      "AND n_chars >= 100 AND (lang IS NULL OR lang <> 'de') " +
    "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_bm25 and its all-probes twin:
    * best_fields BM25 must over (text, source) + a scored should over
    * lang — per-field statistics CTEs, greatest() combine for the
    * must, rounded once per clause, summed (EsDsl's bool rule). */
  private lazy val bm25BoolOracleSql: String = {
    val nrm0 = tokenNormSql("text")
    val nrm1 = tokenNormSql("source")
    val preds = Seq(
      substrCountSql(s"($nrm0)", " window "),
      substrCountSql(s"($nrm1)", " window "),
      substrCountSql(s"($nrm0)", " src3 "),
      substrCountSql(s"($nrm1)", " src3 "))
    s"WITH ${bm25FieldCtes("text", Seq("window", "src3"), "0")}, " +
    s"${bm25FieldCtes("source", Seq("window", "src3"), "1")}, " +
    s"${bm25FieldCtes("lang", Seq("en"), "2")}, " +
    s"msc AS (${bm25CombineSql(Seq("0", "1"), bestFields = true)}), " +
    s"lsc AS (${bm25CombineSql(Seq("2"), bestFields = false)}), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"${preds(0)} AS wt, ${preds(1)} AS ws, " +
      s"${preds(2)} AS st, ${preds(3)} AS ss FROM documents) " +
    "SELECT c.doc_id, text, lang, source, n_chars, " +
      "COALESCE(msc.score, CAST(0.0 AS DOUBLE)) + " +
      "COALESCE(lsc.score, CAST(0.0 AS DOUBLE)) AS \"_score\" " +
    "FROM c LEFT JOIN msc ON c.doc_id = msc.doc_id " +
    "LEFT JOIN lsc ON c.doc_id = lsc.doc_id " +
    "WHERE (CASE WHEN wt + ws > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN st + ss > 0 THEN 1 ELSE 0 END) >= 1 " +
    "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_match_english and its index twin:
    * query-time english analysis rewrites ONLY the query — "the
    * sorted windows" stems to [sort, window] ("the" is a stopword) —
    * and the stems search the STANDARD document tokens with the
    * standard BM25 statistics, so the oracle is a plain standard
    * match whose terms are the precomputed stems
    * ([[graft.functions.EnglishAnalysis.analyze]]; PorterStemmerSpec
    * pins sorted→sort, windows→window). */
  private lazy val matchEnglishSql: String = {
    val nrm = tokenNormSql("text")
    val cs = substrCountSql(s"($nrm)", " sort ")
    val cw = substrCountSql(s"($nrm)", " window ")
    s"WITH ${bm25FieldCtes("text", Seq("sort", "window"), "0")}, " +
    s"msc AS (${bm25CombineSql(Seq("0"), bestFields = false)}), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$cs AS cs, $cw AS cw FROM documents) " +
    "SELECT c.doc_id, text, lang, source, n_chars, " +
      "COALESCE(msc.score, CAST(0.0 AS DOUBLE)) AS \"_score\" " +
    "FROM c LEFT JOIN msc ON c.doc_id = msc.doc_id " +
    "WHERE (CASE WHEN cs > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN cw > 0 THEN 1 ELSE 0 END) >= 1 " +
    "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_cross_fields: op-for-op replay of
    * Ctx.crossFieldsScore over (text, source) with terms
    * (window, src3) — one stats row (n, per-field avgdl,
    * per-(field, term) token-presence df), blended idf per term from
    * the MAX df across fields, per-field saturated tf under that idf,
    * dis_max per term (tie_breaker 0), terms summed in query order,
    * one floor-rounding to the 1e-4 grid; operator=and gates each
    * term's any-field presence. */
  private lazy val crossFieldsOracleSql: String = {
    val nt = tokenNormSql("text")
    val ns = tokenNormSql("source")
    def cnt(nrm: String, t: String) = substrCountSql(s"($nrm)", s" $t ")
    def dfOf(nrm: String, t: String) =
      s"sum(CASE WHEN ${cnt(nrm, t)} > 0 THEN 1 ELSE 0 END)"
    def idf(dfA: String, dfB: String) =
      s"ln(CAST(1.0 AS DOUBLE) + (n - greatest($dfA, $dfB) + " +
        s"CAST(0.5 AS DOUBLE)) / (greatest($dfA, $dfB) + " +
        "CAST(0.5 AS DOUBLE)))"
    def sat(tf: String, dl: String, avgdl: String) =
      s"(($tf * CAST(2.2 AS DOUBLE)) / ($tf + CAST(1.2 AS DOUBLE) * " +
        s"(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * $dl / $avgdl)))"
    "WITH st AS (SELECT count(*) AS n, " +
      s"CAST(sum(len(${anToksSql("text")})) AS DOUBLE) / count(*) " +
        "AS avgdl_t, " +
      s"CAST(sum(len(${anToksSql("source")})) AS DOUBLE) / count(*) " +
        "AS avgdl_s, " +
      s"${dfOf(nt, "window")} AS df_tw, ${dfOf(ns, "window")} AS df_sw, " +
      s"${dfOf(nt, "src3")} AS df_ts, ${dfOf(ns, "src3")} AS df_ss " +
      "FROM documents), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"${cnt(nt, "window")} AS tw, ${cnt(ns, "window")} AS sw, " +
      s"${cnt(nt, "src3")} AS ts, ${cnt(ns, "src3")} AS ss, " +
      s"len(${anToksSql("text")}) AS dlt, " +
      s"len(${anToksSql("source")}) AS dls FROM documents) " +
    "SELECT doc_id, text, lang, source, n_chars, " +
      "floor((greatest(" +
        s"${idf("df_tw", "df_sw")} * ${sat("tw", "dlt", "avgdl_t")}, " +
        s"${idf("df_tw", "df_sw")} * ${sat("sw", "dls", "avgdl_s")}) + " +
      "greatest(" +
        s"${idf("df_ts", "df_ss")} * ${sat("ts", "dlt", "avgdl_t")}, " +
        s"${idf("df_ts", "df_ss")} * ${sat("ss", "dls", "avgdl_s")})) " +
      "* 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM c CROSS JOIN st " +
    "WHERE (tw > 0 OR sw > 0) AND (ts > 0 OR ss > 0) " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_phrase_prefix and its multi_match
    * type=phrase_prefix twin (the source leg never matches "the s*",
    * so the best-field combine keeps the text leg verbatim). */
  private lazy val phrasePrefixOracleSql: String =
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'the' AND b.tok LIKE 's%' " +
      "AND b.pos = a.pos + 1 GROUP BY a.doc_id) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS _score " +
    "FROM documents d JOIN m ON d.doc_id = m.doc_id " +
    "ORDER BY _score DESC, d.doc_id LIMIT 100"

  /** Shared oracle of q7_esdsl_bool_prefix and its multi_match
    * type=bool_prefix twin (per-field scores SUM; the source leg's
    * sum is exactly 0 on "the win"). */
  private lazy val boolPrefixOracleSql: String = {
    val thec = substrCountSql(s"(${tokenNormSql("text")})", " the ")
    "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$thec AS tc, " +
      "len(list_filter(" + anToksSql("text") +
        ", x -> x LIKE 'win%')) AS pc " +
    "FROM documents) " +
    "SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(tc + pc AS DOUBLE) AS \"_score\" " +
    "FROM b WHERE tc > 0 OR pc > 0 " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** English-analyzed tokens of `expr` in SQL — the oracle-side replay
    * of the INDEX-TIME english chain over the FIXED testdata
    * vocabulary (TESTDATA.md's documents corpus holds the same 31
    * words at every SF; no possessives): standard tokens → the Lucene
    * english stop set → Porter stems, with the vocabulary's six
    * non-fixpoint words mapped literally (merge→merg, query→queri,
    * table→tabl, value→valu, customer→custom, key→kei).
    * SearchIndexSpec pins this literal map against the engine's
    * stemmer over the full vocabulary, so the oracle cannot drift. */
  private def enToksSql(expr: String): String = {
    val stops = graft.functions.EnglishAnalysis.StopWords
      .map(w => s"'$w'").mkString(", ")
    s"list_transform(list_filter(${anToksSql(expr)}, " +
    s"t -> t NOT IN ($stops)), " +
    "t -> CASE t WHEN 'merge' THEN 'merg' WHEN 'query' THEN 'queri' " +
    "WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu' " +
    "WHEN 'customer' THEN 'custom' WHEN 'key' THEN 'kei' " +
    "ELSE t END)"
  }

  /** Oracle of q7_idx_english_match: BM25 over ENGLISH-analyzed
    * documents — tf/df/dl/avgdl all derive from the stop-filtered
    * stemmed token stream ([[enToksSql]]); the arithmetic is the
    * exact per-term saturation the standard bm25FieldCtes replays,
    * with the engine's one final rounding. Query stems precomputed:
    * "the sorted windows merging" → (sort, window, merg). */
  private lazy val idxEnglishMatchSql: String = {
    val terms = Seq("sort", "window", "merg")
    val in = terms.map(t => s"'$t'").mkString(", ")
    val termSum = terms.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN idf0.idf * " +
        "((tf0.tf * CAST(2.2 AS DOUBLE)) / (tf0.tf + " +
        "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
        "CAST(0.75 AS DOUBLE) * tf0.dl / st0.avgdl))) END), " +
        "CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    s"WITH dls0 AS (SELECT doc_id, len(${enToksSql("text")}) AS dl, " +
      "text AS f FROM documents), " +
    s"toks0 AS (SELECT doc_id, dl, unnest(${enToksSql("f")}) AS term " +
      "FROM dls0), " +
    s"q0 AS (SELECT doc_id, dl, term FROM toks0 WHERE term IN ($in)), " +
    "st0 AS (SELECT count(*) AS n, " +
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls0), " +
    "idf0 AS (SELECT term, " +
      "ln(CAST(1.0 AS DOUBLE) + (st0.n - count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE))) AS idf " +
      "FROM q0 CROSS JOIN st0 GROUP BY term, st0.n), " +
    "tf0 AS (SELECT doc_id, dl, term, count(*) AS tf " +
      "FROM q0 GROUP BY 1, 2, 3), " +
    s"sc0 AS (SELECT doc_id, $termSum AS s_0 " +
      "FROM tf0 JOIN idf0 USING (term) CROSS JOIN st0 " +
      "GROUP BY doc_id) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(sc0.s_0 * 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN sc0 ON d.doc_id = sc0.doc_id " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Oracle of q7_idx_english_phrase: both sides english — the gapped
    * query stems (sort@0, window@2) position-join the STOP-FILTERED
    * stemmed stream at ORIGINAL token indices (stop positions
    * consumed, not reassigned), pf counts distinct heads, and the
    * phrase-BM25 body reads english statistics (stemmed df, english
    * dl/avgdl). */
  private lazy val idxEnglishPhraseSql: String = {
    val stops = graft.functions.EnglishAnalysis.StopWords
      .map(w => s"'$w'").mkString(", ")
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "ep AS (SELECT doc_id, CASE tok WHEN 'merge' THEN 'merg' " +
      "WHEN 'query' THEN 'queri' WHEN 'table' THEN 'tabl' " +
      "WHEN 'value' THEN 'valu' WHEN 'customer' THEN 'custom' " +
      "WHEN 'key' THEN 'kei' ELSE tok END AS term, pos " +
      s"FROM pos WHERE tok NOT IN ($stops)), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf " +
      "FROM ep a JOIN ep b ON a.doc_id = b.doc_id " +
      "AND a.term = 'sort' AND b.term = 'window' " +
      "AND b.pos = a.pos + 2 GROUP BY a.doc_id), " +
    "dls AS (SELECT doc_id, count(term) AS dl FROM ep GROUP BY doc_id), " +
    "st AS (SELECT count(*) AS n, " +
      "CAST(sum(coalesce(dls.dl, 0)) AS DOUBLE) / count(*) AS avgdl " +
      "FROM documents d LEFT JOIN dls ON d.doc_id = dls.doc_id), " +
    "idfs AS (SELECT " +
      "ln(CAST(1.0 AS DOUBLE) + (st.n - s.df + CAST(0.5 AS DOUBLE)) " +
        "/ (s.df + CAST(0.5 AS DOUBLE))) + " +
      "ln(CAST(1.0 AS DOUBLE) + (st.n - w.df + CAST(0.5 AS DOUBLE)) " +
        "/ (w.df + CAST(0.5 AS DOUBLE))) AS idfsum FROM st, " +
      "(SELECT count(DISTINCT doc_id) AS df FROM ep " +
        "WHERE term = 'sort') s, " +
      "(SELECT count(DISTINCT doc_id) AS df FROM ep " +
        "WHERE term = 'window') w) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(idfs.idfsum * ((gp.pf * CAST(2.2 AS DOUBLE)) / " +
      "(gp.pf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      "CAST(0.75 AS DOUBLE) * coalesce(dls.dl, 0) / st.avgdl))) " +
      "* 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN gp ON d.doc_id = gp.doc_id " +
    "LEFT JOIN dls ON d.doc_id = dls.doc_id " +
    "CROSS JOIN st CROSS JOIN idfs WHERE gp.pf > 0 " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_completion_fuzzy and its dictionary
    * twin: some prefix of the lowercased value within 1 Damerau edit
    * of "wimd" (candidate lengths 3..5 — outside that band length
    * difference alone exceeds the budget), first character exact. */
  private lazy val completionFuzzySql: String =
    "SELECT doc_id, text AS suggestion, 1.0 AS score FROM documents " +
    "WHERE substr(lower(text), 1, 1) = 'w' AND (" +
      "damerau_levenshtein(substr(lower(text), 1, 3), 'wimd') <= 1 OR " +
      "damerau_levenshtein(substr(lower(text), 1, 4), 'wimd') <= 1 OR " +
      "damerau_levenshtein(substr(lower(text), 1, 5), 'wimd') <= 1) " +
    "ORDER BY suggestion, doc_id LIMIT 10"

  /** Shared oracle of q7_esdsl_match_whitespace and
    * q7_esdsl_match_keyword: in both, exactly ONE analyzed query term
    * can exist in the standard index ('window' — whitespace keeps
    * 'BATCH''s case so it matches nothing; keyword's whole single-word
    * input IS the term), and a term absent from the index contributes
    * exactly 0.0 to the BM25 sum — so both equal a one-term standard
    * match. */
  private lazy val matchOneTermSql: String = {
    val nrm = tokenNormSql("text")
    val cw = substrCountSql(s"($nrm)", " window ")
    s"WITH ${bm25FieldCtes("text", Seq("window"), "0")}, " +
    s"msc AS (${bm25CombineSql(Seq("0"), bestFields = false)}), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$cw AS cw FROM documents) " +
    "SELECT c.doc_id, text, lang, source, n_chars, " +
      "COALESCE(msc.score, CAST(0.0 AS DOUBLE)) AS \"_score\" " +
    "FROM c LEFT JOIN msc ON c.doc_id = msc.doc_id " +
    "WHERE cw > 0 " +
    "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
  }

  /** Two precomputed query-analyzer stems scored as standard
    * two-term BM25 under operator=or — the shared oracle shape of
    * the query-time language-analyzer match queries (the language
    * chain runs engine-side only; the oracle replays its OUTPUT
    * stems, which the stemmer specs pin as literal corpus tokens). */
  private def matchStemsSql(t1: String, t2: String): String = {
    val nrm = tokenNormSql("text")
    val cg = substrCountSql(s"($nrm)", s" $t1 ")
    val cp = substrCountSql(s"($nrm)", s" $t2 ")
    s"WITH ${bm25FieldCtes("text", Seq(t1, t2), "0")}, " +
    s"msc AS (${bm25CombineSql(Seq("0"), bestFields = false)}), " +
    "c AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$cg AS cg, $cp AS cp FROM documents) " +
    "SELECT c.doc_id, text, lang, source, n_chars, " +
      "COALESCE(msc.score, CAST(0.0 AS DOUBLE)) AS \"_score\" " +
    "FROM c LEFT JOIN msc ON c.doc_id = msc.doc_id " +
    "WHERE (CASE WHEN cg > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN cp > 0 THEN 1 ELSE 0 END) >= 1 " +
    "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_match_french (+ indexed twin): "les groupes
    * et les parts" analyzes to the stems (group, part) — stopwords
    * drop, light_french strips the plural/e tails. */
  private lazy val matchFrenchSql: String = matchStemsSql("group", "part")

  /** Oracle of q7_esdsl_match_german (+ indexed twin): "die sorten
    * und die batches" analyzes to the stems (sort, batch) — german
    * stopwords drop, light_german strips -en and -es
    * (GermanStemmerSpec pins the classes). */
  private lazy val matchGermanSql: String = matchStemsSql("sort", "batch")

  /** Oracle of q7_esdsl_match_spanish (+ indexed twin): "la sorte y
    * los partes" analyzes to the stems (sort, part) — spanish
    * stopwords drop, light_spanish strips the -e / -es tails
    * (SpanishStemmerSpec pins the classes). */
  private lazy val matchSpanishSql: String = matchStemsSql("sort", "part")

  /** Shared oracle of q7_esdsl_match_simple / _stop: both chains
    * analyze their query text to exactly (window, batch) — the
    * simple tokenizer splits "Window7Batch" at the digit, the stop
    * chain drops The/And — and the score is standard two-term BM25
    * under operator=or. */
  private lazy val matchSimpleStopSql: String =
    matchStemsSql("window", "batch")

  /** Oracle of q7_esdsl_query_string_german: two german-stemmed term
    * atoms (sort, batch) under the classic default OR — matching
    * shoulds' occurrence counts sum (query_string's count-family
    * scoring, not BM25). */
  private lazy val qsGermanSql: String = {
    val sc = substrCountSql(s"(${tokenNormSql("text")})", " sort ")
    val bc = substrCountSql(s"(${tokenNormSql("text")})", " batch ")
    "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$sc AS sc, $bc AS bc FROM documents) " +
    "SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(sc + bc AS DOUBLE) AS \"_score\" " +
    "FROM b WHERE sc > 0 OR bc > 0 " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_sqs_english: "sorted + windows" under the
    * english chain — term atoms stem to (sort, window), the +
    * requires BOTH, matching scores sum (simple_query_string's
    * count-family scoring). */
  private lazy val sqsEnglishSql: String = {
    val rc = substrCountSql(s"(${tokenNormSql("text")})", " sort ")
    val sc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
    "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"$rc AS rc, $sc AS sc FROM documents) " +
    "SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(rc + sc AS DOUBLE) AS \"_score\" " +
    "FROM b WHERE rc > 0 AND sc > 0 " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_phrase_french: the french analysis of
    * "les groupes de la sorte" is precomputed — stems (group@0,
    * sort@3), three stop positions surviving as the gap — and
    * replayed as an exact-offset position join over the standard
    * tokens, scored by the shared phrase-BM25 body. */
  private lazy val phraseFrenchSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'group' AND b.tok = 'sort' " +
      "AND b.pos = a.pos + 3 GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("group", "sort"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_phrase_spanish: the spanish analysis of
    * "la sorte de los partes" is precomputed — stems (sort@0,
    * part@3), three stop positions surviving as the gap — and
    * replayed as an exact-offset position join over the standard
    * tokens, scored by the shared phrase-BM25 body (the french
    * oracle's shape with spanish stems). */
  private lazy val phraseSpanishSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'sort' AND b.tok = 'part' " +
      "AND b.pos = a.pos + 3 GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("sort", "part"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_phrase_english: the english analysis of
    * "sorted the windows" is precomputed — stems (sort@0, window@2),
    * the stop position surviving as a gap — and replayed as an
    * exact-offset position join over the standard tokens; the score
    * is the shared phrase-BM25 body over the stems with pf = the
    * count of matching start positions. */
  private lazy val phraseEnglishSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'sort' AND b.tok = 'window' " +
      "AND b.pos = a.pos + 2 GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("sort", "window"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_phrase_english_slop: the gapped stems (sort@0,
    * window@2) with slop 1 — "window" lands anywhere in [p+1, p+3]
    * after a "sort" at p (the ±slop window around the expected offset
    * intersected with the in-order constraint); pf counts distinct
    * valid head positions, scored by the shared phrase-BM25 body. */
  private lazy val phraseEnglishSlopSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'sort' AND b.tok = 'window' " +
      "AND b.pos BETWEEN a.pos + 1 AND a.pos + 3 " +
      "GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("sort", "window"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Oracle of q7_esdsl_phrase_english_budget (+ its indexed twin):
    * three gapped stems (join@0, batch@2, order@3) with slop 1 under
    * the SHARED budget — an in-order alignment is admitted iff the
    * span of adjusted positions, max − min over (pos_k − offset_k),
    * fits the slop (Lucene's sloppy matchLength); pf counts distinct
    * valid head positions, scored by the shared phrase-BM25 body. */
  private lazy val phraseEnglishBudgetSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "JOIN pos c ON a.doc_id = c.doc_id " +
      "WHERE a.tok = 'join' AND b.tok = 'batch' AND c.tok = 'order' " +
      "AND b.pos > a.pos AND c.pos > b.pos " +
      "AND greatest(a.pos, b.pos - 2, c.pos - 3) - " +
        "least(a.pos, b.pos - 2, c.pos - 3) <= 1 " +
      "GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("join", "batch", "order"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** The fixed testdata vocabulary's FRENCH stem classes as a SQL
    * CASE — the literal map FrenchStemmerSpec pins against the
    * engine's light_french stemmer, ES 8.11's prebuilt-`french`
    * default (identity on every other token; `data`/`line` stay
    * whole under the light algorithm's length-4 guard where
    * Snowball stripped them — the round-17 parity swap). */
  private def frCaseSql(v: String): String =
    s"CASE $v WHEN 'customer' THEN 'custom' " +
    s"WHEN 'filter' THEN 'filt' WHEN 'merge' THEN 'merg' " +
    s"WHEN 'order' THEN 'ord' WHEN 'small' THEN 'smal' " +
    s"WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu' " +
    s"WHEN 'vector' THEN 'vecto' ELSE $v END"

  private def frStopsSql: String =
    graft.functions.FrenchAnalysis.StopWords
      .map(w => s"'$w'").mkString(", ")

  /** French-analyzed token array over the testdata corpus (stop
    * filter + the literal stem classes; elision vanishes — the
    * corpus holds no apostrophes). */
  private def frToksSql(expr: String): String =
    s"list_transform(list_filter(${anToksSql(expr)}, " +
    s"t -> t NOT IN ($frStopsSql)), t -> ${frCaseSql("t")})"

  /** The fixed testdata vocabulary's GERMAN stem classes as a SQL
    * CASE — the literal map GermanStemmerSpec pins against the
    * engine's light_german chain (normalization folds value's ue,
    * the stemmer strips -er/-e; identity on every other token). */
  private def deCaseSql(v: String): String =
    s"CASE $v WHEN 'customer' THEN 'custom' " +
    s"WHEN 'filter' THEN 'filt' WHEN 'line' THEN 'lin' " +
    s"WHEN 'merge' THEN 'merg' WHEN 'order' THEN 'ord' " +
    s"WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu' " +
    s"ELSE $v END"

  private def deStopsSql: String =
    graft.functions.GermanAnalysis.StopWords
      .map(w => s"'$w'").mkString(", ")

  /** German-analyzed token array over the testdata corpus (stop
    * filter + the literal stem classes — no corpus token is a
    * german stopword, but the filter stays for fidelity). */
  private def deToksSql(expr: String): String =
    s"list_transform(list_filter(${anToksSql(expr)}, " +
    s"t -> t NOT IN ($deStopsSql)), t -> ${deCaseSql("t")})"

  /** The fixed testdata vocabulary's SPANISH stem classes as a SQL
    * CASE — the literal map SpanishStemmerSpec pins against the
    * engine's light_spanish stemmer (identity on every other token;
    * only the -e/-es vowel tails of merge/table/value strip — the
    * consonant-final customer/filter/order words french and german
    * stem stay WHOLE under the spanish rules). */
  private def esCaseSql(v: String): String =
    s"CASE $v WHEN 'merge' THEN 'merg' " +
    s"WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu' " +
    s"ELSE $v END"

  private def esStopsSql: String =
    graft.functions.SpanishAnalysis.StopWords
      .map(w => s"'$w'").mkString(", ")

  /** Spanish-analyzed token array over the testdata corpus (stop
    * filter + the literal stem classes — the corpus token 'a' IS a
    * spanish stopword, the one vocabulary word any language chain
    * stops). */
  private def esToksSql(expr: String): String =
    s"list_transform(list_filter(${anToksSql(expr)}, " +
    s"t -> t NOT IN ($esStopsSql)), t -> ${esCaseSql("t")})"

  /** BM25 over a LANGUAGE-analyzed document stream — tf/df/dl/avgdl
    * from the stop-filtered stem-mapped token pipeline (the language
    * twin of the english idx oracle: same per-term saturation,
    * single final rounding). Shared by the idx_french and idx_german
    * twins; each passes its own corpus pipeline and precomputed
    * query stems. */
  private def idxLangMatchSql(langToks: String => String,
                              terms: Seq[String]): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    val termSum = terms.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN idf0.idf * " +
        "((tf0.tf * CAST(2.2 AS DOUBLE)) / (tf0.tf + " +
        "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
        "CAST(0.75 AS DOUBLE) * tf0.dl / st0.avgdl))) END), " +
        "CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    s"WITH dls0 AS (SELECT doc_id, len(${langToks("text")}) AS dl, " +
      "text AS f FROM documents), " +
    s"toks0 AS (SELECT doc_id, dl, unnest(${langToks("f")}) AS term " +
      "FROM dls0), " +
    s"q0 AS (SELECT doc_id, dl, term FROM toks0 WHERE term IN ($in)), " +
    "st0 AS (SELECT count(*) AS n, " +
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls0), " +
    "idf0 AS (SELECT term, " +
      "ln(CAST(1.0 AS DOUBLE) + (st0.n - count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE))) AS idf " +
      "FROM q0 CROSS JOIN st0 GROUP BY term, st0.n), " +
    "tf0 AS (SELECT doc_id, dl, term, count(*) AS tf " +
      "FROM q0 GROUP BY 1, 2, 3), " +
    s"sc0 AS (SELECT doc_id, $termSum AS s_0 " +
      "FROM tf0 JOIN idf0 USING (term) CROSS JOIN st0 " +
      "GROUP BY doc_id) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(sc0.s_0 * 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN sc0 ON d.doc_id = sc0.doc_id " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Oracle of q7_idx_french_match: query "le filter des data" →
    * stems (filt, data) over the light_french corpus pipeline. */
  private lazy val idxFrenchMatchSql: String =
    idxLangMatchSql(frToksSql, Seq("filt", "data"))

  /** Oracle of q7_idx_german_match: query "die filtern von der
    * data" → the SAME stems (filt, data) over the light_german
    * corpus pipeline (its stem classes differ from french — line
    * stems, small/vector stay whole — so the statistics differ). */
  private lazy val idxGermanMatchSql: String =
    idxLangMatchSql(deToksSql, Seq("filt", "data"))

  /** Both sides language-analyzed match_phrase — the gapped query
    * stems (a@0, b@offset) position-join the stem-mapped stream at
    * ORIGINAL token indices, pf counts distinct heads, and the
    * phrase-BM25 body reads the language-side statistics. Shared by
    * the idx_french and idx_german phrase twins. */
  private def idxLangPhraseSql(caseSql: String => String,
                               stopsSql: String, ta: String,
                               tb: String, off: Int): String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    s"ep AS (SELECT doc_id, ${caseSql("tok")} AS term, pos " +
      s"FROM pos WHERE tok NOT IN ($stopsSql)), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf " +
      "FROM ep a JOIN ep b ON a.doc_id = b.doc_id " +
      s"AND a.term = '$ta' AND b.term = '$tb' " +
      s"AND b.pos = a.pos + $off GROUP BY a.doc_id), " +
    "dls AS (SELECT doc_id, count(term) AS dl FROM ep GROUP BY doc_id), " +
    "st AS (SELECT count(*) AS n, " +
      "CAST(sum(coalesce(dls.dl, 0)) AS DOUBLE) / count(*) AS avgdl " +
      "FROM documents d LEFT JOIN dls ON d.doc_id = dls.doc_id), " +
    "idfs AS (SELECT " +
      "ln(CAST(1.0 AS DOUBLE) + (st.n - s.df + CAST(0.5 AS DOUBLE)) " +
        "/ (s.df + CAST(0.5 AS DOUBLE))) + " +
      "ln(CAST(1.0 AS DOUBLE) + (st.n - w.df + CAST(0.5 AS DOUBLE)) " +
        "/ (w.df + CAST(0.5 AS DOUBLE))) AS idfsum FROM st, " +
      s"(SELECT count(DISTINCT doc_id) AS df FROM ep " +
        s"WHERE term = '$ta') s, " +
      s"(SELECT count(DISTINCT doc_id) AS df FROM ep " +
        s"WHERE term = '$tb') w) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(idfs.idfsum * ((gp.pf * CAST(2.2 AS DOUBLE)) / " +
      "(gp.pf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      "CAST(0.75 AS DOUBLE) * coalesce(dls.dl, 0) / st.avgdl))) " +
      "* 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN gp ON d.doc_id = gp.doc_id " +
    "LEFT JOIN dls ON d.doc_id = dls.doc_id CROSS JOIN st " +
    "CROSS JOIN idfs WHERE gp.pf > 0 " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Oracle of q7_idx_french_phrase: "le filter de la data" →
    * (filt@0, data@3) over the light_french pipeline. */
  private lazy val idxFrenchPhraseSql: String =
    idxLangPhraseSql(frCaseSql, frStopsSql, "filt", "data", 3)

  /** Oracle of q7_idx_german_phrase: "die filtern von der data" →
    * (filt@1, data@4), the same +3 stop gap, over the light_german
    * pipeline and ITS statistics. */
  private lazy val idxGermanPhraseSql: String =
    idxLangPhraseSql(deCaseSql, deStopsSql, "filt", "data", 3)

  /** Oracle of q7_idx_spanish_match: query "las tables y los
    * values" → stems (tabl, valu) over the light_spanish corpus
    * pipeline (its statistics differ from french's: 'a' leaves the
    * stream and the consonant-final words stay whole). */
  private lazy val idxSpanishMatchSql: String =
    idxLangMatchSql(esToksSql, Seq("tabl", "valu"))

  /** Oracle of q7_idx_spanish_phrase: "las tables de los values" →
    * (tabl@1, valu@4), the +3 stop gap, over the light_spanish
    * pipeline and ITS statistics (document-side positions are
    * original token indices with spanish-stopword slots consumed —
    * including every 'a'). */
  private lazy val idxSpanishPhraseSql: String =
    idxLangPhraseSql(esCaseSql, esStopsSql, "tabl", "valu", 3)

  /** Custom-chain token array over the testdata corpus (the
    * q7_idx_custom mapping: stop ["the"], then light_german with NO
    * normalization — on this vocabulary the bare stemmer's classes
    * coincide with the german map, value included: the -e rule
    * produces valu without the ue-digraph fold; SearchIndexSpec and
    * GermanStemmerSpec pin both routes). */
  private def cuToksSql(expr: String): String =
    s"list_transform(list_filter(${anToksSql(expr)}, " +
    s"t -> t <> 'the'), t -> ${deCaseSql("t")})"

  /** Oracle of q7_idx_custom_match: query "the merges the tables" →
    * stems (merg, tabl) over the custom-chain corpus pipeline (its
    * statistics differ from every prebuilt mapping: 'the' leaves
    * the stream here only). */
  private lazy val idxCustomMatchSql: String =
    idxLangMatchSql(cuToksSql, Seq("merg", "tabl"))

  /** Edge-gram token array: every 1..6-char prefix of every
    * standard token (the q7_idx_search_analyzer mapping's index
    * side), replayed as independent DuckDB list arithmetic. */
  private def egToksSql(expr: String): String =
    s"flatten(list_transform(${anToksSql(expr)}, " +
    "t -> list_transform(range(1, least(length(t), 6) + 1), " +
    "g -> t[1:CAST(g AS INT)])))"

  /** Oracle of q7_idx_search_analyzer: the STANDARD-analyzed query
    * terms (wind, bat) scored BM25 over the GRAM pipeline's
    * statistics — df = docs holding a token prefixed by the term,
    * tf = such tokens, dl = emitted grams. */
  private lazy val idxSearchAnalyzerSql: String =
    idxLangMatchSql(egToksSql, Seq("wind", "bat"))

  /** Whitespace-analyzed token array (mirrors SearchIndex.plainTokens
    * "whitespace": split on whitespace runs, case/punctuation kept,
    * empties dropped, null propagated). */
  private def wsToksSql(expr: String): String =
    s"list_filter(string_split_regex($expr, '\\s+'), x -> x <> '')"

  /** Oracle of q7_idx_whitespace_match: BM25 over WHITESPACE-analyzed
    * documents — query "window BATCH" under the field's chain keeps
    * 'BATCH' uppercase, a term with no postings, which contributes
    * exactly 0.0; the score is therefore the one-term 'window' BM25
    * over whitespace statistics (tf/df/dl/avgdl from the
    * case-and-punctuation-kept split), the engine's one final
    * rounding. */
  private lazy val idxWhitespaceMatchSql: String = {
    s"WITH dls0 AS (SELECT doc_id, len(${wsToksSql("text")}) AS dl, " +
      "text AS f FROM documents), " +
    s"toks0 AS (SELECT doc_id, dl, unnest(${wsToksSql("f")}) AS term " +
      "FROM dls0), " +
    "q0 AS (SELECT doc_id, dl, term FROM toks0 " +
      "WHERE term = 'window'), " +
    "st0 AS (SELECT count(*) AS n, " +
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls0), " +
    "idf0 AS (SELECT " +
      "ln(CAST(1.0 AS DOUBLE) + (st0.n - count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE))) AS idf FROM q0 CROSS JOIN st0 " +
      "GROUP BY st0.n), " +
    "tf0 AS (SELECT doc_id, dl, count(*) AS tf FROM q0 " +
      "GROUP BY 1, 2), " +
    "sc0 AS (SELECT doc_id, idf0.idf * ((tf0.tf * " +
      "CAST(2.2 AS DOUBLE)) / (tf0.tf + CAST(1.2 AS DOUBLE) * " +
      "(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf0.dl / " +
      "st0.avgdl))) AS s0 FROM tf0 CROSS JOIN idf0 CROSS JOIN st0) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(sc0.s0 * 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN sc0 ON d.doc_id = sc0.doc_id " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Oracle of q7_idx_keyword_match: the keyword chain makes the
    * whole `source` value ONE term — match("src3") is an exact-value
    * lookup with tf 1 and dl 1 per doc, BM25 over whole-value
    * statistics (df = docs whose source IS 'src3'; avgdl = share of
    * non-null sources), the engine's one final rounding. */
  private lazy val idxKeywordMatchSql: String = {
    "WITH dls0 AS (SELECT doc_id, " +
      "CASE WHEN source IS NULL THEN NULL ELSE 1 END AS dl, source " +
      "FROM documents), " +
    "q0 AS (SELECT doc_id, dl FROM dls0 WHERE source = 'src3'), " +
    "st0 AS (SELECT count(*) AS n, " +
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls0), " +
    "idf0 AS (SELECT " +
      "ln(CAST(1.0 AS DOUBLE) + (st0.n - count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE)) / (count(DISTINCT doc_id) " +
      "+ CAST(0.5 AS DOUBLE))) AS idf FROM q0 CROSS JOIN st0 " +
      "GROUP BY st0.n), " +
    "sc0 AS (SELECT doc_id, idf0.idf * ((CAST(1.0 AS DOUBLE) * " +
      "CAST(2.2 AS DOUBLE)) / (CAST(1.0 AS DOUBLE) + " +
      "CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      "CAST(0.75 AS DOUBLE) * q0.dl / st0.avgdl))) AS s0 " +
      "FROM q0 CROSS JOIN idf0 CROSS JOIN st0) " +
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "floor(sc0.s0 * 10000.0 + 0.5) / 10000.0 AS \"_score\" " +
    "FROM documents d JOIN sc0 ON d.doc_id = sc0.doc_id " +
    "ORDER BY \"_score\" DESC, d.doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_phrase_slop_transposed (+ indexed
    * twin): dense "window the" at slop 2 — 'the' lands on EITHER side
    * of its expected slot (|adj_the - adj_window| <= 2, i.e. the.pos
    * in [window.pos - 1, window.pos + 3]): Lucene's transposed
    * sloppy alignments; pf counts distinct head ('window') positions,
    * scored by the shared phrase-BM25 body. */
  private lazy val phraseSlopTransposedSql: String =
    slopOracleCte("window", "the", 2) + ", " +
    phraseBm25Body(Seq("window", "the"),
      "documents d LEFT JOIN m USING (doc_id)",
      "coalesce(m.score, 0)") +
    " SELECT doc_id, text, lang, source, n_chars, " +
    "ph_score AS _score " +
    "FROM pb WHERE pf > 0 " +
    "ORDER BY _score DESC, doc_id LIMIT 100"

  /** Shared oracle of q7_esdsl_phrase_english_transposed (+ indexed
    * twin): gapped stems (window@0, sort@2) at slop 4 — 'sort' lands
    * on EITHER side of its expected offset (|adj_sort - adj_window|
    * <= 4, i.e. sort.pos in [window.pos - 2, window.pos + 6]), which
    * admits the corpus's reversed "sort ... window" family entirely
    * through out-of-order alignments; pf counts distinct head
    * ('window') positions, scored by the shared phrase-BM25 body. */
  private lazy val phraseEnglishTransposedSql: String = {
    "WITH toks AS (SELECT doc_id, " + anToksSql("text") +
      " AS ts FROM documents), " +
    "pos AS (SELECT doc_id, unnest(ts) AS tok, " +
      "generate_subscripts(ts, 1) AS pos FROM toks), " +
    "gp AS (SELECT a.doc_id, count(DISTINCT a.pos) AS pf0 " +
      "FROM pos a JOIN pos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'window' AND b.tok = 'sort' " +
      "AND b.pos BETWEEN a.pos - 2 AND a.pos + 6 " +
      "GROUP BY a.doc_id), " +
    "gd AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "COALESCE(gp.pf0, 0) AS pf0 FROM documents d " +
      "LEFT JOIN gp ON d.doc_id = gp.doc_id), " +
    phraseBm25Body(Seq("window", "sort"), "gd", "pf0") +
    " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS \"_score\" " +
    "FROM pb WHERE pf > 0 ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  /** Shared oracle of q7_esdsl_mlt and its index-stats twin: the three
    * surviving selected terms enumerated statically (selection
    * invariance documented at the query; the twin's statistics are
    * integer-identical, so selection cannot diverge). */
  private lazy val mltSql: String = {
    def cnt(t: String) =
      substrCountSql(s"(${tokenNormSql("text")})", s" $t ")
    "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
      s"${cnt("window")} AS cw, ${cnt("batch")} AS cb, " +
      s"${cnt("merge")} AS cm FROM documents) " +
    "SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(cw + cb + cm AS DOUBLE) AS \"_score\" " +
    "FROM b WHERE (CASE WHEN cw > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN cb > 0 THEN 1 ELSE 0 END + " +
      "CASE WHEN cm > 0 THEN 1 ELSE 0 END) >= 2 " +
    "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
  }

  def oracleSql: Map[String, String] = Map(
    "denorm_tickets" -> denormSql,
    "denorm_tickets_nested" -> denormNestedSql,

    "s1_scan_filter" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice " +
       "FROM lineitem WHERE l_returnflag = 'R'"),

    "s3_count" -> "SELECT count(*) AS cnt FROM lineitem",

    "p3_projection" ->
      ("SELECT o_orderkey AS ticket_id, o_orderstatus AS ticket_status, " +
       "o_orderpriority AS ticket_priority, o_orderdate AS ticket_created, " +
       "o_totalprice AS ticket_total FROM orders"),

    "p4_namespacing" ->
      ("SELECT c_custkey AS customer_c_custkey, c_name AS customer_c_name, " +
       "c_nationkey AS customer_c_nationkey, " +
       "c_acctbal AS customer_c_acctbal, " +
       "c_mktsegment AS customer_c_mktsegment, 'customer' AS \"table\" " +
       "FROM customer"),

    "p5_type_coercion" ->
      ("SELECT CAST(o_orderkey AS VARCHAR) AS id_str, " +
       "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created_iso " +
       "FROM orders"),

    "p7_validate_default" ->
      ("SELECT coalesce(CAST(event_id AS VARCHAR), " +
       "md5(concat_ws('|', user_id, value))) AS id, " +
       "coalesce(event_type, 'unknown') AS event_type, " +
       "coalesce(props, '{}') AS props " +
       "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL"),

    "j1_inner_join" ->
      ("SELECT s_suppkey, s_name, n_name AS nation_name " +
       "FROM supplier JOIN nation ON s_nationkey = n_nationkey"),

    "j3_broadcast_dims" ->
      ("SELECT c_custkey, c_name, n_name AS module_name, " +
       "r_name AS datasource_name FROM customer " +
       "LEFT JOIN nation ON c_nationkey = n_nationkey " +
       "LEFT JOIN region ON n_regionkey = r_regionkey"),

    "j7_self_join" ->
      ("SELECT n.n_nationkey AS id, n.n_name AS name, " +
       "p.n_name AS parent_name FROM nation n " +
       "LEFT JOIN nation p ON n.n_regionkey = p.n_nationkey"),

    "a2_group_to_array" ->
      ("SELECT l_orderkey, " +
       "string_agg(DISTINCT p_name, '|' ORDER BY p_name) AS labels " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "GROUP BY l_orderkey"),

    // module-composite oracle: struct arrays via the proven
    // to_json(list(s ORDER BY s)) == to_json(array_sort(collect_set))
    // trick; segments via string_agg DISTINCT (needs its own CTE — the
    // struct-DISTINCT subquery has a different dedup granularity).
    "a3_module_nested" ->
      ("""WITH cust AS (
        |  SELECT key, CAST(to_json(list(s ORDER BY s)) AS VARCHAR)
        |    AS customers
        |  FROM (SELECT DISTINCT c_nationkey AS key,
        |          struct_pack(id := c_custkey, name := c_name) AS s
        |        FROM customer) q
        |  GROUP BY key
        |), seg AS (
        |  SELECT c_nationkey AS key,
        |    string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
        |      AS segments
        |  FROM customer GROUP BY 1
        |), supp AS (
        |  SELECT key, CAST(to_json(list(s ORDER BY s)) AS VARCHAR)
        |    AS suppliers
        |  FROM (SELECT DISTINCT s_nationkey AS key,
        |          struct_pack(id := s_suppkey, name := s_name) AS s
        |        FROM supplier) q
        |  GROUP BY key
        |)
        |SELECT n.n_nationkey AS module_id, n.n_name AS module_name,
        |  p.n_name AS parent_name, cust.customers, supp.suppliers,
        |  seg.segments
        |FROM nation n
        |LEFT JOIN nation p ON n.n_regionkey = p.n_nationkey
        |LEFT JOIN cust ON cust.key = n.n_nationkey
        |LEFT JOIN seg ON seg.key = n.n_nationkey
        |LEFT JOIN supp ON supp.key = n.n_nationkey""".stripMargin),

    "w1_latest_per_key" ->
      ("SELECT user_id, event_id AS last_event_id, " +
       "event_type AS last_event_type FROM (" +
       "SELECT *, row_number() OVER (PARTITION BY user_id " +
       "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"),

    "w2_lag_lead" ->
      ("SELECT user_id, event_id, " +
       "lag(event_id, 1) OVER w AS prev_event_id, " +
       "lead(event_id, 1) OVER w AS next_event_id, " +
       "count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
       "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq_no " +
       "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL " +
       "AND event_id IS NOT NULL " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),

    "w3_sessionize" ->
      ("WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL " +
       "AND ts IS NOT NULL AND event_id IS NOT NULL), " +
       "g AS (SELECT user_id, event_id, ts, " +
       "CASE WHEN lag(ts, 1) OVER w IS NULL " +
       "OR ts - lag(ts, 1) OVER w > INTERVAL '30 minutes' " +
       "THEN 1 ELSE 0 END AS new_session FROM ev " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "s AS (SELECT user_id, event_id, " +
       "CAST(sum(new_session) OVER (PARTITION BY user_id " +
       "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
       "CURRENT ROW) AS BIGINT) AS session_idx FROM g) " +
       "SELECT user_id, session_idx, count(*) AS n_events, " +
       "min(event_id) AS first_event_id, max(event_id) AS last_event_id " +
       "FROM s GROUP BY user_id, session_idx"),

    "q6_forecast_revenue" ->
      ("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue " +
       "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1994-01-01' " +
       "AND l_shipdate < TIMESTAMP '1995-01-01' " +
       "AND l_discount >= 0.05 AND l_discount <= 0.07 " +
       "AND l_quantity < 24"),

    "o1_global_sort" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
       "ORDER BY o_totalprice DESC, o_orderkey"),

    "o3_topk" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
       "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),

    "w4_funnel" ->
      ("WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type " +
       "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL " +
       "AND event_type IS NOT NULL " +
       "QUALIFY row_number() OVER (PARTITION BY user_id " +
       "ORDER BY epoch_us(ts), event_id) <= 5), " +
       "s1 AS (SELECT user_id, min(tsu) AS t1 FROM ev " +
       "WHERE event_type = 'view' GROUP BY 1), " +
       "s2 AS (SELECT ev.user_id, min(tsu) AS t2 FROM ev " +
       "JOIN s1 USING (user_id) " +
       "WHERE event_type = 'click' AND tsu > t1 GROUP BY 1), " +
       "s3 AS (SELECT ev.user_id, min(tsu) AS t3 FROM ev " +
       "JOIN s2 USING (user_id) " +
       "WHERE event_type = 'purchase' AND tsu > t2 GROUP BY 1), " +
       "st AS (SELECT u.user_id, " +
       "CASE WHEN s3.user_id IS NOT NULL THEN 3 " +
       "WHEN s2.user_id IS NOT NULL THEN 2 " +
       "WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage_reached " +
       "FROM (SELECT DISTINCT user_id FROM ev) u " +
       "LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) " +
       "LEFT JOIN s3 USING (user_id)) " +
       "SELECT stage_reached, count(*) AS n_users FROM st " +
       "GROUP BY stage_reached"),

    "w5_ewma" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, " +
       "value FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL " +
       "AND event_id IS NOT NULL AND value IS NOT NULL), " +
       "r AS (SELECT user_id, value, " +
       "row_number() OVER (PARTITION BY user_id ORDER BY tsu, event_id) " +
       "AS rn, count(*) OVER (PARTITION BY user_id) AS n FROM ev) " +
       "SELECT user_id, max(n) AS n_events, " +
       "floor(sum(CASE WHEN rn = 1 THEN pow(0.7, n - 1) * value " +
       "ELSE 0.3 * pow(0.7, n - rn) * value END) * 1e4 + 0.5) / 1e4 " +
       "AS ewma FROM r GROUP BY user_id"),

    "r7_drift_psi" ->
      ("WITH prev AS (SELECT o_totalprice AS v FROM orders " +
       "WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL), " +
       "nxt AS (SELECT o_totalprice * CASE WHEN o_orderkey % 7 = 0 " +
       "THEN 1.5 ELSE 1.0 END AS v FROM orders " +
       "WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL), " +
       "mm AS (SELECT min(v) AS mn, max(v) AS mx FROM " +
       "(SELECT v FROM prev UNION ALL SELECT v FROM nxt)), " +
       "bp AS (SELECT CASE WHEN mx = mn THEN 0 ELSE least(9, " +
       "CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INT)) END " +
       "AS bucket, count(*) AS n_prev " +
       "FROM prev CROSS JOIN mm GROUP BY 1), " +
       "bq AS (SELECT CASE WHEN mx = mn THEN 0 ELSE least(9, " +
       "CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INT)) END " +
       "AS bucket, count(*) AS n_next " +
       "FROM nxt CROSS JOIN mm GROUP BY 1), " +
       "pt AS (SELECT CAST(sum(n_prev) AS DOUBLE) AS tot_p FROM bp), " +
       "qt AS (SELECT CAST(sum(n_next) AS DOUBLE) AS tot_q FROM bq) " +
       "SELECT bucket, COALESCE(n_prev, 0) AS n_prev, " +
       "COALESCE(n_next, 0) AS n_next, " +
       "floor(((COALESCE(n_prev, 0) + 1.0) / (tot_p + 10) - " +
       "(COALESCE(n_next, 0) + 1.0) / (tot_q + 10)) * " +
       "ln(((COALESCE(n_prev, 0) + 1.0) / (tot_p + 10)) / " +
       "((COALESCE(n_next, 0) + 1.0) / (tot_q + 10))) * 1e6 + 0.5) / 1e6 " +
       "AS psi_contrib " +
       "FROM bp FULL OUTER JOIN bq USING (bucket) " +
       "CROSS JOIN pt CROSS JOIN qt"),

    "a11_histogram" ->
      ("WITH mm AS (SELECT min(o_totalprice) AS mn, " +
       "max(o_totalprice) AS mx FROM orders) " +
       "SELECT CASE WHEN mx = mn THEN 0 ELSE " +
       "least(9, CAST(floor((o_totalprice - mn) / " +
       "((mx - mn) / 10.0)) AS INT)) END AS bucket, count(*) AS n " +
       "FROM orders CROSS JOIN mm " +
       "WHERE o_totalprice IS NOT NULL GROUP BY 1"),

    "a12_corr" ->
      ("SELECT l_returnflag, count(*) AS n, " +
       "floor(corr(l_quantity, l_extendedprice) * 1e4 + 0.5) / 1e4 " +
       "AS corr_qp, " +
       "floor(covar_samp(l_quantity, l_extendedprice) / 1000.0 " +
       "* 1e4 + 0.5) / 1e4 AS covar_qp_k " +
       "FROM lineitem GROUP BY l_returnflag"),

    "a9_pivot" ->
      ("SELECT user_id, " +
       "count(*) FILTER (WHERE event_type = 'click') AS click, " +
       "count(*) FILTER (WHERE event_type = 'error') AS error, " +
       "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
       "count(*) FILTER (WHERE event_type = 'signup') AS signup, " +
       "count(*) FILTER (WHERE event_type = 'view') AS \"view\" " +
       "FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL " +
       "GROUP BY user_id"),

    "a10_unpivot" ->
      ("SELECT user_id, event_type, count(*) AS cnt FROM events " +
       "WHERE user_id IS NOT NULL AND event_type IS NOT NULL " +
       "GROUP BY user_id, event_type"),

    "o5_group_topk" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, " +
       "CAST(row_number() OVER w AS INT) AS rank_in_cust " +
       "FROM orders WHERE o_custkey IS NOT NULL " +
       "WINDOW w AS (PARTITION BY o_custkey " +
       "ORDER BY o_totalprice DESC, o_orderkey) " +
       "QUALIFY rank_in_cust <= 3"),

    "f2_doc_id" ->
      (s"SELECT c_custkey, concat_ws('_', c_custkey, '$RunTs') " +
       "AS document_id, md5(concat_ws('|', c_custkey, c_name, " +
       "c_nationkey, c_mktsegment)) AS content_hash FROM customer"),

    "f7_json_extract" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) " +
       "AS k FROM events"),

    "f7_variant_extract" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) " +
       "AS k FROM events"),

    "f8_normalize_json" ->
      ("SELECT event_id, " +
       "'{\"payload\":' || CAST(json(props) AS VARCHAR) || '}' " +
       "AS normalized FROM events WHERE props IS NOT NULL"),

    "r1_point_lookup" ->
      (s"SELECT * FROM ($denormSql) WHERE ticket_number = 42"),

    "q1_search" ->
      ("SELECT doc_id, lang, source FROM documents " +
       "WHERE contains(lower(text), 'window') " +
       "OR contains(lower(source), 'window')"),

    "q1_search_scored" ->
      ("SELECT doc_id, text, source, score FROM (" +
       "SELECT doc_id, text, source, " +
       "CAST((length(coalesce(text,'')) - " +
       "length(replace(lower(coalesce(text,'')), 'window', ''))) / 6 + " +
       "(length(coalesce(source,'')) - " +
       "length(replace(lower(coalesce(source,'')), 'window', ''))) / 6 " +
       "AS INT) AS score FROM documents) " +
       "WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 100"),

    "q2_search_tfidf" -> {
      // per-term conditional sums added in a FIXED order, mirroring
      // Search.tfidf exactly (float addition is order-sensitive)
      val termSum = Seq("window", "the", "of").map(t =>
        s"coalesce(sum(CASE WHEN term = '$t' THEN tf.tf * idf.idf END), 0.0)")
        .mkString(" + ")
      "WITH toks AS (" +
       "  SELECT doc_id, unnest(" + anToksSql("text") + ") AS term" +
       "  FROM documents" +
       "), q AS (SELECT doc_id, term FROM toks " +
       "  WHERE term IN ('window', 'the', 'of')), " +
       "n AS (SELECT count(*) AS n FROM documents), " +
       "idf AS (SELECT term, " +
       "  (n.n + 1.0) / (count(DISTINCT doc_id) + 1.0) AS idf " +
       "  FROM q CROSS JOIN n GROUP BY term, n.n), " +
       "tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2) " +
       "SELECT doc_id, " +
       s"  floor(($termSum) * 10000.0 + 0.5) / 10000.0 AS score " +
       "FROM tf JOIN idf USING (term) GROUP BY doc_id " +
       "ORDER BY score DESC, doc_id LIMIT 100"
    },

    "q2_search_bm25" -> bm25SingleSql,

    // indexed twin: the identical scan-path oracle (see
    // q4_union_search_bm25_indexed's note)
    "q2_search_bm25_indexed" -> bm25SingleSql,

    "q2_search_bm25_multi" ->
      bm25MultiSql("text", "source", Seq("window", "src3"),
        bestFields = false),

    "q4_union_search_bm25" ->
      unionBm25Sql(Seq("small", "error", "household")),

    // comma-list target: the same per-entity branches, subset-filtered
    "q4_union_search_bm25_pair" ->
      unionBm25Sql(Seq("small", "error", "household"),
        only = Set("customer", "part")),

    // the indexed twins must reproduce the scan-path oracles BIT FOR
    // BIT — same SQL, so any drift between the materialized index and
    // the corpus shows up as a hash mismatch
    "q4_union_search_bm25_indexed" ->
      unionBm25Sql(Seq("small", "error", "household")),

    // the DSL wildcard route and ITS indexed twin reproduce the same
    // per-entity composed ranking — one oracle, four plans total
    "q7_esdsl_bm25_wildcard" ->
      unionBm25Sql(Seq("small", "error", "household")),
    "q7_esdsl_bm25_wildcard_indexed" ->
      unionBm25Sql(Seq("small", "error", "household")),

    // wildcard phrase: per-entity token-adjacent occurrence counts over
    // the same branch structure as q4_union_search, needle in
    // tokenNorm's double-space form
    "q4_union_search_phrase_indexed" -> {
      def occ(f: String) =
        substrCountSql(s"(${tokenNormSql(f)})", " blue  rod ")
      val branches = Seq(
        ("customer", "c_custkey", Seq("c_name", "c_mktsegment"),
          Seq("c_custkey", "c_name")),
        ("events", "event_id", Seq("event_type", "props"),
          Seq("event_id", "user_id")),
        ("nation", "n_nationkey", Seq("n_name"),
          Seq("n_nationkey", "n_name")),
        ("orders", "o_orderkey", Seq("o_orderstatus", "o_orderpriority"),
          Seq("o_orderkey", "o_custkey")),
        ("part", "p_partkey", Seq("p_name", "p_brand", "p_type"),
          Seq("p_partkey", "p_name")),
        ("region", "r_regionkey", Seq("r_name"),
          Seq("r_regionkey", "r_name")),
        ("supplier", "s_suppkey", Seq("s_name"),
          Seq("s_suppkey", "s_name"))
      ).map { case (t, id, fs, req) =>
        s"""SELECT '$t' AS "table", """ +
          s"concat_ws('_', $id, '$RunTs') AS document_id, " +
          fs.map(occ).mkString(" + ") + s" AS score FROM $t WHERE " +
          req.map(c => s"$c IS NOT NULL").mkString(" AND ")
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($branches) WHERE score > 0 " +
        """ORDER BY score DESC, document_id, "table" LIMIT 100"""
    },

    "q2_search_bm25_best" ->
      bm25MultiSql("text", "source", Seq("window", "src3"),
        bestFields = true),

    "q2_search_boost" ->
      bm25MultiSql("text", "source", Seq("window", "src3"),
        bestFields = false, boosts = Seq(None, Some(3.0))),

    "q2_search_phrase" -> phraseOracleSql,
    "q2_search_phrase_indexed" -> phraseOracleSql,
    "q7_esdsl_phrase_bm25" -> phraseBm25Sql,
    "q7_esdsl_phrase_bm25_indexed" -> phraseBm25Sql,
    "q7_esdsl_phrase_stats_probe" -> phraseBm25Sql,
    "q2_search_phrase_slop" -> slopOracleSql,
    "q2_search_phrase_slop_indexed" -> slopOracleSql,
    "q7_esdsl_phrase_slop" -> (
      slopOracleCte("the", "window", 2) + ", " +
      phraseBm25Body(Seq("the", "window"),
        "documents d LEFT JOIN m USING (doc_id)",
        "coalesce(m.score, 0)") +
      " SELECT doc_id, text, lang, source, n_chars, " +
      "ph_score AS _score " +
      "FROM pb WHERE pf > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    // date_range: conditional timestamp-window buckets
    "q7_esdsl_date_range" ->
      ("SELECT '*-2024-01-10' AS key, " +
       "count(CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 1 END) " +
         "AS doc_count, " +
       "count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-10' " +
         "THEN user_id END) AS actives FROM events " +
       "UNION ALL SELECT 'mid_month', " +
       "count(CASE WHEN ts >= TIMESTAMP '2024-01-10' AND " +
         "ts < TIMESTAMP '2024-01-20' THEN 1 END), " +
       "count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-10' AND " +
         "ts < TIMESTAMP '2024-01-20' THEN user_id END) FROM events " +
       "UNION ALL SELECT '2024-01-20-*', " +
       "count(CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN 1 END), " +
       "count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-20' " +
         "THEN user_id END) FROM events"),

    // highlight: token-rebuilt text with matched tokens wrapped;
    // phrase-count score
    "q7_esdsl_highlight" -> (
      phraseBm25TheWindow +
      " SELECT doc_id, ph_score AS _score, " +
        "array_to_string(list_transform(list_filter(" +
        "string_split_regex(coalesce(text, ''), '\\s+'), " +
        "x -> x <> ''), x -> CASE WHEN len(list_filter(" +
        anToksSql("x") + ", t -> t IN ('the', 'window'))) > 0 " +
        "THEN '<em>' || x || '</em>' ELSE x END), ' ') " +
        "AS highlight_text " +
      "FROM pb WHERE pf > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    // collapse: best row per lang under (n_chars desc, doc_id) —
    // window rank twin
    "q7_esdsl_collapse" ->
      ("WITH r AS (SELECT doc_id, text, lang, source, n_chars, " +
       "CAST(1.0 AS DOUBLE) AS _score, " +
       "row_number() OVER (PARTITION BY lang " +
       "ORDER BY n_chars DESC, doc_id) AS rn FROM documents) " +
       "SELECT doc_id, text, lang, source, n_chars, _score FROM r " +
       "WHERE rn = 1 ORDER BY n_chars DESC, doc_id LIMIT 10"),

    // collapse inner_hits: the group's top-2 rows in effective-sort
    // order as a jsonified struct list (struct fields in table order,
    // mirroring Spark's struct(df.columns))
    "q7_esdsl_collapse_inner" ->
      ("WITH r AS (SELECT doc_id, text, lang, source, n_chars, " +
       "CAST(1.0 AS DOUBLE) AS _score, " +
       "row_number() OVER (PARTITION BY lang " +
       "ORDER BY n_chars DESC, doc_id) AS rn FROM documents), " +
       "g AS (SELECT lang AS chk, CAST(to_json(list(struct_pack(" +
         "doc_id := doc_id, text := text, lang := lang, " +
         "source := source, n_chars := n_chars) ORDER BY rn)) " +
         "AS VARCHAR) AS inner_hits_top_docs " +
         "FROM r WHERE rn <= 2 GROUP BY 1) " +
       "SELECT r.doc_id, r.text, r.lang, r.source, r.n_chars, " +
       "r._score, g.inner_hits_top_docs FROM r " +
       "JOIN g ON r.lang IS NOT DISTINCT FROM g.chk WHERE rn = 1 " +
       "ORDER BY r.n_chars DESC, r.doc_id LIMIT 10"),

    // search_after: strictly-after (n_chars desc, doc_id asc) resume
    "q7_esdsl_search_after" ->
      ("SELECT doc_id, text, lang, source, n_chars, " +
       "CAST(1.0 AS DOUBLE) AS _score FROM documents " +
       "WHERE n_chars < 306 OR (n_chars = 306 AND doc_id > 100) " +
       "ORDER BY n_chars DESC, doc_id LIMIT 50"),

    // simple_query_string: sloppy-phrase count (slop 1) OR'd with
    // (prefix-token count AND term count); matching sides sum
    "q7_esdsl_simple_query_string" -> {
      val bc = substrCountSql(s"(${tokenNormSql("text")})", " batch ")
      slopOracleCte("the", "window", 1) +
      ", w AS (SELECT doc_id, CAST(len(list_filter(ts, " +
        "x -> x LIKE 'wind%')) AS INT) AS wc FROM toks), " +
      s"bq AS (SELECT doc_id, $bc AS bc FROM documents) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(CASE WHEN coalesce(m.score, 0) > 0 THEN m.score ELSE 0 END " +
        "+ CASE WHEN w.wc > 0 AND bq.bc > 0 THEN w.wc + bq.bc " +
        "ELSE 0 END AS DOUBLE) AS _score " +
      "FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id " +
      "JOIN w ON d.doc_id = w.doc_id JOIN bq ON d.doc_id = bq.doc_id " +
      "WHERE coalesce(m.score, 0) > 0 OR (w.wc > 0 AND bq.bc > 0) " +
      "ORDER BY _score DESC, d.doc_id LIMIT 100"
    },

    // composite page 2: pre-group row filter == post-group key filter
    // for terms sources (the key IS the row value)
    "q7_esdsl_composite" ->
      ("SELECT o_orderstatus AS status, o_orderpriority AS prio, " +
       "count(*) AS doc_count, min(o_totalprice) AS min_price " +
       "FROM orders WHERE o_orderstatus IS NOT NULL " +
       "AND o_orderpriority IS NOT NULL " +
       "AND (o_orderstatus > 'F' OR (o_orderstatus = 'F' " +
         "AND o_orderpriority > '3-MEDIUM')) " +
       "GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 5"),

    // top_hits: window rank within the top-2 parent buckets
    "q7_esdsl_top_hits" ->
      ("WITH parents AS (SELECT o_orderstatus, count(*) AS doc_count " +
         "FROM orders WHERE o_orderstatus IS NOT NULL " +
         "GROUP BY 1 ORDER BY doc_count DESC, o_orderstatus LIMIT 2), " +
       "h AS (SELECT o_orderstatus, o_orderkey, o_totalprice, " +
         "CAST(row_number() OVER (PARTITION BY o_orderstatus " +
         "ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS hit_rank " +
         "FROM orders WHERE o_orderstatus IS NOT NULL) " +
       "SELECT p.o_orderstatus, p.doc_count, h.hit_rank, " +
         "h.o_orderkey, h.o_totalprice " +
       "FROM parents p JOIN h USING (o_orderstatus) " +
       "WHERE h.hit_rank <= 2 " +
       "ORDER BY p.doc_count DESC, p.o_orderstatus, h.hit_rank"),

    // one-row stats over a long column: every value exact (integer
    // sum, one division for avg); DuckDB's BIGINT sum widens to
    // HUGEINT — cast back
    "q7_esdsl_stats" ->
      ("SELECT count(o_custkey) AS ck_count, " +
       "min(o_custkey) AS ck_min, max(o_custkey) AS ck_max, " +
       "avg(o_custkey) AS ck_avg, " +
       "CAST(sum(o_custkey) AS BIGINT) AS ck_sum FROM orders"),

    // exact interpolated percentiles == DuckDB quantile_cont
    "q7_esdsl_percentiles" ->
      ("SELECT quantile_cont(o_totalprice, 0.25) AS price_p25, " +
       "quantile_cont(o_totalprice, 0.50) AS price_p50, " +
       "quantile_cont(o_totalprice, 0.75) AS price_p75, " +
       "quantile_cont(o_totalprice, 0.99) AS price_p99 FROM orders"),

    // range buckets: from inclusive / to exclusive, ES's "from-to"
    // keys, all buckets present; conditional aggregates per bucket
    "q7_esdsl_range" ->
      ("SELECT '*-10000.0' AS key, " +
       "count(CASE WHEN o_totalprice < 10000 THEN 1 END) AS doc_count, " +
       "count(DISTINCT CASE WHEN o_totalprice < 10000 " +
         "THEN o_custkey END) AS n_customers FROM orders " +
       "UNION ALL SELECT '10000.0-150000.0', " +
       "count(CASE WHEN o_totalprice >= 10000 AND o_totalprice < 150000 " +
         "THEN 1 END), " +
       "count(DISTINCT CASE WHEN o_totalprice >= 10000 AND " +
         "o_totalprice < 150000 THEN o_custkey END) FROM orders " +
       "UNION ALL SELECT '150000.0-*', " +
       "count(CASE WHEN o_totalprice >= 150000 THEN 1 END), " +
       "count(DISTINCT CASE WHEN o_totalprice >= 150000 " +
         "THEN o_custkey END) FROM orders"),

    // named filter buckets, min sub-metric rides the same
    // conditional pass
    "q7_esdsl_filters" ->
      ("SELECT 'short_docs' AS key, " +
       "count(CASE WHEN n_chars < 200 THEN 1 END) AS doc_count, " +
       "min(CASE WHEN n_chars < 200 THEN n_chars END) AS min_len " +
       "FROM documents " +
       "UNION ALL SELECT 'src3', " +
       "count(CASE WHEN source = 'src3' THEN 1 END), " +
       "min(CASE WHEN source = 'src3' THEN n_chars END) FROM documents " +
       "UNION ALL SELECT 'german', " +
       "count(CASE WHEN lang = 'de' THEN 1 END), " +
       "min(CASE WHEN lang = 'de' THEN n_chars END) FROM documents"),

    // terms knobs: missing → coalesce key, HAVING floor, _key asc
    // order interacting with the size cap
    "q7_esdsl_terms_knobs" ->
      ("SELECT coalesce(lang, 'unknown') AS lang, " +
       "count(*) AS doc_count, count(n_chars) AS n_docs " +
       "FROM documents GROUP BY 1 HAVING count(*) >= 71 " +
       "ORDER BY lang LIMIT 3"),

    "q7_esdsl_terms_order_metric" ->
      ("SELECT lang, count(*) AS doc_count, " +
       "avg(n_chars) AS avg_chars FROM documents " +
       "WHERE lang IS NOT NULL GROUP BY lang " +
       "ORDER BY avg_chars ASC, lang LIMIT 3"),

    // dis_max: phrase-count subscore vs constant term subscore —
    // max + tie_breaker·(sum − max) over MATCHING subqueries only
    "q7_esdsl_dismax" -> (
      phraseBm25TheWindow +
      ", c AS (SELECT doc_id, text, lang, source, n_chars, pf, " +
        "CASE WHEN pf > 0 THEN ph_score ELSE CAST(0.0 AS DOUBLE) END " +
        "AS pc, " +
        "CASE WHEN source = 'src3' THEN CAST(1.0 AS DOUBLE) " +
        "ELSE CAST(0.0 AS DOUBLE) END AS tm FROM pb) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "greatest(pc, tm) + CAST(0.4 AS DOUBLE) * " +
        "(pc + tm - greatest(pc, tm)) AS _score " +
      "FROM c WHERE pf > 0 OR tm > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    // boosting: positive phrase hits, demoted ×0.5 when lang = 'de'
    "q7_esdsl_boosting" -> (
      phraseBm25TheWindow +
      " SELECT doc_id, text, lang, source, n_chars, " +
        "CASE WHEN lang = 'de' THEN ph_score * CAST(0.5 AS DOUBLE) " +
        "ELSE ph_score END AS _score " +
      "FROM pb WHERE pf > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    // match_phrase_prefix "the s": 'the' then any token LIKE 's%'
    // immediately after; score = count of start positions
    "q7_esdsl_phrase_prefix" -> phrasePrefixOracleSql,

    "q7_esdsl_multimatch_phrase_prefix" -> phrasePrefixOracleSql,

    // fuzzy 'windwo' fuzziness 1 under the Damerau default (an
    // adjacent swap is one edit) vs the explicit Levenshtein path
    "q7_esdsl_fuzzy_damerau" ->
      ("WITH ts AS (SELECT doc_id, text, lang, source, n_chars, " +
        anToksSql("text") + " AS ts FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(len(list_filter(ts, x -> " +
        "damerau_levenshtein(x, 'windwo') <= 1)) AS DOUBLE) AS _score " +
      "FROM ts WHERE len(list_filter(ts, x -> " +
        "damerau_levenshtein(x, 'windwo') <= 1)) > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    "q7_esdsl_fuzzy_lev" ->
      ("WITH ts AS (SELECT doc_id, text, lang, source, n_chars, " +
        anToksSql("text") + " AS ts FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(len(list_filter(ts, x -> " +
        "levenshtein(x, 'windwo') <= 1)) AS DOUBLE) AS _score " +
      "FROM ts WHERE len(list_filter(ts, x -> " +
        "levenshtein(x, 'windwo') <= 1)) > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    // term-level fuzzy 'windoq' (AUTO → 2 edits): per-token
    // Damerau count (ES default transpositions), double-scored
    "q7_esdsl_fuzzy" ->
      ("WITH ts AS (SELECT doc_id, text, lang, source, n_chars, " +
        anToksSql("text") + " AS ts FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(len(list_filter(ts, x -> " +
        "damerau_levenshtein(x, 'windoq') <= 2)) AS DOUBLE) AS _score " +
      "FROM ts WHERE len(list_filter(ts, x -> " +
        "damerau_levenshtein(x, 'windoq') <= 2)) > 0 " +
      "ORDER BY _score DESC, doc_id LIMIT 100"),

    "q2_search_fuzzy" -> fuzzyOracleSql,
    "q2_search_fuzzy_indexed" -> fuzzyOracleSql,
    "q2_search_fuzzy_knobs" -> fuzzyKnobsOracleSql,
    "q2_search_fuzzy_knobs_indexed" -> fuzzyKnobsOracleSql,

    // since round 9 the must's match clause scores REAL BM25 (the
    // DSL's ES-parity scoring) — the oracle recomputes it with the
    // same per-field statistics CTEs the /search bm25 oracles use; the
    // match SET (≥1 term token-matches) and the filter/must_not/should
    // semantics are unchanged from round 8
    "q7_esdsl_bool" -> boolOracleSql,
    // the index-probe twin reproduces the scan pass bit for bit
    "q7_esdsl_bool_indexed" -> boolOracleSql,

    // best_fields BM25 must over (text, source) + a scored should over
    // lang: per-field statistics CTEs, greatest() combine for the must,
    // rounded once per clause, summed — mirroring EsDsl's bool rule
    "q7_esdsl_bm25" -> bm25BoolOracleSql,

    "q7_esdsl_match_english" -> matchEnglishSql,
    "q7_esdsl_match_whitespace" -> matchOneTermSql,
    "q7_esdsl_match_keyword" -> matchOneTermSql,
    "q7_idx_english_match" -> idxEnglishMatchSql,
    "q7_idx_english_phrase" -> idxEnglishPhraseSql,
    "q7_idx_whitespace_match" -> idxWhitespaceMatchSql,
    "q7_idx_keyword_match" -> idxKeywordMatchSql,
    "q7_esdsl_zero_terms_all" ->
      ("SELECT doc_id, text, lang, source, n_chars, " +
       "CAST(1.0 AS DOUBLE) AS \"_score\" FROM documents " +
       "ORDER BY doc_id LIMIT 100"),
    "q7_esdsl_match_french" -> matchFrenchSql,
    "q7_esdsl_match_french_indexed" -> matchFrenchSql,
    "q7_esdsl_phrase_french" -> phraseFrenchSql,
    "q7_idx_french_match" -> idxFrenchMatchSql,
    "q7_idx_french_phrase" -> idxFrenchPhraseSql,
    "q7_esdsl_match_german" -> matchGermanSql,
    "q7_esdsl_match_german_indexed" -> matchGermanSql,
    "q7_esdsl_phrase_german" -> phraseFrenchSql,
    "q7_idx_german_match" -> idxGermanMatchSql,
    "q7_idx_german_phrase" -> idxGermanPhraseSql,
    "q7_esdsl_match_spanish" -> matchSpanishSql,
    "q7_esdsl_match_spanish_indexed" -> matchSpanishSql,
    "q7_esdsl_phrase_spanish" -> phraseSpanishSql,
    "q7_idx_spanish_match" -> idxSpanishMatchSql,
    "q7_idx_spanish_phrase" -> idxSpanishPhraseSql,
    "q7_idx_custom_match" -> idxCustomMatchSql,
    "q7_idx_search_analyzer" -> idxSearchAnalyzerSql,
    "q7_esdsl_match_simple" -> matchSimpleStopSql,
    "q7_esdsl_match_stop" -> matchSimpleStopSql,
    "q7_esdsl_phrase_stop" -> phraseEnglishSql,
    "q7_esdsl_query_string_german" -> qsGermanSql,
    "q7_esdsl_sqs_english" -> sqsEnglishSql,

    "q7_esdsl_match_english_indexed" -> matchEnglishSql,

    "q7_esdsl_phrase_english" -> phraseEnglishSql,
    "q7_esdsl_phrase_english_indexed" -> phraseEnglishSql,
    "q7_esdsl_phrase_english_slop" -> phraseEnglishSlopSql,
    "q7_esdsl_phrase_english_budget" -> phraseEnglishBudgetSql,
    "q7_esdsl_phrase_english_budget_indexed" -> phraseEnglishBudgetSql,
    "q7_esdsl_phrase_slop_transposed" -> phraseSlopTransposedSql,
    "q7_esdsl_phrase_slop_transposed_indexed" -> phraseSlopTransposedSql,
    "q7_esdsl_phrase_english_transposed" -> phraseEnglishTransposedSql,
    "q7_esdsl_phrase_english_transposed_indexed" ->
      phraseEnglishTransposedSql,

    "q7_esdsl_multimatch_phrase" -> phraseBm25Sql,

    "q7_esdsl_cross_fields" -> crossFieldsOracleSql,
    // the all-probes twin (every scoring clause = one postings probe)
    "q7_esdsl_bm25_probe" -> bm25BoolOracleSql,

    // wildcard -> LIKE (whole value), prefix -> LIKE 'x%', regexp ->
    // full-match (both engines anchor); constant scores, id order
    "q7_esdsl_wildcard" ->
      ("SELECT p_partkey, p_name, p_brand, p_type, p_size, " +
       "p_retailprice, CAST(1.0 AS DOUBLE) AS \"_score\" FROM part " +
       "WHERE p_name LIKE '%r_d%' AND p_type LIKE 'S%' " +
       "AND regexp_full_match(p_brand, 'Brand#(1[0-9]|2)') " +
       "ORDER BY \"_score\" DESC, p_partkey LIMIT 100"),

    // query_string: first-principles re-derivation — boosted token
    // count, `sc?n` -> token LIKE 'sc_n', the OR group as a matched-
    // should sum, the range's constant 1.0, NOT as exclusion
    "q7_esdsl_query_string" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
        s"$wc AS wc, " +
        "len(list_filter(" + anToksSql("text") +
          ", x -> x LIKE 'sc_n')) AS sc, " +
        "(CASE WHEN lang = 'en' THEN 1 ELSE 0 END + " +
          "CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS lc " +
      "FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(2.0 * wc + sc + lc + 1.0 AS DOUBLE) AS \"_score\" " +
      "FROM b WHERE wc > 0 AND sc > 0 AND lc > 0 " +
        "AND n_chars BETWEEN 100 AND 500 " +
        "AND NOT coalesce(source, '') = 'src7' " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    // function_score: base occurrence score × sqrt(n_chars) × gated
    // weight — sqrt/multiply are IEEE-exact on both engines
    "q7_esdsl_function_score" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      "SELECT doc_id, text, lang, source, n_chars, " +
        s"CAST($wc * sqrt(coalesce(n_chars, 1)) * " +
        "CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END AS DOUBLE) " +
        "AS \"_score\" " +
      s"FROM documents WHERE $wc > 0 " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    // nested: EXISTS over the per-order DISTINCT label set with both
    // conditions on one element; list(s ORDER BY s) mirrors
    // array_sort(collect_set(...)) like the denorm nested oracle
    "q7_esdsl_nested_query" ->
      ("WITH lb AS (SELECT DISTINCT l_orderkey, struct_pack(" +
         "id := p_partkey, name := p_name, color := p_brand) AS s " +
         "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
       "agg AS (SELECT l_orderkey, CAST(to_json(list(s ORDER BY s)) " +
         "AS VARCHAR) AS labels FROM lb GROUP BY 1), " +
       "m AS (SELECT l_orderkey, count(*) AS c FROM lb " +
         "WHERE s.color = 'Brand#12' AND s.id <= 1000 GROUP BY 1) " +
       "SELECT a.l_orderkey, a.labels, CAST(m.c AS DOUBLE) AS \"_score\" " +
       "FROM agg a JOIN m USING (l_orderkey) " +
       "ORDER BY a.l_orderkey LIMIT 100"),

    // inner_hits: the matching elements of the SORTED per-order label
    // array, first 2 (list slicing mirrors slice(filter(...), 1, 2))
    "q7_esdsl_inner_hits" ->
      ("WITH lb AS (SELECT DISTINCT l_orderkey, struct_pack(" +
         "id := p_partkey, name := p_name, color := p_brand) AS s " +
         "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
       "agg AS (SELECT l_orderkey, list_filter(list(s ORDER BY s), " +
         "x -> x.color = 'Brand#12' AND x.id <= 1000) AS mh " +
         "FROM lb GROUP BY 1) " +
       "SELECT l_orderkey, CAST(len(mh) AS DOUBLE) AS \"_score\", " +
       "CAST(to_json(mh[1:2]) AS VARCHAR) AS inner_hits_labels " +
       "FROM agg WHERE len(mh) > 0 ORDER BY l_orderkey LIMIT 100"),

    // combined_fields: the SAME per-field BM25 CTE builder over the
    // concatenated expression — one synthetic field, one dl/df/avgdl
    "q7_esdsl_combined_fields" -> {
      val comb = "(coalesce(text, '') || ' ' || coalesce(source, ''))"
      val nrm = tokenNormSql(comb)
      val cw = substrCountSql(s"($nrm)", " window ")
      val cs = substrCountSql(s"($nrm)", " src3 ")
      s"WITH ${bm25FieldCtes(comb, Seq("window", "src3"), "0")}, " +
      s"csc AS (${bm25CombineSql(Seq("0"), bestFields = false)}), " +
      "c AS (SELECT doc_id, text, lang, source, n_chars, " +
        s"$cw AS cw, $cs AS cs FROM documents) " +
      "SELECT c.doc_id, text, lang, source, n_chars, " +
        "COALESCE(csc.score, CAST(0.0 AS DOUBLE)) AS \"_score\" " +
      "FROM c LEFT JOIN csc ON c.doc_id = csc.doc_id " +
      "WHERE (CASE WHEN cw > 0 THEN 1 ELSE 0 END + " +
        "CASE WHEN cs > 0 THEN 1 ELSE 0 END) >= 1 " +
      "ORDER BY \"_score\" DESC, c.doc_id LIMIT 100"
    },

    "q7_esdsl_composite_date" ->
      ("SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day, " +
       "event_type AS type, count(*) AS doc_count, " +
       "CAST(sum(event_id) AS BIGINT) AS vol " +
       "FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL " +
       "GROUP BY 1, 2 ORDER BY day, type LIMIT 12"),

    "q7_esdsl_rank_feature" ->
      ("SELECT doc_id, text, lang, source, n_chars, " +
       "CAST((CAST(n_chars AS DOUBLE) / " +
       "(CAST(n_chars AS DOUBLE) + 250.0)) * 1.0 AS DOUBLE) " +
       "AS \"_score\" FROM documents WHERE n_chars IS NOT NULL " +
       "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    "q7_esdsl_distance_feature" ->
      ("SELECT event_id, ts, user_id, event_type, value, props, " +
       "CAST((604800000.0 / (604800000.0 + " +
       "abs(CAST(epoch_ms(ts) AS DOUBLE) - 1705276800000.0))) * 1.0 " +
       "AS DOUBLE) AS \"_score\" FROM events WHERE ts IS NOT NULL " +
       "ORDER BY \"_score\" DESC, event_id LIMIT 100"),

    "q7_esdsl_pinned" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      s"WITH b AS (SELECT doc_id, text, lang, source, n_chars, $wc " +
        "AS wc FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(CASE WHEN doc_id = 42 THEN 1e15 " +
        "WHEN doc_id = 7 THEN 1e15 - 1 " +
        "WHEN doc_id = 300 THEN 1e15 - 2 " +
        "WHEN wc > 0 THEN wc ELSE 0 END AS DOUBLE) AS \"_score\" " +
      "FROM b WHERE doc_id IN (42, 7, 300) OR wc > 0 " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    // more_like_this: the three surviving selected terms enumerated
    // statically (selection invariance documented at the query)
    "q7_esdsl_mlt" -> mltSql,

    // the indexed twin serves its selection STATISTICS from the
    // write-time index (integer-identical fieldstats/termstats), so
    // the chosen terms — and therefore the whole query — share the
    // scan path's oracle
    "q7_esdsl_mlt_indexed" -> mltSql,

    // gap fill: generate_series over the extended aligned range,
    // left join, zero-fill counts (metrics stay null)
    "q7_esdsl_gap_fill" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
         "count(*) AS doc_count, max(value) AS peak " +
         "FROM events WHERE ts IS NOT NULL GROUP BY 1), " +
       "bounds AS (SELECT least(min(key), 1703808000000) AS lo, " +
         "greatest(max(key), 1706832000000) AS hi FROM b), " +
       "keys AS (SELECT unnest(generate_series(lo, hi, 86400000)) " +
         "AS key FROM bounds) " +
       "SELECT k.key, coalesce(b.doc_count, 0) AS doc_count, b.peak " +
       "FROM keys k LEFT JOIN b ON k.key = b.key ORDER BY k.key"),

    "q7_esdsl_weighted_avg" ->
      ("SELECT sum(n_chars * w) / " +
       "sum(CASE WHEN n_chars IS NOT NULL THEN w END) AS wavg " +
       "FROM (SELECT *, doc_id % 10 + 1 AS w FROM documents)"),

    "q7_esdsl_multi_terms" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS doc_count, " +
       "count(DISTINCT o_custkey) AS n_customers FROM orders " +
       "WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL " +
       "GROUP BY 1, 2 " +
       "ORDER BY doc_count DESC, o_orderstatus, o_orderpriority " +
       "LIMIT 10"),

    "q7_esdsl_percentile_ranks" ->
      ("SELECT (sum(CASE WHEN o_totalprice <= 10000 THEN 1 ELSE 0 END) " +
       "* 100.0) / count(o_totalprice) AS pr_p10000, " +
       "(sum(CASE WHEN o_totalprice <= 100000 THEN 1 ELSE 0 END) " +
       "* 100.0) / count(o_totalprice) AS pr_p100000 FROM orders"),

    "q7_esdsl_adjacency" ->
      ("WITH c AS (SELECT " +
         "count(CASE WHEN lang = 'en' THEN 1 END) AS en, " +
         "count(CASE WHEN n_chars >= 300 THEN 1 END) AS lng, " +
         "count(CASE WHEN source = 'src3' THEN 1 END) AS s3, " +
         "count(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 END) " +
           "AS en_lng, " +
         "count(CASE WHEN lang = 'en' AND source = 'src3' THEN 1 END) " +
           "AS en_s3, " +
         "count(CASE WHEN n_chars >= 300 AND source = 'src3' THEN 1 " +
           "END) AS lng_s3 FROM documents) " +
       "SELECT key, doc_count FROM (" +
         "SELECT 'en' AS key, en AS doc_count FROM c UNION ALL " +
         "SELECT 'long', lng FROM c UNION ALL " +
         "SELECT 'src3', s3 FROM c UNION ALL " +
         "SELECT 'en&long', en_lng FROM c UNION ALL " +
         "SELECT 'en&src3', en_s3 FROM c UNION ALL " +
         "SELECT 'long&src3', lng_s3 FROM c) " +
       "WHERE doc_count > 0 ORDER BY key"),

    // significant_text: doc-frequency JLH over distinct tokens per
    // doc; the fg total counts ALL matched docs (null text included),
    // mirroring the engine's totals
    "q7_esdsl_significant_text" ->
      ("WITH fgd AS (SELECT * FROM documents WHERE lang = 'zh'), " +
       "fg AS (SELECT t AS key, count(*) AS doc_count FROM (" +
         "SELECT unnest(list_distinct(" + anToksSql("text") + ")) AS t " +
         "FROM fgd WHERE text IS NOT NULL) GROUP BY 1), " +
       "bg AS (SELECT t AS key, count(*) AS bg_count FROM (" +
         "SELECT unnest(list_distinct(" + anToksSql("text") + ")) AS t " +
         "FROM documents WHERE text IS NOT NULL) GROUP BY 1), " +
       "ft AS (SELECT count(*) AS fgt FROM fgd), " +
       "bt AS (SELECT count(*) AS bgt FROM documents) " +
       "SELECT * FROM (SELECT key, doc_count, bg_count, " +
         "(doc_count/fgt - bg_count/bgt) * " +
         "((doc_count/fgt) / (bg_count/bgt)) AS score " +
         "FROM fg JOIN bg USING (key) CROSS JOIN ft CROSS JOIN bt) " +
       "WHERE score > 0 ORDER BY score DESC, key LIMIT 10"),

    // term suggester: DOC-frequency vocabulary (list_distinct per
    // doc) + Damerau distance (ES string_distance "internal" counts
    // transpositions), ranked per token — shared verbatim by the
    // scan path and the termstats index probe
    "q7_esdsl_suggest" -> suggestOracleSql,
    "q7_esdsl_suggest_indexed" -> suggestOracleSql,
    "q7_esdsl_suggest_popular" -> suggestPopularOracleSql,
    "q7_esdsl_suggest_popular_indexed" -> suggestPopularOracleSql,
    "q7_esdsl_phrase_suggest" -> phraseSuggestOracleSql,
    "q7_esdsl_completion_suggest" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "ORDER BY suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_suggest_indexed" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "ORDER BY suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_fuzzy" -> completionFuzzySql,
    "q7_esdsl_completion_fuzzy_indexed" -> completionFuzzySql,
    "q7_esdsl_completion_contexts" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "AND lang IN ('en', 'fr') " +
       "ORDER BY suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_contexts_indexed" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "AND lang IN ('en', 'fr') " +
       "ORDER BY suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_geo" -> {
      val near = geoNeighborhoodSql(1, "10.0", "20.0")
      val far = geoNeighborhoodSql(1, "-50.0", "-150.0")
      s"SELECT c_custkey, c_mktsegment AS suggestion, " +
      s"CASE WHEN $near THEN 2.0 ELSE 1.0 END AS score " +
      "FROM customer WHERE lower(c_mktsegment) LIKE 'bu%' " +
      s"AND ($near OR $far) " +
      "ORDER BY score DESC, suggestion, c_custkey LIMIT 25"
    },
    "q7_esdsl_completion_geo_neighbours" -> {
      // exact p2 cell ∪ its 8 p2 neighbours ∪ the 8 p1 neighbours
      // of the containing p1 cell = (3×3 at p2) OR (3×3 at p1 minus
      // the exact p1 cell) — raw cell-index arithmetic
      val n2 = geoNeighborhoodSql(2, "10.0", "20.0")
      val n1 = geoNeighborhoodSql(1, "10.0", "20.0")
      val e1 = geoSameCellSql(1, "10.0", "20.0")
      s"SELECT c_custkey, c_mktsegment AS suggestion, 2.0 AS score " +
      "FROM customer WHERE lower(c_mktsegment) LIKE 'bu%' " +
      s"AND ($n2 OR ($n1 AND NOT $e1)) " +
      "ORDER BY score DESC, suggestion, c_custkey LIMIT 25"
    },

    "q7_esdsl_completion_context_boost" ->
      ("SELECT doc_id, text AS suggestion, " +
       "CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "AND lang IN ('en', 'fr') " +
       "ORDER BY score DESC, suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_context_boost_indexed" ->
      ("SELECT doc_id, text AS suggestion, " +
       "CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END AS score " +
       "FROM documents WHERE lower(text) LIKE 'wind%' " +
       "AND lang IN ('en', 'fr') " +
       "ORDER BY score DESC, suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_regex" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE regexp_matches(lower(text), " +
       "'^(?:wi[nm]d)') ORDER BY suggestion, doc_id LIMIT 10"),
    "q7_esdsl_completion_regex_indexed" ->
      ("SELECT doc_id, text AS suggestion, 1.0 AS score " +
       "FROM documents WHERE regexp_matches(lower(text), " +
       "'^(?:wi[nm]d)') ORDER BY suggestion, doc_id LIMIT 10"),

    // rescore: top-50 by primary count, combined score re-sort inside
    // the window (1·primary + 2·phrase)
    "q7_esdsl_rescore" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      phraseBm25TheWindow +
      ", b AS (SELECT doc_id, text, lang, source, n_chars, " +
        s"$wc AS wc, " +
        "CASE WHEN pf > 0 THEN ph_score ELSE CAST(0.0 AS DOUBLE) END " +
        "AS ph FROM pb), " +
      "f AS (SELECT * FROM b WHERE wc > 0), " +
      "win AS (SELECT * FROM f ORDER BY wc DESC, doc_id LIMIT 50) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(1.0 AS DOUBLE) * wc + CAST(2.0 AS DOUBLE) * ph " +
        "AS \"_score\" " +
      "FROM win ORDER BY \"_score\" DESC, doc_id LIMIT 20"
    },

    // terms_set: per-row threshold — matching-term count vs doc_id%3
    "q7_esdsl_terms_set" -> {
      def has(t: String) =
        s"CASE WHEN ${substrCountSql(s"(${tokenNormSql("text")})",
          s" $t ")} > 0 THEN 1 ELSE 0 END"
      "WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(doc_id % 3 AS INT) AS req, " +
        s"(${has("window")} + ${has("batch")} + ${has("dup")}) AS m " +
      "FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, req, " +
        "CAST(m AS DOUBLE) AS \"_score\" " +
      "FROM b WHERE m >= req " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    "q7_esdsl_nested_agg" ->
      ("WITH lb AS (SELECT DISTINCT l_orderkey, p_partkey, p_name, " +
         "p_brand FROM lineitem JOIN part ON l_partkey = p_partkey) " +
       "SELECT p_brand AS key, count(*) AS doc_count FROM lb " +
       "GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 10"),

    "q7_esdsl_reverse_nested" ->
      ("WITH lb AS (SELECT DISTINCT l_orderkey, p_partkey, p_name, " +
         "p_brand FROM lineitem JOIN part ON l_partkey = p_partkey) " +
       "SELECT p_brand AS key, count(*) AS doc_count, " +
       "count(DISTINCT l_orderkey) AS orders_doc_count FROM lb " +
       "GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 10"),

    "q7_esdsl_geo_distance" ->
      (s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       s"FROM customer WHERE ${haversineSql(0.0, 0.0)} <= 3000000.0"),

    "q7_esdsl_geo_bbox" ->
      (s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       s"FROM customer WHERE $GeoLatSql <= 60 AND $GeoLatSql >= -20 " +
       s"AND ($GeoLonSql >= 150 OR $GeoLonSql <= -120)"),

    // half-plane membership for the convex outer diamond (CCW edge
    // cross products all positive) minus the open hole box — the
    // region the engine's ray casting decides; boundaries are
    // unrepresentable on the synthetic grid so strictness never bites
    "q7_esdsl_geo_shape" ->
      (s"WITH g AS (SELECT *, $GeoLatSql AS lat, $GeoLonSql AS lon " +
       "FROM customer) " +
       "SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\" FROM g " +
       "WHERE (60.005 * lat + 50.005 * (lon + 60.005) > 0) " +
       "AND (60.005 * (lat + 50.005) - 50.005 * lon > 0) " +
       "AND (-60.005 * lat - 50.005 * (lon - 60.005) > 0) " +
       "AND (-60.005 * (lat - 50.005) + 50.005 * lon > 0) " +
       "AND NOT (lat > -15.005 AND lat < 15.005 " +
       "AND lon > -20.005 AND lon < 20.005)"),

    "q7_esdsl_geo_bounds" ->
      (s"WITH g AS (SELECT $GeoLatSql AS lat, $GeoLonSql AS lon " +
       "FROM customer), a AS (SELECT max(lat) AS t, min(lat) AS b, " +
       "min(CASE WHEN lon >= 0 THEN lon END) AS pl, " +
       "max(CASE WHEN lon >= 0 THEN lon END) AS pr, " +
       "min(CASE WHEN lon < 0 THEN lon END) AS nl, " +
       "max(CASE WHEN lon < 0 THEN lon END) AS nr FROM g) " +
       "SELECT t AS viewport_top_left_lat, " +
       "CASE WHEN pl IS NULL THEN nl WHEN nl IS NULL THEN pl " +
       "WHEN (pr - nl) <= ((180.0 - pl) - (-180.0 - nr)) THEN nl " +
       "ELSE pl END AS viewport_top_left_lon, " +
       "b AS viewport_bottom_right_lat, " +
       "CASE WHEN pl IS NULL THEN nr WHEN nl IS NULL THEN pr " +
       "WHEN (pr - nl) <= ((180.0 - pl) - (-180.0 - nr)) THEN pr " +
       "ELSE nr END AS viewport_bottom_right_lon FROM a"),

    "q7_esdsl_geo_centroid" ->
      (s"SELECT floor(avg($GeoLatSql) * 10000.0 + 0.5) / 10000.0 " +
       "AS center_lat, " +
       s"floor(avg($GeoLonSql) * 10000.0 + 0.5) / 10000.0 " +
       "AS center_lon, count(*) AS center_count " +
       "FROM customer WHERE c_acctbal >= 0"),

    "q7_esdsl_geo_distance_agg" -> {
      val d = s"(${haversineSql(0.0, 30.0)} / 1000.0)"
      s"WITH g AS (SELECT $d AS d, c_acctbal FROM customer) " +
      "SELECT '*-3000.0' AS key, " +
      "count(CASE WHEN d < 3000.0 THEN 1 END) AS doc_count, " +
      "max(CASE WHEN d < 3000.0 THEN c_acctbal END) AS top_bal " +
      "FROM g UNION ALL SELECT '3000.0-8000.0', " +
      "count(CASE WHEN d >= 3000.0 AND d < 8000.0 THEN 1 END), " +
      "max(CASE WHEN d >= 3000.0 AND d < 8000.0 THEN c_acctbal END) " +
      "FROM g UNION ALL SELECT '8000.0-*', " +
      "count(CASE WHEN d >= 8000.0 THEN 1 END), " +
      "max(CASE WHEN d >= 8000.0 THEN c_acctbal END) FROM g"
    },

    "q7_esdsl_geotile_grid" -> {
      val (x, y) = geotileSql(4)
      s"SELECT ('4/' || $x || '/' || $y) AS key, " +
      "count(*) AS doc_count FROM customer " +
      "GROUP BY 1 ORDER BY doc_count DESC, key"
    },

    "q7_esdsl_geohash_grid" ->
      (s"SELECT ${geohashSql(2)} AS key, count(*) AS doc_count " +
       "FROM customer GROUP BY 1 ORDER BY doc_count DESC, key"),

    "q7_esdsl_ip_range" -> {
      val ipn = s"((c_custkey // 65536) % 256) * 65536 + " +
        s"((c_custkey // 256) % 256) * 256 + (c_custkey % 256) + " +
        "10 * 16777216"
      val n = s"($ipn)"
      s"WITH g AS (SELECT $n AS ip FROM customer) " +
      "SELECT '*-10.0.8.0' AS key, " +
      "count(CASE WHEN ip < 167774208 THEN 1 END) AS doc_count " +
      "FROM g UNION ALL SELECT '10.0.8.0-10.0.32.0', " +
      "count(CASE WHEN ip >= 167774208 AND ip < 167780352 THEN 1 END) " +
      "FROM g UNION ALL SELECT '10.0.32.0/19', " +
      "count(CASE WHEN ip >= 167780352 AND ip < 167788544 THEN 1 END) " +
      "FROM g UNION ALL SELECT '10.0.64.0-*', " +
      "count(CASE WHEN ip >= 167788544 THEN 1 END) FROM g"
    },

    "q7_esdsl_sampler" -> {
      val wc = substrCountSql(tokenNormSql("text"), " window ")
      s"WITH b AS (SELECT doc_id, n_chars, $wc AS sc FROM documents), " +
      "s AS (SELECT * FROM b WHERE sc > 0 " +
      "ORDER BY sc DESC, doc_id LIMIT 50) " +
      "SELECT count(*) AS doc_count, max(n_chars) AS top_len, " +
      "count(doc_id) AS n FROM s"
    },

    "q7_esdsl_diversified_sampler" -> {
      val wc = substrCountSql(tokenNormSql("text"), " window ")
      s"WITH b AS (SELECT doc_id, lang, $wc AS sc FROM documents), " +
      "d AS (SELECT doc_id, lang, sc, row_number() OVER " +
      "(PARTITION BY lang ORDER BY sc DESC, doc_id) AS rn " +
      "FROM b WHERE sc > 0), " +
      "p AS (SELECT lang, sc, doc_id FROM d WHERE rn <= 3 " +
      "ORDER BY sc DESC, doc_id LIMIT 30) " +
      "SELECT lang, count(*) AS doc_count FROM p " +
      "WHERE lang IS NOT NULL GROUP BY 1 " +
      "ORDER BY doc_count DESC, lang LIMIT 20"
    },

    "q7_esdsl_count" -> {
      val wc = substrCountSql(tokenNormSql("text"), " window ")
      s"SELECT count(*) AS count FROM documents WHERE $wc > 0"
    },

    "q7_esdsl_terms_lookup" ->
      ("SELECT doc_id, text, lang, source, n_chars, " +
       "CAST(1.0 AS DOUBLE) AS \"_score\" FROM documents " +
       "WHERE lang = (SELECT lang FROM documents WHERE doc_id = 7) " +
       "ORDER BY doc_id LIMIT 100"),

    "q7_esdsl_runtime" ->
      ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\", " +
       "(c_acctbal * 2 + 10) AS fields_total FROM customer " +
       "WHERE (c_acctbal * 2 + 10) >= 15000"),

    "q7_esdsl_script_fields" ->
      ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\", " +
       "(c_acctbal / 100) AS fields_ratio, c_name AS fields_c_name " +
       "FROM customer WHERE c_mktsegment = 'BUILDING'"),

    "q7_esdsl_geo_sort" ->
      (s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       s"FROM customer ORDER BY (${haversineSql(0.0, 30.0)} / 1000.0) " +
       "ASC, c_custkey LIMIT 120"),

    "q7_esdsl_script_sort" ->
      ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
       "c_mktsegment, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       "FROM customer ORDER BY (0 - c_acctbal) ASC, c_custkey " +
       "LIMIT 150"),

    "q7_esdsl_moving_fn" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1) " +
       "SELECT key, doc_count, " +
       "avg(doc_count) OVER (ORDER BY key ROWS BETWEEN 7 PRECEDING " +
       "AND 1 PRECEDING) AS trail FROM b ORDER BY key"),

    "q7_esdsl_sibling_bucket" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1) " +
       "SELECT key, doc_count, " +
       "(SELECT avg(doc_count) FROM b) AS avg_daily, " +
       "(SELECT max(doc_count) FROM b) AS peak_daily " +
       "FROM b ORDER BY key"),

    "q7_esdsl_bool_prefix" -> boolPrefixOracleSql,

    // the multi_match compose twins: the source leg contributes
    // exactly 0 (single-token column, no phrase/prefix match), so the
    // single-field oracles replay verbatim — one oracle, two shapes
    "q7_esdsl_multimatch_bool_prefix" -> boolPrefixOracleSql,

    // significant_terms: JLH re-derived — (fg% − bg%)·(fg%/bg%) with
    // the exact operation order mirrored (each step one IEEE op, so
    // both engines agree bit-for-bit)
    "q7_esdsl_significant_terms" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " dup ")
      s"WITH fg AS (SELECT source AS key, count(*) AS doc_count " +
        s"FROM documents WHERE $wc > 0 AND source IS NOT NULL " +
        "GROUP BY 1), " +
      "bg AS (SELECT source AS key, count(*) AS bg_count " +
        "FROM documents WHERE source IS NOT NULL GROUP BY 1), " +
      s"ft AS (SELECT count(*) AS fgt FROM documents WHERE $wc > 0), " +
      "bt AS (SELECT count(*) AS bgt FROM documents) " +
      "SELECT * FROM (SELECT key, doc_count, bg_count, " +
        "(doc_count/fgt - bg_count/bgt) * " +
        "((doc_count/fgt) / (bg_count/bgt)) AS score " +
        "FROM fg JOIN bg USING (key) CROSS JOIN ft CROSS JOIN bt) " +
      "WHERE score > 0 ORDER BY score DESC, key LIMIT 10"
    },

    // parent pipelines re-derived as SQL window functions over the
    // bucket CTE: cumulative_sum = running sum in key order (cast —
    // DuckDB widens BIGINT sums to HUGEINT), derivative = lag diff
    // (NULL first bucket, ES's omitted-key projection)
    "q7_esdsl_pipeline" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count, max(value) AS peak " +
       "FROM events WHERE ts IS NOT NULL GROUP BY 1) " +
       "SELECT key, doc_count, peak, " +
       "CAST(sum(doc_count) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED " +
       "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events, " +
       "peak - lag(peak) OVER (ORDER BY key) AS peak_delta " +
       "FROM b ORDER BY key"),

    "q7_esdsl_bucket_sort" ->
      ("SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count, count(DISTINCT user_id) AS actives " +
       "FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 5"),

    "q7_esdsl_calendar_histogram" ->
      ("SELECT epoch_ms(date_trunc('week', ts)) AS key, " +
       "count(*) AS doc_count, " +
       "count(DISTINCT user_id) AS actives " +
       "FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY key"),

    // zone-local day truncation for the fixed offset +05:30: shift in
    // by 19800 s, truncate, shift the epoch key back — exact integer
    // arithmetic, the same instant Spark's from/to_utc_timestamp pair
    // produces
    "q7_esdsl_tz_histogram" ->
      ("SELECT epoch_ms(date_trunc('day', " +
       "ts + INTERVAL 19800 SECOND)) - 19800000 AS key, " +
       "count(*) AS doc_count, " +
       "count(DISTINCT user_id) AS actives " +
       "FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY key"),

    // rate: integer numerators (count(*) / count(o_custkey)), one
    // double multiply-then-divide in both engines — (n · unit_ms) /
    // actual_month_ms, IEEE-identical
    "q7_esdsl_rate" ->
      ("WITH b AS (SELECT " +
       "epoch_ms(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) " +
       "AS key, " +
       "epoch_ms(CAST(date_trunc('month', o_orderdate) " +
       "+ INTERVAL 1 MONTH AS TIMESTAMP)) AS nxt, " +
       "count(*) AS doc_count, count(o_custkey) AS nc " +
       "FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2) " +
       "SELECT key, doc_count, " +
       "CAST(doc_count AS DOUBLE) * 86400000.0 " +
         "/ CAST(nxt - key AS DOUBLE) AS orders_per_day, " +
       "CAST(nc AS DOUBLE) * 86400000.0 " +
         "/ CAST(nxt - key AS DOUBLE) AS fills_per_day " +
       "FROM b ORDER BY key"),

    // cumulative_cardinality: each customer credited to its FIRST
    // month, then a running sum — the exact relational mirror of the
    // engine's plan; pure long arithmetic
    "q7_esdsl_cum_cardinality" ->
      ("WITH base AS (SELECT " +
       "epoch_ms(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) " +
       "AS key, o_custkey " +
       "FROM orders WHERE o_orderdate IS NOT NULL), " +
       "b AS (SELECT key, count(*) AS doc_count, " +
       "count(DISTINCT o_custkey) AS actives FROM base GROUP BY 1), " +
       "f AS (SELECT o_custkey, min(key) AS key FROM base " +
       "WHERE o_custkey IS NOT NULL GROUP BY 1), " +
       "n AS (SELECT key, count(*) AS newc FROM f GROUP BY 1) " +
       "SELECT b.key, b.doc_count, b.actives, " +
       "CAST(sum(coalesce(n.newc, 0)) OVER (ORDER BY b.key " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
       "AS total_customers " +
       "FROM b LEFT JOIN n ON b.key = n.key ORDER BY b.key"),

    // moving_percentiles: bucket-index range join maps each bucket to
    // its trailing 3-bucket window of raw values; quantile_cont is
    // the same p·(n−1) linear interpolation the engine computes
    "q7_esdsl_moving_percentiles" ->
      ("WITH base AS (SELECT " +
       "epoch_ms(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) " +
       "AS key, CAST(o_totalprice AS DOUBLE) AS v " +
       "FROM orders WHERE o_orderdate IS NOT NULL), " +
       "b AS (SELECT key, count(*) AS doc_count, " +
       "quantile_cont(v, 0.25) AS price_p25, " +
       "quantile_cont(v, 0.50) AS price_p50, " +
       "quantile_cont(v, 0.75) AS price_p75 FROM base GROUP BY 1), " +
       "bi AS (SELECT key, row_number() OVER (ORDER BY key) AS rn " +
       "FROM b), " +
       "rv AS (SELECT bi.rn, base.v FROM base JOIN bi USING (key)), " +
       "wv AS (SELECT bi.key, " +
       "quantile_cont(rv.v, 0.25) AS mp_p25, " +
       "quantile_cont(rv.v, 0.50) AS mp_p50, " +
       "quantile_cont(rv.v, 0.75) AS mp_p75 " +
       "FROM bi JOIN rv ON rv.rn BETWEEN bi.rn - 2 AND bi.rn " +
       "GROUP BY 1) " +
       "SELECT b.key, b.doc_count, b.price_p25, b.price_p50, " +
       "b.price_p75, wv.mp_p25, wv.mp_p50, wv.mp_p75 " +
       "FROM b JOIN wv USING (key) ORDER BY b.key"),

    // serial_diff: lagged difference over the bucket CTE — exact long
    // arithmetic, first `lag` buckets NULL like ES's omitted keys
    "q7_esdsl_serial_diff" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1) " +
       "SELECT key, doc_count, " +
       "doc_count - lag(doc_count, 7) OVER (ORDER BY key) AS wow " +
       "FROM b ORDER BY key"),

    // normalize: whole-table statistics are exact (integer-valued
    // doubles sum exactly), each bucket value then ONE division —
    // both engines bit-agree
    "q7_esdsl_normalize" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1) " +
       "SELECT key, doc_count, " +
       "CAST(doc_count AS DOUBLE) / " +
         "(SELECT CAST(sum(doc_count) AS DOUBLE) FROM b) AS share, " +
       "(CAST(doc_count AS DOUBLE) - " +
         "(SELECT CAST(min(doc_count) AS DOUBLE) FROM b)) / " +
        "((SELECT CAST(max(doc_count) AS DOUBLE) FROM b) - " +
         "(SELECT CAST(min(doc_count) AS DOUBLE) FROM b)) AS resc " +
       "FROM b ORDER BY key"),

    // bucket_script: long count / long cardinality = one IEEE double
    // division in both engines
    // scripted_metric: seed 0 + sum of the map expression; empty
    // match sets reduce to 0.0. The bucketed twin rides terms buckets.
    "q7_esdsl_scripted_metric" ->
      ("SELECT coalesce(CAST(sum(CAST(n_chars AS DOUBLE) * 2) " +
       "AS DOUBLE), 0.0) AS weighted_chars FROM documents"),

    // the extreme seeds (±Double.MAX_VALUE) clamp nothing on a
    // non-empty corpus, so the folds reduce to plain min/max
    "q7_esdsl_scripted_metric_minmax" ->
      ("SELECT CAST(min(CAST(n_chars AS DOUBLE) * 2) AS DOUBLE) " +
       "AS min_chars, " +
       "CAST(max(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS max_chars " +
       "FROM documents"),

    "q7_esdsl_scripted_metric_bucketed" ->
      ("SELECT lang, count(*) AS doc_count, " +
       "coalesce(CAST(sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) " +
       "AS DOUBLE), 0.0) AS long_docs " +
       "FROM documents WHERE lang IS NOT NULL " +
       "GROUP BY lang ORDER BY doc_count DESC, lang LIMIT 50"),

    "q7_esdsl_bucket_script_ternary" ->
      ("SELECT key, doc_count, actives, " +
       "CASE WHEN actives > 0 THEN greatest(" +
         "CAST(doc_count AS DOUBLE) / CAST(actives AS DOUBLE), 1.5) " +
         "ELSE CAST(0 AS DOUBLE) END AS load " +
       "FROM (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
         "count(*) AS doc_count, count(DISTINCT user_id) AS actives " +
         "FROM events WHERE ts IS NOT NULL GROUP BY 1) ORDER BY key"),

    "q7_esdsl_bucket_script" ->
      ("SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count, count(DISTINCT user_id) AS actives, " +
       "CAST(count(*) AS DOUBLE) / " +
         "CAST(count(DISTINCT user_id) AS DOUBLE) AS per_user " +
       "FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY key"),

    // bucket_selector: HAVING over the bucket table, pure integer
    // comparison
    "q7_esdsl_bucket_selector" ->
      ("SELECT * FROM (SELECT (epoch_ms(ts) // 86400000) * 86400000 " +
       "AS key, count(*) AS doc_count, " +
       "count(DISTINCT user_id) AS actives " +
       "FROM events WHERE ts IS NOT NULL GROUP BY 1) " +
       "WHERE doc_count > actives * 2 ORDER BY key"),

    // span family: positions re-derived by unnest + subscripts; the
    // window arithmetic mirrors Positional.near/pair
    "q7_esdsl_span_near" -> spanNearOracleSql,
    // the postings-probe twin shares the oracle verbatim
    "q7_esdsl_span_near_indexed" -> spanNearOracleSql,

    "q7_esdsl_span_unordered" -> (spanPosCte +
      "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'window' AND b.tok = 'batch' " +
      "AND b.pos <> a.pos AND " +
      "greatest(a.pos, b.pos) - least(a.pos, b.pos) - 1 <= 1 " +
      "GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    "q7_esdsl_span_not" -> (spanPosCte +
      "m AS (SELECT t.doc_id, count(*) AS score FROM spos t " +
      "WHERE t.tok = 'window' AND NOT EXISTS (SELECT 1 FROM spos e " +
      "WHERE e.doc_id = t.doc_id AND e.tok = 'batch' " +
      "AND e.pos >= t.pos - 1 AND e.pos <= t.pos + 1) " +
      "GROUP BY t.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    "q7_esdsl_span_first" -> (spanPosCte +
      "m AS (SELECT doc_id, count(*) AS score FROM spos " +
      "WHERE tok IN ('window', 'batch') AND pos <= 5 " +
      "GROUP BY doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // span_containing: big head positions [the → window|batch, in
    // order, slop 2] whose span covers a 'data' position. The three-way
    // position join mirrors Positional.containing's exists-nesting
    // (conjunctive constraints — quantifier order is immaterial).
    "q7_esdsl_span_containing" -> (spanPosCte +
      "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'the' AND b.tok IN ('window', 'batch') " +
      "AND b.pos > a.pos AND b.pos <= a.pos + 3 " +
      "JOIN spos l ON l.doc_id = a.doc_id AND l.tok = 'data' " +
      "AND l.pos >= a.pos AND l.pos <= b.pos " +
      "GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // span_within: the same relation counted from the little side —
    // DISTINCT covered 'data' positions
    "q7_esdsl_span_within" -> (spanPosCte +
      "m AS (SELECT a.doc_id, count(DISTINCT l.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'the' AND b.tok IN ('window', 'batch') " +
      "AND b.pos > a.pos AND b.pos <= a.pos + 3 " +
      "JOIN spos l ON l.doc_id = a.doc_id AND l.tok = 'data' " +
      "AND l.pos >= a.pos AND l.pos <= b.pos " +
      "GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // span_multi standalone: win-prefixed token occurrences
    "q7_esdsl_span_multi" -> (spanPosCte +
      "m AS (SELECT doc_id, count(*) AS score FROM spos " +
      "WHERE tok LIKE 'win%' GROUP BY doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // span_multi inside span_near: 'the' then a win-prefixed token,
    // slop 1 in order — head-position frequency
    "q7_esdsl_span_multi_near" -> (spanPosCte +
      "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'the' AND b.tok LIKE 'win%' " +
      "AND b.pos > a.pos AND b.pos <= a.pos + 2 GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // span_field_masking: slot 0's positions come from SOURCE's own
    // token stream (a one-token stream — src3 at position 1), slot
    // 1's from text; the in-order window compares them in one space
    "q7_esdsl_span_masked" -> (spanPosCte +
      "sstoks AS (SELECT doc_id, " + anToksSql("source") +
      " AS ss FROM documents), " +
      "sspos AS (SELECT doc_id, unnest(ss) AS tok, " +
      "generate_subscripts(ss, 1) AS pos FROM sstoks), " +
      "m AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM sspos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'src3' AND b.tok = 'window' " +
      "AND b.pos > a.pos AND b.pos <= a.pos + 4 GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(m.score AS DOUBLE) AS \"_score\" " +
      "FROM documents d JOIN m USING (doc_id) " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // intervals any_of: interval-frequency sum of the ordered rule
    // (gap <= 1) and the unordered pair rule (gap <= 2)
    "q7_esdsl_intervals" -> (spanPosCte +
      "m1 AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'the' AND b.tok = 'window' " +
      "AND b.pos > a.pos AND b.pos <= a.pos + 2 GROUP BY a.doc_id), " +
      "m2 AS (SELECT a.doc_id, count(DISTINCT a.pos) AS score " +
      "FROM spos a JOIN spos b ON a.doc_id = b.doc_id " +
      "AND a.tok = 'window' AND b.tok = 'batch' " +
      "AND b.pos <> a.pos AND " +
      "greatest(a.pos, b.pos) - least(a.pos, b.pos) - 1 <= 2 " +
      "GROUP BY a.doc_id) " +
      "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, " +
      "CAST(coalesce(m1.score, 0) + coalesce(m2.score, 0) AS DOUBLE) " +
      "AS \"_score\" " +
      "FROM documents d LEFT JOIN m1 USING (doc_id) " +
      "LEFT JOIN m2 USING (doc_id) " +
      "WHERE coalesce(m1.score, 0) + coalesce(m2.score, 0) > 0 " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"),

    // script_score: occurrence base score re-scored by the mirrored
    // op DAG ((tf · (n_chars + 50)) / 100 — each step one IEEE op)
    "q7_esdsl_script_score" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      s"WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
        s"$wc AS tc FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "((CAST(tc AS DOUBLE) * (CAST(n_chars AS DOUBLE) + 50)) / 100) " +
        "AS \"_score\" " +
      "FROM b WHERE tc > 0 " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    // post_filter + min_score: score floor then hit-list narrowing
    "q7_esdsl_post_filter" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " window ")
      s"WITH b AS (SELECT doc_id, text, lang, source, n_chars, " +
        s"$wc AS tc FROM documents) " +
      "SELECT doc_id, text, lang, source, n_chars, " +
        "CAST(tc AS DOUBLE) AS \"_score\" " +
      "FROM b WHERE tc > 0 AND CAST(tc AS DOUBLE) >= 2 " +
        "AND lang = 'en' " +
      "ORDER BY \"_score\" DESC, doc_id LIMIT 100"
    },

    // terms-level pipelines: top-size cut, then script (one double
    // division of exact longs), chained selector, bucket_sort page
    "q7_esdsl_terms_having" ->
      ("WITH b AS (SELECT source, count(*) AS doc_count, " +
       "CAST(sum(n_chars) AS BIGINT) AS chars FROM documents " +
       "WHERE source IS NOT NULL GROUP BY 1 " +
       "ORDER BY doc_count DESC, source LIMIT 20), " +
       "p AS (SELECT source, doc_count, chars, " +
       "CAST(chars AS DOUBLE) / CAST(doc_count AS DOUBLE) AS per_doc " +
       "FROM b) " +
       "SELECT source, doc_count, chars, per_doc FROM p " +
       "WHERE per_doc >= 300 ORDER BY per_doc DESC, source LIMIT 5"),

    // offset bucketing: keys on the shifted grid. FLOOR-mod form —
    // DuckDB's // truncates toward zero, which would diverge from the
    // engine's pmod (floor semantics) for pre-1970T06:00Z timestamps
    "q7_esdsl_offset_histogram" ->
      ("SELECT (epoch_ms(ts) - 21600000) - " +
       "(((epoch_ms(ts) - 21600000) % 86400000) + 86400000) " +
       "% 86400000 + 21600000 AS key, count(*) AS doc_count, " +
       "max(value) AS peak FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY key"),

    "q7_esdsl_offset_price" ->
      ("SELECT floor((o_totalprice - 25000) / 50000) * 50000 + 25000 " +
       "AS key, count(*) AS doc_count FROM orders " +
       "WHERE o_totalprice IS NOT NULL GROUP BY 1 ORDER BY key"),

    // filters other_bucket: the none-matched catch-all in the same
    // conditional pass
    "q7_esdsl_filters_other" ->
      ("SELECT 'short_docs' AS key, " +
       "count(CASE WHEN n_chars < 200 THEN 1 END) AS doc_count, " +
       "min(CASE WHEN n_chars < 200 THEN n_chars END) AS min_len " +
       "FROM documents " +
       "UNION ALL SELECT 'src3', " +
       "count(CASE WHEN source = 'src3' THEN 1 END), " +
       "min(CASE WHEN source = 'src3' THEN n_chars END) " +
       "FROM documents " +
       "UNION ALL SELECT 'rest', " +
       "count(CASE WHEN NOT (coalesce(n_chars < 200, false) OR " +
         "coalesce(source = 'src3', false)) THEN 1 END), " +
       "min(CASE WHEN NOT (coalesce(n_chars < 200, false) OR " +
         "coalesce(source = 'src3', false)) THEN n_chars END) " +
       "FROM documents"),

    // significant_terms with a narrowed background: bg counts and the
    // bg total conditional on the filter, bg-absent terms dropped
    "q7_esdsl_sig_background" -> {
      val wc = substrCountSql(s"(${tokenNormSql("text")})", " dup ")
      s"WITH fg AS (SELECT source AS key, count(*) AS doc_count " +
        s"FROM documents WHERE $wc > 0 AND source IS NOT NULL " +
        "GROUP BY 1), " +
      "bg AS (SELECT source AS key, count(*) AS bg_count " +
        "FROM documents WHERE lang = 'en' AND source IS NOT NULL " +
        "GROUP BY 1), " +
      s"ft AS (SELECT count(*) AS fgt FROM documents WHERE $wc > 0), " +
      "bt AS (SELECT count(*) AS bgt FROM documents " +
        "WHERE lang = 'en') " +
      "SELECT * FROM (SELECT key, doc_count, bg_count, " +
        "(doc_count/fgt - bg_count/bgt) * " +
        "((doc_count/fgt) / (bg_count/bgt)) AS score " +
        "FROM fg JOIN bg USING (key) CROSS JOIN ft CROSS JOIN bt) " +
      "WHERE score > 0 ORDER BY score DESC, key LIMIT 10"
    },

    // linear decay: dist = max(|x − origin| − offset, 0); score =
    // max((s − dist)/s, 0) with s = scale/(1 − decay) = 100000 — each
    // step one IEEE op, mirrored
    "q7_esdsl_decay" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority, " +
       "greatest((100000.0 - greatest(abs(o_totalprice - 100000.0) " +
       "- 10000.0, 0.0)) / 100000.0, 0.0) AS \"_score\" " +
       "FROM orders " +
       "ORDER BY \"_score\" DESC, o_orderkey LIMIT 100"),

    // rare_terms: HAVING count <= 1, rare-first order
    "q7_esdsl_rare_terms" ->
      ("SELECT o_custkey, count(*) AS doc_count, " +
       "min(o_totalprice) AS cheapest FROM orders " +
       "WHERE o_custkey IS NOT NULL GROUP BY 1 " +
       "HAVING count(*) <= 3 ORDER BY doc_count, o_custkey"),

    // top_metrics: per-bucket top-1 by (sort desc, metrics desc) —
    // the deterministic tie order the max(struct) aggregate defines
    "q7_esdsl_top_metrics" ->
      ("WITH b AS (SELECT lang, count(*) AS doc_count FROM documents " +
       "WHERE lang IS NOT NULL GROUP BY 1 " +
       "ORDER BY doc_count DESC, lang LIMIT 10), " +
       "t AS (SELECT lang, n_chars AS best_sort, doc_id AS " +
       "best_doc_id, row_number() OVER (PARTITION BY lang " +
       "ORDER BY n_chars DESC, doc_id DESC) AS rn FROM documents " +
       "WHERE lang IS NOT NULL AND n_chars IS NOT NULL) " +
       "SELECT b.lang, b.doc_count, t.best_sort, t.best_doc_id " +
       "FROM b JOIN t ON b.lang = t.lang AND t.rn = 1 " +
       "ORDER BY b.doc_count DESC, b.lang"),

    // boxplot: exact quartiles (quantile_cont) + IQR whiskers with
    // the whisker bound op order mirrored (q1 − 1.5·(q3 − q1))
    "q7_esdsl_boxplot" ->
      ("WITH q AS (SELECT min(o_totalprice) AS mn, " +
       "max(o_totalprice) AS mx, " +
       "quantile_cont(o_totalprice, 0.25) AS q1, " +
       "quantile_cont(o_totalprice, 0.5) AS q2, " +
       "quantile_cont(o_totalprice, 0.75) AS q3 FROM orders) " +
       "SELECT mn AS price_min, mx AS price_max, q1 AS price_q1, " +
       "q2 AS price_q2, q3 AS price_q3, " +
       "(SELECT min(o_totalprice) FROM orders, q " +
        "WHERE o_totalprice >= q1 - 1.5 * (q3 - q1)) AS price_lower, " +
       "(SELECT max(o_totalprice) FROM orders, q " +
        "WHERE o_totalprice <= q3 + 1.5 * (q3 - q1)) AS price_upper " +
       "FROM q"),

    // exact MAD: median of |x − median|, inner median broadcast
    // has_child sum-scored: child count per parent, min_children cut
    "q7_esdsl_has_child" ->
      ("WITH m AS (SELECT l_orderkey, count(*) AS c FROM lineitem " +
       "WHERE l_quantity >= 45 GROUP BY 1 HAVING count(*) >= 2) " +
       "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority, CAST(c AS DOUBLE) AS \"_score\" " +
       "FROM orders JOIN m ON o_orderkey = l_orderkey " +
       "ORDER BY \"_score\" DESC, o_orderkey LIMIT 100"),

    "q7_esdsl_has_parent" ->
      ("SELECT l.*, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       "FROM lineitem l WHERE l_orderkey IN " +
       "(SELECT o_orderkey FROM orders " +
       "WHERE o_orderpriority = '1-URGENT') " +
       "ORDER BY l_orderkey, l_linenumber LIMIT 100"),

    "q7_esdsl_parent_id" ->
      ("SELECT l.*, CAST(1.0 AS DOUBLE) AS \"_score\" " +
       "FROM lineitem l WHERE l_orderkey = 7 " +
       "ORDER BY l_linenumber LIMIT 100"),

    "q7_esdsl_children_agg" ->
      ("SELECT count(*) AS doc_count, " +
       "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
       "count(l_quantity) AS n_items FROM lineitem " +
       "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
       "WHERE o_orderpriority = '1-URGENT')"),

    // Welch t: HUGEINT power sums cast double, then the IDENTICAL
    // post-aggregation op DAG as the engine (m = s/n; v = (q − s·m)/
    // (n−1); t = (ma − mb)/sqrt(va/na + vb/nb))
    "q7_esdsl_ttest" ->
      ("WITH s AS (SELECT " +
       "CAST(count(*) FILTER (WHERE lang = 'en' " +
         "AND n_chars IS NOT NULL) AS DOUBLE) AS na, " +
       "CAST(sum(n_chars) FILTER (WHERE lang = 'en') AS DOUBLE) AS sa, " +
       "CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) " +
         "FILTER (WHERE lang = 'en') AS DOUBLE) AS qa, " +
       "CAST(count(*) FILTER (WHERE lang = 'fr' " +
         "AND n_chars IS NOT NULL) AS DOUBLE) AS nb, " +
       "CAST(sum(n_chars) FILTER (WHERE lang = 'fr') AS DOUBLE) AS sb, " +
       "CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) " +
         "FILTER (WHERE lang = 'fr') AS DOUBLE) AS qb " +
       "FROM documents), " +
       "m AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb, " +
       "(qa - sa * (sa / na)) / (na - 1.0) AS va, " +
       "(qb - sb * (sb / nb)) / (nb - 1.0) AS vb FROM s) " +
       "SELECT (ma - mb) / sqrt(va / na + vb / nb) AS t FROM m"),

    // paired t: exact HUGEINT difference sums, same op DAG
    // (m = s/n; v = (q − s·m)/(n−1); t = m/sqrt(v/n))
    "q7_esdsl_ttest_paired" ->
      ("WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
       "CAST(sum(CAST(l_partkey - l_suppkey AS HUGEINT)) AS DOUBLE) " +
         "AS sd, " +
       "CAST(sum(CAST(l_partkey - l_suppkey AS HUGEINT) * " +
         "CAST(l_partkey - l_suppkey AS HUGEINT)) AS DOUBLE) AS qd " +
       "FROM lineitem " +
       "WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL), " +
       "m AS (SELECT n, sd / n AS md, " +
       "(qd - sd * (sd / n)) / (n - 1.0) AS vd FROM s) " +
       "SELECT md / sqrt(vd / n) AS t FROM m"),

    "q7_esdsl_mad" ->
      ("WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS md " +
       "FROM orders) " +
       "SELECT quantile_cont(abs(o_totalprice - md), 0.5) AS spread " +
       "FROM orders, m"),

    // string_stats: length stats (exact int arithmetic; avg = exact
    // sum ÷ count) + entropy over the char distribution, round4'd
    // identically on both engines
    "q7_esdsl_string_stats" ->
      ("WITH l AS (SELECT count(text) AS txt_count, " +
       "min(length(text)) AS txt_min_length, " +
       "max(length(text)) AS txt_max_length, " +
       "avg(length(text)) AS txt_avg_length FROM documents), " +
       "ch AS (SELECT ch, count(*) AS n FROM " +
       "(SELECT unnest(string_split(text, '')) AS ch FROM documents " +
       "WHERE text IS NOT NULL) WHERE length(ch) > 0 GROUP BY 1), " +
       "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS s FROM ch), " +
       "e AS (SELECT floor((-sum((CAST(n AS DOUBLE) / s) * " +
       "log2(CAST(n AS DOUBLE) / s))) * 1e4 + 0.5) / 1e4 " +
       "AS txt_entropy FROM ch, tot) " +
       "SELECT * FROM l, e"),

    // matrix_stats: integer-exact power sums, then the documented op
    // DAG — mean = s1/n; var = (s2 − s1·mean)/(n−1); cov likewise;
    // corr = cov/(sqrt(va)·sqrt(vb)) — mirrored step for step
    "q7_esdsl_matrix_stats" ->
      ("WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
       "count(*) AS nl, " +
       "CAST(sum(o_custkey) AS DOUBLE) AS s1a, " +
       "CAST(sum(o_custkey * o_custkey) AS DOUBLE) AS s2a, " +
       "CAST(sum(o_orderkey) AS DOUBLE) AS s1b, " +
       "CAST(sum(o_orderkey * o_orderkey) AS DOUBLE) AS s2b, " +
       "CAST(sum(o_custkey * o_orderkey) AS DOUBLE) AS sab " +
       "FROM orders WHERE o_custkey IS NOT NULL " +
       "AND o_orderkey IS NOT NULL) " +
       "SELECT nl AS m_o_custkey_count, " +
       "s1a / n AS m_o_custkey_mean, " +
       "(s2a - s1a * (s1a / n)) / (n - 1) AS m_o_custkey_variance, " +
       "nl AS m_o_orderkey_count, " +
       "s1b / n AS m_o_orderkey_mean, " +
       "(s2b - s1b * (s1b / n)) / (n - 1) AS m_o_orderkey_variance, " +
       "(sab - s1a * (s1b / n)) / (n - 1) " +
         "AS m_o_custkey_o_orderkey_covariance, " +
       "((sab - s1a * (s1b / n)) / (n - 1)) / " +
        "(sqrt((s2a - s1a * (s1a / n)) / (n - 1)) * " +
         "sqrt((s2b - s1b * (s1b / n)) / (n - 1))) " +
         "AS m_o_custkey_o_orderkey_correlation " +
       "FROM s"),

    // auto_date_histogram: the interval pick re-derived in SQL — the
    // minimal ladder rung whose floored-key span fits the target
    "q7_esdsl_auto_histogram" ->
      ("WITH mm AS (SELECT min(epoch_ms(ts)) AS lo, " +
       "max(epoch_ms(ts)) AS hi FROM events WHERE ts IS NOT NULL), " +
       "ladder(iv, label) AS (VALUES (1000, '1s'), (5000, '5s'), " +
       "(10000, '10s'), (30000, '30s'), (60000, '1m'), " +
       "(300000, '5m'), (600000, '10m'), (1800000, '30m'), " +
       "(3600000, '1h'), (10800000, '3h'), (43200000, '12h'), " +
       "(86400000, '1d'), (604800000, '7d')), " +
       "pick AS (SELECT iv, label FROM ladder, mm " +
       "WHERE (hi // iv) - (lo // iv) + 1 <= 10 " +
       "ORDER BY iv LIMIT 1) " +
       "SELECT (epoch_ms(ts) // iv) * iv AS key, " +
       "count(*) AS doc_count, " +
       "count(DISTINCT user_id) AS actives, label AS \"interval\" " +
       "FROM events, pick WHERE ts IS NOT NULL " +
       "GROUP BY 1, label ORDER BY key"),

    // stats_bucket / percentiles_bucket siblings: scalar reductions of
    // the bucket CTE appended as constants; avg = exact sum ÷ count
    // (one division), quantile_cont interpolates identically
    "q7_esdsl_stats_bucket" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1) " +
       "SELECT key, doc_count, " +
       "(SELECT count(doc_count) FROM b) AS daily_count, " +
       "(SELECT min(doc_count) FROM b) AS daily_min, " +
       "(SELECT max(doc_count) FROM b) AS daily_max, " +
       "(SELECT avg(doc_count) FROM b) AS daily_avg, " +
       "(SELECT CAST(sum(doc_count) AS BIGINT) FROM b) AS daily_sum, " +
       "(SELECT quantile_cont(doc_count, 0.25) FROM b) AS spread_p25, " +
       "(SELECT quantile_cont(doc_count, 0.50) FROM b) AS spread_p50, " +
       "(SELECT quantile_cont(doc_count, 0.75) FROM b) AS spread_p75 " +
       "FROM b ORDER BY key"),

    "q7_esdsl_range_sort" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority, CAST(0.0 AS DOUBLE) AS \"_score\" " +
       "FROM orders WHERE o_totalprice >= 1000 AND o_totalprice < 50000 " +
       "AND o_orderstatus IN ('O', 'F') " +
       "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),

    // percolation: each stored query as one CASE branch over the
    // normalized row; concat_ws skips non-matching (NULL) branches in
    // both engines, keeping stored order
    "q7_esdsl_percolate" ->
      ("WITH nrm AS (SELECT doc_id, lang, source, n_chars, " +
       s"${tokenNormSql("text")} AS nt FROM documents), " +
       "m AS (SELECT doc_id, lang, source, n_chars, concat_ws(',', " +
       "CASE WHEN instr(nt, ' window ') > 0 THEN 'pq_window' END, " +
       "CASE WHEN n_chars >= 200 THEN 'pq_long' END, " +
       "CASE WHEN lang = 'en' AND n_chars < 150 " +
         "THEN 'pq_en_short' END, " +
       "CASE WHEN source LIKE 'src1%' THEN 'pq_src1x' END) " +
       "AS matched_queries FROM nrm) " +
       "SELECT * FROM m WHERE matched_queries <> '' ORDER BY doc_id"),

    // search template: the oracle is the RENDERED query's SQL — the
    // template phase must be semantically invisible
    "q7_esdsl_template" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority, CAST(0.0 AS DOUBLE) AS \"_score\" " +
       "FROM orders WHERE o_totalprice >= 150000 " +
       "AND o_orderpriority IN ('1-URGENT', '2-HIGH') " +
       "AND o_orderstatus = 'F' " +
       "ORDER BY o_orderkey LIMIT 100"),

    "q7_esdsl_aggs" ->
      ("SELECT o_orderstatus, count(*) AS doc_count, " +
       "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, " +
       "count(o_totalprice) AS n_prices, " +
       "count(DISTINCT o_custkey) AS n_customers " +
       "FROM orders WHERE o_totalprice >= 100 GROUP BY o_orderstatus " +
       "ORDER BY doc_count DESC, o_orderstatus LIMIT 10"),

    "q7_esdsl_date_histogram" ->
      ("SELECT (epoch_ms(ts) // 86400000) * 86400000 AS key, " +
       "count(*) AS doc_count, " +
       "count(DISTINCT user_id) AS actives " +
       "FROM events WHERE ts IS NOT NULL " +
       "GROUP BY 1 ORDER BY key"),

    "q7_esdsl_nested_aggs" ->
      ("WITH p AS (SELECT o_orderstatus, count(*) AS parent_doc_count " +
       "FROM orders GROUP BY 1 " +
       "ORDER BY parent_doc_count DESC, o_orderstatus LIMIT 10), " +
       "c AS (SELECT o_orderstatus, o_orderpriority, " +
       "count(*) AS doc_count, " +
       "count(DISTINCT o_custkey) AS n_customers " +
       "FROM orders GROUP BY 1, 2) " +
       "SELECT c.o_orderstatus, p.parent_doc_count, c.o_orderpriority, " +
       "c.doc_count, c.n_customers " +
       "FROM c JOIN p ON c.o_orderstatus = p.o_orderstatus " +
       "QUALIFY row_number() OVER (PARTITION BY c.o_orderstatus " +
       "ORDER BY c.doc_count DESC, c.o_orderpriority) <= 3 " +
       "ORDER BY p.parent_doc_count DESC, c.o_orderstatus, " +
       "c.doc_count DESC, c.o_orderpriority"),

    "q2_search_and" -> andOracleSql,
    "q2_search_and_indexed" -> andOracleSql,

    "q2_search_minmatch" -> minmatchOracleSql,
    "q2_search_minmatch_indexed" -> minmatchOracleSql,

    "sync_entity_docs" ->
      (s"SELECT c_custkey AS customer_c_custkey, " +
       "c_name AS customer_c_name, " +
       "c_nationkey AS customer_c_nationkey, " +
       "c_acctbal AS customer_c_acctbal, " +
       "c_mktsegment AS customer_c_mktsegment, " +
       "'customer' AS \"table\", " +
       s"concat_ws('_', c_custkey, '$RunTs') AS document_id, " +
       "TIMESTAMP '2026-01-01 00:00:00' AS indexed_at " +
       "FROM customer WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL"),

    // Union-search oracle: per-entity branches — a field an entity lacks
    // is NULL on its union rows and scores 0, so each branch only sums
    // occurrences over its OWN string fields; validation predicates
    // mirror EntityCatalog.validPredicate per spec.
    "q4_union_search" -> {
      def occ(f: String) =
        s"CAST((length(coalesce($f,'')) - " +
          s"length(replace(lower(coalesce($f,'')), 'er', ''))) / 2 AS INT)"
      val branches = Seq(
        ("customer", "c_custkey", Seq("c_name", "c_mktsegment"),
          Seq("c_custkey", "c_name")),
        ("events", "event_id", Seq("event_type", "props"),
          Seq("event_id", "user_id")),
        ("nation", "n_nationkey", Seq("n_name"),
          Seq("n_nationkey", "n_name")),
        ("orders", "o_orderkey", Seq("o_orderstatus", "o_orderpriority"),
          Seq("o_orderkey", "o_custkey")),
        ("part", "p_partkey", Seq("p_name", "p_brand", "p_type"),
          Seq("p_partkey", "p_name")),
        ("region", "r_regionkey", Seq("r_name"),
          Seq("r_regionkey", "r_name")),
        ("supplier", "s_suppkey", Seq("s_name"),
          Seq("s_suppkey", "s_name"))
      ).map { case (t, id, fs, req) =>
        s"""SELECT '$t' AS "table", """ +
          s"concat_ws('_', $id, '$RunTs') AS document_id, " +
          fs.map(occ).mkString(" + ") + s" AS score FROM $t WHERE " +
          req.map(c => s"$c IS NOT NULL").mkString(" AND ")
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($branches) WHERE score > 0 " +
        """ORDER BY score DESC, document_id, "table" LIMIT 100"""
    },

    "r5_snapshot_diff" ->
      ("WITH ev AS (SELECT * FROM events WHERE event_id IS NOT NULL), " +
       "prev AS (SELECT event_id, md5(coalesce(event_type, chr(2))) AS h " +
       "  FROM ev WHERE event_id % 3 <> 0), " +
       "nxt AS (SELECT event_id, md5(coalesce(CASE WHEN event_id % 7 = 0 " +
       "  THEN event_type || '!' ELSE event_type END, chr(2))) AS h " +
       "  FROM ev WHERE event_id % 5 <> 0) " +
       "SELECT event_id, " +
       "  CASE WHEN prev.h IS NULL THEN 'insert' " +
       "       WHEN nxt.h IS NULL THEN 'delete' " +
       "       WHEN prev.h <> nxt.h THEN 'update' END AS change_type " +
       "FROM prev FULL OUTER JOIN nxt USING (event_id) " +
       "WHERE CASE WHEN prev.h IS NULL THEN 'insert' " +
       "       WHEN nxt.h IS NULL THEN 'delete' " +
       "       WHEN prev.h <> nxt.h THEN 'update' END IS NOT NULL"),

    "r6_scd2" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, " +
       "event_type FROM events WHERE user_id IS NOT NULL " +
       "AND ts IS NOT NULL AND event_id IS NOT NULL), " +
       "chg AS (SELECT *, row_number() OVER w AS rn, " +
       "lag(coalesce(event_type, chr(2))) OVER w AS prev_attr FROM ev " +
       "WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)), " +
       "kept AS (SELECT user_id, event_id, tsn, event_type FROM chg " +
       "WHERE rn = 1 OR prev_attr <> coalesce(event_type, chr(2))) " +
       "SELECT user_id, event_type, tsn AS valid_from, " +
       "lead(tsn) OVER w AS valid_to, " +
       "CAST(row_number() OVER w AS INT) AS version, " +
       "(lead(tsn) OVER w IS NULL) AS is_current " +
       "FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)"),

    "j10_asof_join" ->
      ("WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL " +
       "AND ts IS NOT NULL AND event_id IS NOT NULL), " +
       "l AS (SELECT user_id, ts, event_id AS obs_id FROM ev " +
       "WHERE event_id % 2 = 0), " +
       "r AS (SELECT user_id, ts, max(event_id) AS state_id FROM ev " +
       "WHERE event_id % 2 = 1 GROUP BY 1, 2) " +
       "SELECT l.user_id, l.obs_id, r.state_id " +
       "FROM l ASOF LEFT JOIN r " +
       "ON l.user_id = r.user_id AND l.ts >= r.ts"),

    "j12_asof_forward" ->
      ("WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL " +
       "AND ts IS NOT NULL AND event_id IS NOT NULL), " +
       "l AS (SELECT user_id, ts, event_id AS obs_id FROM ev " +
       "WHERE event_id % 2 = 0), " +
       "r AS (SELECT user_id, ts, max(event_id) AS state_id FROM ev " +
       "WHERE event_id % 2 = 1 GROUP BY 1, 2) " +
       "SELECT l.user_id, l.obs_id, r.state_id " +
       "FROM l ASOF LEFT JOIN r " +
       "ON l.user_id = r.user_id AND l.ts <= r.ts"),

    "a5_distinct_agg" ->
      ("SELECT count(*) AS n_docs, " +
       "count(DISTINCT text) AS n_distinct_text, " +
       "round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 4) " +
       "AS dup_rate FROM documents"),

    "a6_rollup" ->
      ("SELECT n_name, c_mktsegment, " +
       "round(sum(c_acctbal), 2) AS balance, " +
       "grouping(n_name, c_mktsegment) AS gid " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY ROLLUP (n_name, c_mktsegment)"),

    "a6_cube" ->
      ("SELECT n_name, c_mktsegment, " +
       "round(sum(c_acctbal), 2) AS balance, " +
       "grouping(n_name, c_mktsegment) AS gid " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY CUBE (n_name, c_mktsegment)"),

    "w6_ntile" ->
      ("SELECT event_id, user_id, " +
       "CAST(ntile(4) OVER (PARTITION BY user_id " +
       "ORDER BY value, event_id) AS INT) AS quartile " +
       "FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL " +
       "AND event_id IS NOT NULL"),

    "set_ops" ->
      ("WITH ev AS (SELECT event_id FROM events WHERE event_id IS NOT NULL), " +
       "prev AS (SELECT event_id FROM ev WHERE event_id % 3 <> 0), " +
       "nxt AS (SELECT event_id FROM ev WHERE event_id % 5 <> 0) " +
       "SELECT event_id, 'both' AS op FROM " +
       "(SELECT event_id FROM prev INTERSECT SELECT event_id FROM nxt) " +
       "UNION ALL " +
       "SELECT event_id, 'departed' AS op FROM " +
       "(SELECT event_id FROM prev EXCEPT SELECT event_id FROM nxt) " +
       "UNION ALL " +
       "SELECT event_id, 'arrived' AS op FROM " +
       "(SELECT event_id FROM nxt EXCEPT SELECT event_id FROM prev)"),

    "j11_range_join" ->
      ("SELECT o_orderkey, s_suppkey FROM orders JOIN supplier " +
       "ON o_totalprice >= s_suppkey * 5000.0 " +
       "AND o_totalprice < s_suppkey * 5000.0 + 7500.0"),

    // cuts: round(0.9*65536)=58982=0xe666, round(0.95*65536)=62259=0xf333;
    // lexicographic compare on fixed-width lowercase hex == numeric compare
    "split_assign" ->
      ("SELECT doc_id, CASE " +
       "WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g1'), 1, 4) < 'e666' " +
       "THEN 'train' " +
       "WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'g1'), 1, 4) < 'f333' " +
       "THEN 'val' ELSE 'test' END AS split FROM documents"),

    "a7_stats_profile" ->
      ("SELECT c_mktsegment, count(*) AS n, " +
       "floor(avg(c_acctbal) * 1e4 + 0.5) / 1e4 AS avg_bal, " +
       "floor(stddev_samp(c_acctbal) * 1e4 + 0.5) / 1e4 AS std_bal, " +
       "min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal, " +
       "floor(quantile_cont(c_acctbal, 0.5) * 1e4 + 0.5) / 1e4 " +
       "AS median_bal FROM customer GROUP BY c_mktsegment"),

    "a8_heavy_hitters" ->
      ("SELECT term AS item, count(*) AS freq FROM (" +
       "SELECT unnest(list_filter(string_split_regex(lower(text), " +
       "'\\s+'), x -> x <> '')) AS term FROM documents) " +
       "GROUP BY term ORDER BY freq DESC, item LIMIT 20"),

    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "round(sum(l_quantity), 2) AS sum_qty, " +
       "round(sum(l_extendedprice), 2) AS sum_base_price, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
       "round(avg(l_quantity), 4) AS avg_qty, " +
       "count(*) AS count_order " +
       "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
       "GROUP BY l_returnflag, l_linestatus"),

    "q3_top_revenue" ->
      ("SELECT o_orderkey, o_orderdate, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "WHERE c_mktsegment = 'BUILDING' " +
       "GROUP BY o_orderkey, o_orderdate " +
       "ORDER BY revenue DESC, o_orderkey LIMIT 10"),

    "q5_region_revenue" ->
      ("SELECT n_name, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON o_orderkey = l_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA' GROUP BY n_name")
  )
}
