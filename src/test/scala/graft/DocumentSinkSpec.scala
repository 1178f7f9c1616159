package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.sinks.DocumentSink
import graft.sinks.DocumentSink.{BareId, ContentHash, IdTimestamp}

class DocumentSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  test("content-hash ids are deterministic; id_timestamp historizes") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val h1 = DocumentSink.withDocId(df, ContentHash)
      .select("document_id").collect().map(_.getString(0)).sorted
    val h2 = DocumentSink.withDocId(df, ContentHash)
      .select("document_id").collect().map(_.getString(0)).sorted
    assert(h1.sameElements(h2)) // same content ⇒ same ids (idempotent)
    val t1 = DocumentSink.withDocId(df, IdTimestamp("id", "T1"))
    val t2 = DocumentSink.withDocId(df, IdTimestamp("id", "T2"))
    val ids = (t1.union(t2)).select("document_id").distinct().count()
    assert(ids == 4) // disjoint across runs (append-only historization)
  }

  test("save writes data + derived mapping + count meta") {
    val path = tmp()
    val df = Seq((1L, "x", 1.5)).toDF("id", "name", "score")
    val n = DocumentSink.save(df, path)
    assert(n == 1)
    val mapping = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_mapping.json")))
    assert(mapping.contains("\"id\": {\"type\": \"long\"}"))
    assert(mapping.contains("\"name\": {\"type\": \"text\"}"))
    assert(mapping.contains("\"score\": {\"type\": \"double\"}"))
  }

  test("validatedWrite splits failures to the error side-channel") {
    val path = tmp()
    val df = Seq((java.lang.Long.valueOf(1L), "a"),
                 (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("id", "v")
    val (ok, bad) = DocumentSink.validatedWrite(df, path, Seq("id"))
    assert(ok == 1 && bad == 1)
  }

  test("upsert overwrites by document_id, keeps others") {
    val path = tmp()
    val v1 = DocumentSink.withDocId(
      Seq((1L, "old"), (2L, "keep")).toDF("id", "v"), BareId("id"))
    DocumentSink.save(v1, path)
    val v2 = DocumentSink.withDocId(
      Seq((1L, "new")).toDF("id", "v"), BareId("id"))
    val n = DocumentSink.upsert(v2, path)
    assert(n == 2)
    val out = DocumentSink.read(spark, path)
      .orderBy("id").collect().map(_.getAs[String]("v")).toSeq
    assert(out == Seq("new", "keep"))
  }

  test("append-mode save counts THIS call's rows, not the directory total") {
    val path = tmp()
    assert(DocumentSink.save(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path) == 2)
    // the old impl re-read the directory and would return 3 here
    val n = DocumentSink.save(Seq((3L, "c")).toDF("id", "v"), path,
      SaveMode.Append)
    assert(n == 1)
    assert(spark.read.parquet(s"$path/data").count() == 3)
  }

  test("save runs exactly one job — the count rides the write, no re-scan") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DocumentSink.save(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tmp())
      // the listener bus is async: poll until the count is stable
      var last = -1; var stable = 0; var waited = 0
      while (stable < 3 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      assert(jobs.get() == 1,
        s"save ran ${jobs.get()} jobs — a post-write re-scan crept back")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("upsert stages via temp-dir swap, not checkpoint materialization") {
    val path = tmp()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DocumentSink.save(DocumentSink.withDocId(
      Seq((1L, "old")).toDF("id", "v"), BareId("id")), path)
    DocumentSink.upsert(DocumentSink.withDocId(
      Seq((1L, "new"), (2L, "more")).toDF("id", "v"), BareId("id")), path)
    // localCheckpoint registers persistent RDDs; the swap must not
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "upsert left materialized RDDs behind (checkpoint staging)")
    // and no stray temp staging dirs survive the delta landing
    val strays = new java.io.File(path).listFiles()
      .map(_.getName).filter(n => n.startsWith(".data_tmp_") ||
        n.startsWith(".delta_tmp_"))
    assert(strays.isEmpty, strays.mkString(", "))
    assert(DocumentSink.count(spark, path) == 2)
  }

  test("validatedWrite: per-call counts under Append; empty requiredCols OK") {
    val path = tmp()
    val df1 = Seq((java.lang.Long.valueOf(1L), "a"),
                  (null.asInstanceOf[java.lang.Long], "b")).toDF("id", "v")
    assert(DocumentSink.validatedWrite(df1, path, Seq("id"),
      SaveMode.Append) == ((1L, 1L)))
    val df2 = Seq((java.lang.Long.valueOf(2L), "c"),
                  (java.lang.Long.valueOf(3L), "d"),
                  (null.asInstanceOf[java.lang.Long], "e")).toDF("id", "v")
    // old impl re-read both directories: would report (3, 2) here
    assert(DocumentSink.validatedWrite(df2, path, Seq("id"),
      SaveMode.Append) == ((2L, 1L)))
    // empty requiredCols = everything valid (old impl threw on reduce)
    assert(DocumentSink.validatedWrite(df1, tmp(), Nil) == ((2L, 0L)))
  }

  test("mapping sidecar honors per-field overrides (keyword/text/object)") {
    val path = tmp()
    val df = Seq((1L, "free text", """{"a":1}""", "OPEN"))
      .toDF("id", "body", "payload", "status")
    DocumentSink.save(df, path, fieldTypes =
      Map("body" -> "text", "payload" -> "object", "status" -> "keyword"))
    val mapping = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_mapping.json")))
    assert(mapping.contains("\"body\": {\"type\": \"text\"}"))
    assert(mapping.contains("\"payload\": {\"type\": \"object\"}"))
    assert(mapping.contains("\"status\": {\"type\": \"keyword\"}"))
    assert(mapping.contains("\"id\": {\"type\": \"long\"}")) // underived stays
  }

  test("nested flagship ships [{id,name,color}] structs + nested ES mapping") {
    import graft.operators.Denormalize
    val path = tmp()
    val orders = Seq((1L, 100L, "2024-01-05", "O", 10.0),
                     (2L, 101L, "2024-01-06", "F", 20.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus",
        "o_totalprice")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val lineitem = Seq(
      (1L, 10L, 1, "2024-01-01", "N", "O"),
      (1L, 11L, 2, "2024-03-01", "R", "F"),
      (1L, 10L, 3, "2024-02-01", "A", "F"), // part 10 twice → deduped
      (2L, 11L, 1, "2024-02-01", "A", "F"))
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_shipdate",
        "l_returnflag", "l_linestatus")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
    val part = Seq((10L, "widget", "Brand#1"), (11L, "bolt", "Brand#2"))
      .toDF("p_partkey", "p_name", "p_brand")
    val customer = Seq((100L, "alice", 1L), (101L, "bob", 1L))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val nation = Seq((1L, "FRANCE", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((1L, "EUROPE")).toDF("r_regionkey", "r_name")

    val nested = Denormalize.nested(
      orders, lineitem, part, customer, nation, region)
    DocumentSink.save(nested, path)

    // mapping sidecar: the reference's nested labels block
    // (src/ticket_sync.py:44-49), types derived not hand-maintained
    val mapping = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_mapping.json")))
    assert(mapping.contains(
      "\"labels\": {\"type\": \"nested\", \"properties\": " +
      "{\"id\": {\"type\": \"long\"}, \"name\": {\"type\": \"text\"}, " +
      "\"color\": {\"type\": \"text\"}}}"), mapping)

    // struct shape round-trips through parquet: deduped, id-sorted
    val back = spark.read.parquet(s"$path/data")
    val labels = back.filter(col("ticket_number") === 1)
      .select(to_json(col("labels"))).head.getString(0)
    assert(labels ==
      """[{"id":10,"name":"widget","color":"Brand#1"},""" +
      """{"id":11,"name":"bolt","color":"Brand#2"}]""")
  }

  test("log-structured _versions: each write appends ONE delta file " +
    "(O(request), not O(store)); reads reduce base+deltas latest-seq " +
    "wins; the threshold compacts into the base; leftover deltas " +
    "replay idempotently (the crash window)") {
    val path = tmp()
    def deltaFiles: Int = {
      val d = new java.io.File(s"$path/_versions_delta")
      if (!d.isDirectory) 0
      else d.listFiles.count(f =>
        f.isFile && f.getName.startsWith("part-"))
    }
    // a fresh write creates one delta file, no base yet
    DocumentSink.writeVersions(spark, path, Map("a" -> ((1L, 0L))), 1L)
    assert(deltaFiles == 1)
    assert(!new java.io.File(s"$path/_versions").isDirectory)
    assert(DocumentSink.readVersions(spark, path, Seq("a")) ==
      Map("a" -> ((1L, 0L))))
    assert(DocumentSink.nextSeqNo(path) == 1L)
    // later writes supersede by HIGHEST seq_no, one file each
    DocumentSink.writeVersions(spark, path,
      Map("a" -> ((2L, 1L)), "b" -> ((1L, 2L))), 3L)
    assert(deltaFiles == 2)
    assert(DocumentSink.readVersions(spark, path, Seq("a", "b")) ==
      Map("a" -> ((2L, 1L)), "b" -> ((1L, 2L))))
    // drive past the threshold: the 16-file log folds into the base
    // mid-loop and clears; only the writes after that fold remain
    var seq = 3L
    (1 to DocumentSink.VersionsCompactThreshold).foreach { i =>
      DocumentSink.writeVersions(spark, path,
        Map(s"k$i" -> ((1L, seq))), seq + 1)
      seq += 1
    }
    // 2 pre-existing + 14 writes hit the 16-file threshold and fold;
    // the 2 writes after the fold are the only files left
    assert(deltaFiles == 2,
      s"compaction must clear the folded log (left: $deltaFiles)")
    assert(new java.io.File(s"$path/_versions").isDirectory,
      "compaction must have produced a base snapshot")
    assert(DocumentSink.readVersions(spark, path, Seq("a", "b", "k1")) ==
      Map("a" -> ((2L, 1L)), "b" -> ((1L, 2L)), "k1" -> ((1L, 3L))))
    // crash window: a delta that survived a compaction (its rows
    // already folded into the base) replays idempotently — re-append
    // a stale entry (a's OLD line, seq 1) and re-read
    DocumentSink.writeVersions(spark, path, Map("a" -> ((3L, seq))),
      seq + 1)
    assert(deltaFiles == 3)
    val before = DocumentSink.readVersions(spark, path,
      Seq("a", "b", "k1"))
    Seq(("a", 2L, 1L)).toDF("document_id", "version", "seq_no")
      .coalesce(1).write.mode(SaveMode.Append)
      .parquet(s"$path/_versions_delta")
    assert(DocumentSink.readVersions(spark, path,
      Seq("a", "b", "k1")) == before, "delta replay must be idempotent")
  }

  test("overwrite mode is drop-and-recreate (destructive, like the ES sink)") {
    val path = tmp()
    DocumentSink.save(Seq((1L, "a")).toDF("id", "v"), path)
    DocumentSink.save(Seq((2L, "b")).toDF("id", "v"), path,
      SaveMode.Overwrite)
    val rows = spark.read.parquet(s"$path/data").collect()
    assert(rows.length == 1 && rows(0).getAs[String]("v") == "b")
  }

  test("log-structured store: upserts and deletes land as O(request) " +
    "delta generations; the resolved line equals a from-scratch " +
    "rebuild; _meta doc_count tracks the arithmetic") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(1L -> "a", 2L -> "b", 3L -> "c"), path)
    assert(DocumentSink.upsert(doc(2L -> "B", 4L -> "d"), path) == 4)
    assert(DocumentSink.deleteByIds(
      Seq("1").toDF("document_id"), path) == 3)
    assert(DocumentSink.upsert(doc(1L -> "A2"), path) == 4)
    // deltas exist, the base was NEVER rewritten (O(request) writes)
    val gens = new java.io.File(s"$path/data_delta").listFiles()
      .map(_.getName).filter(_.startsWith("delta-")).sorted
    assert(gens.length == 3, gens.mkString(", "))
    val line = DocumentSink.read(spark, path)
      .orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq
    assert(line == Seq(1L -> "A2", 2L -> "B", 3L -> "c", 4L -> "d"))
    assert(DocumentSink.count(spark, path) == 4)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_meta.json")))
    assert(meta.contains("\"doc_count\": 4"), meta)
    // a deleted-then-reinserted id serves the LATEST generation
    assert(DocumentSink.read(spark, path)
      .filter(col("id") === 1L).collect()
      .map(_.getAs[String]("v")).toSeq == Seq("A2"))
  }

  test("log-structured store: threshold compaction folds the deltas " +
    "into a new base; stale-delta replay after a simulated crash is " +
    "idempotent") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(0L -> "base"), path)
    // drive exactly threshold generations: the last write compacts
    (1 to DocumentSink.StoreCompactThreshold).foreach { i =>
      DocumentSink.upsert(doc(i.toLong -> s"v$i"), path)
    }
    val deltaDir = new java.io.File(s"$path/data_delta")
    assert(!deltaDir.exists || deltaDir.listFiles().isEmpty,
      "compaction must clear the delta generations")
    val n = DocumentSink.StoreCompactThreshold + 1
    assert(DocumentSink.count(spark, path) == n)
    assert(spark.read.parquet(s"$path/data").count() == n,
      "the fold must land in the BASE")
    // simulated crash window: a stale delta (its rows already folded)
    // left behind replays idempotently — latest-wins is unchanged
    val snap = DocumentSink.read(spark, path)
      .orderBy("id").collect().map(_.toString).toSeq
    val last = DocumentSink.StoreCompactThreshold.toLong
    Seq((last, s"v$last", s"$last", "upsert", 999L))
      .toDF("id", "v", "document_id", "_op", "_seq")
      .write.parquet(s"$path/data_delta/delta-000999")
    val replayed = DocumentSink.read(spark, path)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(replayed == snap, "stale-delta replay changed the line")
    // and drop-and-recreate clears pending deltas (declared semantics)
    DocumentSink.save(doc(7L -> "fresh"), path)
    assert(!new java.io.File(s"$path/data_delta").exists)
    assert(DocumentSink.count(spark, path) == 1)
  }

  test("log-structured store: upsert and deleteByIds both refresh " +
    "the mapping sidecar from the resolved line's schema; the " +
    "reserved-column guard fires on the bootstrap path too") {
    val path = tmp()
    DocumentSink.save(DocumentSink.withDocId(
      Seq((1L, "a")).toDF("id", "v"), BareId("id")), path)
    // an upsert introduces a new column → the mapping gains it;
    // deleting its only carrier keeps the COLUMN (schema semantics —
    // a parquet/union schema retains departed columns as nullable,
    // exactly the pre-LSM base's behavior) but the sidecar must be
    // REWRITTEN from the post-delete line, not left stale
    DocumentSink.upsert(
      Seq((2L, "b", "x")).toDF("id", "v", "extra")
        .withColumn("document_id", col("id").cast("string")), path)
    def mapping() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_mapping.json")))
    assert(mapping().contains("\"extra\""), mapping())
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$path/_mapping.json"))
    DocumentSink.deleteByIds(Seq("2").toDF("document_id"), path)
    assert(mapping().contains("\"v\""), mapping())
    assert(DocumentSink.count(spark, path) == 1)
    // reserved delta-log columns reject even on a fresh store
    val fresh = tmp()
    intercept[IllegalArgumentException] {
      DocumentSink.upsert(
        Seq((1L, "up")).toDF("id", "_op")
          .withColumn("document_id", col("id").cast("string")), fresh)
    }
  }

  test("log-structured store (round 18): the base is hive-BUCKETED " +
    "on the id hash — bootstrap-by-upsert and compaction both write " +
    "the layout, the write-path count probe PRUNES to the touched " +
    "buckets at planning time, and counts stay exact across " +
    "upserts, deletes and the fold") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    // bootstrap THROUGH upsert (an API-writable store) → bucketed
    assert(DocumentSink.upsert(
      doc((1L to 500L).map(i => i -> s"v$i"): _*), path) == 500)
    assert(DocumentSink.storeBuckets(path).contains(
      DocumentSink.StoreBuckets))
    val bucketDirs = new java.io.File(s"$path/data").listFiles()
      .map(_.getName).filter(_.startsWith("_bucket="))
    assert(bucketDirs.length > 1, bucketDirs.mkString(", "))
    // the probe frame: planning-time partition pruning on _bucket,
    // request-bounded everywhere, no sort-merge join
    DocumentSink.upsert(doc(5L -> "B"), path)
    val frame = DocumentSink.idsInLineFrame(spark, path,
      Seq("5", "7"), belowSeq = Long.MaxValue)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("_bucket"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(frame.count() == 2)
    // count contracts on the bucketed layout: replace 1 → total
    // stays; delete 2 → down 2; fresh insert → up 1
    assert(DocumentSink.count(spark, path) == 500)
    assert(DocumentSink.deleteByIds(
      Seq("3", "4").toDF("document_id"), path) == 498)
    assert(DocumentSink.upsert(doc(501L -> "new"), path) == 499)
    // drive to the compaction threshold (3 generations exist
    // already): the fold must PRESERVE the bucketed layout and the
    // arithmetic
    var writes = 4
    while (writes <= DocumentSink.StoreCompactThreshold) {
      DocumentSink.upsert(doc((600L + writes) -> "x"), path)
      writes += 1
    }
    val deltaDir = new java.io.File(s"$path/data_delta")
    assert(!deltaDir.exists || deltaDir.listFiles().isEmpty,
      "threshold write must have compacted")
    assert(DocumentSink.storeBuckets(path).contains(
      DocumentSink.StoreBuckets))
    assert(new java.io.File(s"$path/data").listFiles()
      .exists(_.getName.startsWith("_bucket=")),
      "the fold lost the bucketed layout")
    val expected = 499 + (DocumentSink.StoreCompactThreshold + 1 - 4)
    assert(DocumentSink.count(spark, path) == expected)
    // the resolved line never leaks the layout column
    assert(!DocumentSink.read(spark, path).columns.contains("_bucket"))
    // and a pre-round-18 FLAT store still probes correctly (the
    // unpruned-but-pushed fallback), then GAINS the layout at its
    // first compaction
    val flat = tmp()
    DocumentSink.save(doc(1L -> "a", 2L -> "b"), flat)
    assert(DocumentSink.storeBuckets(flat).isEmpty)
    assert(DocumentSink.upsert(doc(2L -> "B2"), flat) == 2)
    assert(DocumentSink.deleteByIds(
      Seq("1").toDF("document_id"), flat) == 1)
    // `_bucket` is RESERVED (a document field by that name would be
    // hijacked as the layout column and dropped from reads) — save
    // and upsert both fail loud; an Append never introduces
    // bucketing onto a flat base (it follows the existing layout)
    intercept[IllegalArgumentException] {
      DocumentSink.save(doc(9L -> "x")
        .withColumn("_bucket", lit(1)), tmp())
    }
    intercept[IllegalArgumentException] {
      DocumentSink.upsert(doc(9L -> "x")
        .withColumn("_bucket", lit(1)), flat)
    }
    DocumentSink.save(doc(3L -> "c"), flat, SaveMode.Append,
      bucketByDocId = true)
    assert(DocumentSink.storeBuckets(flat).isEmpty,
      "Append must not introduce bucketing onto a flat base")
    assert(spark.read.parquet(s"$flat/data").count() == 3)
  }

  test("log-structured store: the resolved-read PLAN is a broadcast " +
    "anti-join against the base scan (delta side request-sized) — " +
    "never a sort-merge join, and the only shuffle touches the " +
    "delta frames") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc((1L to 500L).map(i => i -> s"v$i"): _*), path)
    DocumentSink.upsert(doc(5L -> "B"), path)
    DocumentSink.deleteByIds(Seq("7").toDF("document_id"), path)
    val plan = DocumentSink.read(spark, path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // the zero-delta fast path is the plain base read — no join
    val compactedLike = tmp()
    DocumentSink.save(doc(1L -> "a"), compactedLike)
    val p2 = DocumentSink.read(spark, compactedLike)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Join"), p2.take(1000))
  }

  test("write lands upserts and tombstones as ONE mixed generation: " +
    "the resolved line, the _meta count, the adjacent search index " +
    "and a later compaction all see both sides") {
    val path = Files.createTempDirectory("graft-sink-mixed").toString
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(1L -> "alpha", 2L -> "beta", 3L -> "gamma",
      4L -> "delta", 5L -> "window"), path)
    graft.sinks.SearchIndex.build(DocumentSink.read(spark, path),
      Seq("v"), "document_id", s"$path/_search_index")
    // upsert 2 (replace) and 6 (new); delete 3 (stored) and 9 (never
    // stored); an id on both sides (4) is deleted
    val n = DocumentSink.write(
      Some(doc(2L -> "window beta", 6L -> "window", 4L -> "kept?")),
      Some(Seq("3", "9", "4").toDF("document_id")), path)
    // prev 5 − existing∩(U∪D) {2, 3, 4} + |U| {2, 6} = 4
    assert(n == 4)
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_meta.json")))
    assert(meta.contains("\"doc_count\": 4"), meta)
    val gens = new java.io.File(s"$path/data_delta").listFiles()
      .map(_.getName).filter(_.startsWith("delta-"))
    assert(gens.length == 1, gens.mkString(", "))
    val ops = spark.read.parquet(s"$path/data_delta/${gens.head}")
      .select("document_id", "_op").as[(String, String)].collect().toSet
    assert(ops == Set("2" -> "upsert", "6" -> "upsert",
      "3" -> "delete", "9" -> "delete", "4" -> "delete"))
    def line(): Seq[(Long, String)] = DocumentSink.read(spark, path)
      .orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    val expected = Seq(1L -> "alpha", 2L -> "window beta",
      5L -> "window", 6L -> "window")
    assert(line() == expected)
    assert(DocumentSink.count(spark, path) == 4)
    // the maintained index ranks exactly like one rebuilt from the line
    val reb = Files.createTempDirectory("graft-sink-mixed-reb").toString
    graft.sinks.SearchIndex.build(DocumentSink.read(spark, path),
      Seq("v"), "document_id", reb)
    def ranked(p: String) = graft.sinks.SearchIndex.ranked(spark, p,
      "window delta gamma", Seq("v")).collect().map(_.toString).toSeq
    assert(ranked(s"$path/_search_index") == ranked(reb))
    assert(ranked(reb).size == 3)
    // one-sided calls keep their contracts on top of the mixed line
    assert(DocumentSink.deleteByIds(Seq("6").toDF("document_id"),
      path) == 3)
    assert(DocumentSink.upsert(doc(7L -> "x"), path) == 4)
    // compaction folds across the mixed generation (three generations
    // exist; the threshold-th write folds): the deleted ids stay gone,
    // the replaced one keeps its latest value
    val more = DocumentSink.StoreCompactThreshold - 3
    (100 until 100 + more).foreach { i =>
      DocumentSink.upsert(doc(i.toLong -> s"v$i"), path)
    }
    val deltaDir = new java.io.File(s"$path/data_delta")
    assert(!deltaDir.exists || deltaDir.listFiles().isEmpty,
      "threshold write must have compacted")
    val folded = line()
    assert(folded.take(3) == Seq(1L -> "alpha", 2L -> "window beta",
      5L -> "window"))
    assert(!folded.exists(r => Set(3L, 4L, 6L, 9L)(r._1)))
    assert(DocumentSink.count(spark, path) == 4 + more)
  }

  /** The schema `_meta.json` records for the store's line. */
  private def recorded(path: String): Option[org.apache.spark.sql.types.StructType] =
    Option(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$path/_meta.json")).get("schema"))
      .map(n => org.apache.spark.sql.types.StructType.fromDDL(n.asText))

  /** The resolved line's schema as parquet footers infer it: every
    * base and delta file's schema merged, then unioned by name. */
  private def inferred(path: String): org.apache.spark.sql.types.StructType = {
    def dir(d: String) = new java.io.File(s"$path/$d")
    val base = Option.when(dir("data").isDirectory)(spark.read
      .option("mergeSchema", "true").parquet(s"$path/data").drop("_bucket"))
    val deltas = Option.when(Option(dir("data_delta").list()).exists(_.nonEmpty))(
      spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true").parquet(s"$path/data_delta")
        .drop("_op", "_seq"))
    (base ++ deltas).reduce(_.unionByName(_, allowMissingColumns = true))
      .schema
  }

  private def sameSchema(path: String, step: String): Unit = {
    val rec = recorded(path)
    assert(rec.isDefined, s"$step: no schema recorded")
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => f.name -> f.dataType)
    assert(shape(rec.get) == shape(inferred(path)),
      s"$step: recorded ${rec.get.toDDL} vs inferred ${inferred(path).toDDL}")
    assert(DocumentSink.read(spark, path).schema == rec.get, step)
  }

  test("_meta.json records the resolved line's schema — names, order " +
    "and types as the footers infer it — after save, an Append with a " +
    "new column, a write with a new column, a tombstone-only " +
    "generation, compaction and on a bucketed base") {
    val path = tmp()
    val first = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "v", "score")
      .withColumn("tags", array(col("v"), lit("t")))
      .withColumn("label", struct(col("id").as("lid"), col("v").as("name")))
      .withColumn("amount", col("score").cast("decimal(10,2)"))
      .withColumn("at", lit("2024-01-05 10:00:00").cast("timestamp"))
      .withColumn("document_id", col("id").cast("string"))
    DocumentSink.save(first, path)
    sameSchema(path, "save")
    DocumentSink.save(first.filter(col("id") === 3L)
      .withColumn("id", lit(4L)).withColumn("document_id", lit("4"))
      .withColumn("extra", lit("x")), path, SaveMode.Append)
    sameSchema(path, "Append with a new column")
    assert(DocumentSink.read(spark, path).filter(col("id") === 4L)
      .select("extra").as[String].collect().toSeq == Seq("x"))
    DocumentSink.upsert(first.filter(col("id") === 1L)
      .withColumn("more", lit(7)), path)
    sameSchema(path, "write with a new column")
    DocumentSink.deleteByIds(Seq("2").toDF("document_id"), path)
    sameSchema(path, "tombstone-only generation")
    // two generations exist: the loop's last write reaches the threshold
    (5 to 2 + DocumentSink.StoreCompactThreshold).foreach { i =>
      DocumentSink.upsert(first.filter(col("id") === 3L)
        .withColumn("id", lit(i.toLong))
        .withColumn("document_id", lit(i.toString)), path)
    }
    assert(!new java.io.File(s"$path/data_delta").exists,
      "the threshold write must have compacted")
    sameSchema(path, "compaction")
    assert(DocumentSink.count(spark, path) ==
      1 + DocumentSink.StoreCompactThreshold)
    val bucketed = tmp()
    DocumentSink.upsert(first, bucketed)
    assert(DocumentSink.storeBuckets(bucketed).isDefined)
    sameSchema(bucketed, "bucketed base")
    DocumentSink.upsert(first.filter(col("id") === 2L)
      .withColumn("more", lit(1)), bucketed)
    sameSchema(bucketed, "write with a new column on a bucketed base")
  }

  test("a store without a recorded schema (the older layout) reads " +
    "identically by inference and records the schema at its next write") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(1L -> "a", 2L -> "b", 3L -> "c"), path)
    DocumentSink.upsert(doc(2L -> "B").withColumn("extra", lit(true)), path)
    DocumentSink.deleteByIds(Seq("3").toDF("document_id"), path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toString).toSeq
    val line = DocumentSink.read(spark, path)
    val (schema, before) = (line.schema, rows(line))
    val ids = Seq("1", "2", "3", "9")
    val looked = rows(DocumentSink.lookup(spark, path, ids).get)
    val meta = java.nio.file.Paths.get(s"$path/_meta.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(meta.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("schema")
    Files.write(meta, node.toString.getBytes("UTF-8"))
    assert(recorded(path).isEmpty)
    val old = DocumentSink.read(spark, path)
    assert(old.schema == schema && rows(old) == before)
    assert(rows(DocumentSink.lookup(spark, path, ids).get) == looked)
    assert(DocumentSink.count(spark, path) == 2)
    assert(DocumentSink.upsert(doc(4L -> "d"), path) == 3)
    sameSchema(path, "the old store's next write")
  }

  test("model: lookup(ids) equals read(...).filter(ids) over generated " +
    "upsert, delete and repeated-id sequences across generations and a " +
    "compaction") {
    val rnd = new scala.util.Random(20261019L)
    val path = tmp()
    val keys = 1L to 12L
    def batch(ids: Seq[Long], step: Int): org.apache.spark.sql.DataFrame = {
      val df = ids.map(i => (i, s"v$i-$step")).toDF("id", "v")
        .withColumn("document_id", col("id").cast("string"))
      // from step 5 on, upserts carry a column the base never had
      if (step >= 5) df.withColumn("w", lit(step)) else df
    }
    DocumentSink.save(batch(keys.take(8), 0), path)
    var compacted = false
    (1 to DocumentSink.StoreCompactThreshold + 4).foreach { step =>
      val ups = Seq.fill(1 + rnd.nextInt(3))(keys(rnd.nextInt(keys.size)))
      // a repeated id: one batch landing two rows for one id
      val upsRep = if (rnd.nextInt(4) == 0) ups :+ ups.head else ups
      val dels = Seq.fill(rnd.nextInt(3))(keys(rnd.nextInt(keys.size)).toString)
      rnd.nextInt(3) match {
        case 0 => DocumentSink.upsert(batch(upsRep, step), path)
        case 1 if dels.nonEmpty =>
          DocumentSink.deleteByIds(dels.toDF("document_id"), path)
        case _ => DocumentSink.write(Some(batch(upsRep, step)),
          Option.when(dels.nonEmpty)(dels.toDF("document_id")), path)
      }
      compacted ||= !new java.io.File(s"$path/data_delta").exists
      val probe = (Seq.fill(4)(keys(rnd.nextInt(keys.size))) :+ 99L)
        .map(_.toString).distinct
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSeq.sorted
      val expected = rows(DocumentSink.read(spark, path)
        .filter(col("document_id").isin(probe: _*)))
      assert(rows(DocumentSink.lookup(spark, path, probe).get) == expected,
        s"step $step, ids $probe")
    }
    assert(compacted, "the sequence never reached a compaction")
  }

  test("model: readVersions(ids) equals the versionLine fold filtered " +
    "to ids over generated writeVersions sequences, ids repeated " +
    "across delta files, stale replays and a compaction") {
    val rnd = new scala.util.Random(20261021L)
    val path = tmp()
    val keys = (1 to 10).map(i => s"k$i")
    var seq = 0L
    var folded = false
    (1 to DocumentSink.VersionsCompactThreshold + 8).foreach { step =>
      val entries = Seq.fill(1 + rnd.nextInt(4))(keys(rnd.nextInt(keys.size)))
        .distinct.map { id =>
          // one in four is a stale replay: an older (or equal) seq_no
          // at any version, as a delta left over a compaction is
          val s = if (rnd.nextInt(4) == 0) rnd.nextLong(seq + 1) else seq
          seq += 1
          id -> ((1L + rnd.nextInt(6), s))
        }.toMap
      DocumentSink.writeVersions(spark, path, entries, seq)
      folded ||= new java.io.File(s"$path/_versions").isDirectory
      val probe =
        (Seq.fill(4)(keys(rnd.nextInt(keys.size))) :+ "absent").distinct
      val expected = DocumentSink.versionLine(spark, path).get
        .filter(col("document_id").isin(probe: _*)).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(DocumentSink.readVersions(spark, path, probe) == expected,
        s"step $step, ids $probe")
    }
    assert(folded, "the sequence never reached a compaction")
  }

  test("lookup and the write-path existence count each run one Spark " +
    "job and no shuffle stage on a bucketed store with deltas and an " +
    "id repeated in one generation") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.upsert(doc((1L to 200L).map(i => i -> s"v$i"): _*), path)
    DocumentSink.upsert(doc(5L -> "a", 5L -> "b", 300L -> "c"), path)
    DocumentSink.deleteByIds(Seq("7").toDF("document_id"), path)
    assert(DocumentSink.storeBuckets(path).isDefined)
    val ids = Seq("5", "7", "9", "300", "999")
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.toString).toSeq.sorted
    val expected = rows(DocumentSink.read(spark, path)
      .filter(col("document_id").isin(ids: _*)).collect())
    assert(expected.size == 4, expected)
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      val j0 = log.drained()
      val s0 = log.shuffleStages
      val looked = rows(DocumentSink.lookup(spark, path, ids).get.collect())
      val j1 = log.drained()
      assert(j1 - j0 == 1, s"lookup ran ${j1 - j0} Spark jobs")
      assert(log.shuffleStages == s0, "lookup ran a shuffle stage")
      assert(looked == expected)
      val n = DocumentSink.idsInLineCount(spark, path, ids, Long.MaxValue)
      val j2 = log.drained()
      assert(j2 - j1 == 1, s"the existence count ran ${j2 - j1} Spark jobs")
      assert(log.shuffleStages == s0, "the existence count ran a shuffle stage")
      assert(n == 4)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  private def metaFile(path: String) =
    java.nio.file.Paths.get(s"$path/_meta.json")

  /** `count` agrees with the resolved line, counted from scratch. */
  private def exact(path: String, step: String): Unit = {
    val line = DocumentSink.read(spark, path).count()
    assert(DocumentSink.count(spark, path) == line, step)
  }

  test("a count left stale between a write's rename and its final " +
    "record heals: the next write and count answer the resolved line") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(1L -> "a", 2L -> "b", 3L -> "c"), path)
    assert(DocumentSink.upsert(doc(4L -> "d"), path) == 4)
    // the crash window: the generation landed, its record did not
    val pre = Files.readAllBytes(metaFile(path))
    assert(DocumentSink.upsert(doc(5L -> "e"), path) == 5)
    Files.write(metaFile(path), pre)
    exact(path, "after the emulated crash")
    assert(DocumentSink.upsert(doc(6L -> "f"), path) ==
      DocumentSink.read(spark, path).count())
    exact(path, "after the healing write")
    // the same window under a delete
    val pre2 = Files.readAllBytes(metaFile(path))
    assert(DocumentSink.deleteByIds(Seq("1").toDF("document_id"), path) == 5)
    Files.write(metaFile(path), pre2)
    exact(path, "after the emulated crash of a delete")
    assert(DocumentSink.deleteByIds(Seq("2").toDF("document_id"), path) ==
      DocumentSink.read(spark, path).count())
    exact(path, "after the healing delete")
  }

  test("a record that outlived a compaction never matches a later " +
    "generation: numbers do not restart at delta-000001") {
    val path = tmp()
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    DocumentSink.save(doc(0L -> "base"), path)
    DocumentSink.upsert(doc(1L -> "v1"), path)
    val stale = Files.readAllBytes(metaFile(path))
    (2 to DocumentSink.StoreCompactThreshold).foreach { i =>
      DocumentSink.upsert(doc(i.toLong -> s"v$i"), path)
    }
    assert(!new java.io.File(s"$path/data_delta").exists,
      "the threshold write must have compacted")
    // the compaction window: the deltas are gone, its record is not
    // written, an older one (stamped with generation 1) is on disk
    Files.write(metaFile(path), stale)
    exact(path, "after the emulated compaction crash")
    assert(DocumentSink.upsert(doc(100L -> "x"), path) ==
      DocumentSink.read(spark, path).count())
    val gens = new java.io.File(s"$path/data_delta").list().toSeq
    assert(!gens.contains("delta-000001"), gens.mkString(", "))
    // and that write's own rename-to-record window
    Files.write(metaFile(path), stale)
    exact(path, "after the emulated crash of the next write")
    assert(DocumentSink.upsert(doc(101L -> "y"), path) ==
      DocumentSink.read(spark, path).count())
    exact(path, "after the healing write")
  }

  test("model: count equals read(...).count() after every step of " +
    "generated save, validatedWrite, write and compaction sequences, " +
    "stamped or not, across crashed writes") {
    val rnd = new scala.util.Random(20261020L)
    val path = tmp()
    val keys = 1L to 12L
    def batch(ids: Seq[Long], step: Int): org.apache.spark.sql.DataFrame = {
      val df = ids.map(i => (i, s"v$i-$step")).toDF("id", "v")
        .withColumn("document_id", col("id").cast("string"))
      if (step % 3 == 0) df.withColumn("w", lit(step)) else df
    }
    def some(n: Int) = Seq.fill(n)(keys(rnd.nextInt(keys.size)))
    var compactions = 0
    var step = 0
    def check(what: String): Unit = {
      step += 1
      exact(path, s"step $step: $what")
    }
    for (round <- 0 until 3) {
      round match {
        case 0 => DocumentSink.save(batch(some(6).distinct, 0), path)
        case 1 =>
          // rejected rows (a null id) go to the side-channel
          val rows = some(5).distinct.map(i => Option(i)) :+ None
          DocumentSink.validatedWrite(rows.toDF("id")
            .withColumn("v", lit("vw"))
            .withColumn("document_id", col("id").cast("string")),
            path, Seq("id"))
        case _ =>
          DocumentSink.save(batch(some(6).distinct, 0), path,
            bucketByDocId = true)
      }
      check(s"round $round base")
      (1 to DocumentSink.StoreCompactThreshold + 8).foreach { i =>
        val ups = some(1 + rnd.nextInt(3))
        // a batch repeating an id lands two rows for it
        val upsRep = if (rnd.nextInt(4) == 0) ups :+ ups.head else ups
        // an id on both sides is deleted
        val dels = (some(rnd.nextInt(3)) ++
          Option.when(rnd.nextInt(4) == 0)(upsRep.head)).map(_.toString)
        val before = Option(new java.io.File(s"$path/data_delta").list())
          .map(_.length).getOrElse(0)
        val what = rnd.nextInt(9) match {
          case 0 => DocumentSink.upsert(batch(upsRep, i), path); "upsert"
          case 1 =>
            // a tombstone-only generation
            DocumentSink.deleteByIds(dels.toDF("document_id"), path)
            "delete"
          case 2 =>
            DocumentSink.save(batch(some(2), i), path, SaveMode.Append)
            "Append"
          case 3 =>
            // a store whose record lacks the stamp (written before it)
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(metaFile(path).toFile)
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            node.remove("line")
            Files.write(metaFile(path), node.toString.getBytes("UTF-8"))
            "unstamped"
          case 4 =>
            // a crash between the generation's rename and its final
            // record: the pre-write record stays on disk
            val pre = Files.readAllBytes(metaFile(path))
            DocumentSink.upsert(batch(upsRep, i), path)
            Files.write(metaFile(path), pre)
            "crashed upsert"
          case _ =>
            val n = DocumentSink.write(Some(batch(upsRep, i)),
              Option.when(dels.nonEmpty)(dels.toDF("document_id")), path)
            assert(n == DocumentSink.read(spark, path).count(),
              s"write's own count at step $step")
            "write"
        }
        if (before > 0 && !new java.io.File(s"$path/data_delta").exists)
          compactions += 1
        check(s"round $round, $what")
      }
    }
    assert(compactions > 0, "the sequence never reached a compaction")
  }

  test("a trusted count runs no Spark job — on a synced store and on a " +
    "store with delta generations; an Append's count still scans") {
    def doc(rows: (Long, String)*) = DocumentSink.withDocId(
      rows.toDF("id", "v"), BareId("id"))
    val synced = tmp()
    DocumentSink.validatedWrite(doc(1L -> "a", 2L -> "b"), synced, Seq("id"))
    val deltas = tmp()
    DocumentSink.upsert(doc(1L -> "a", 2L -> "b", 3L -> "c"), deltas)
    DocumentSink.upsert(doc(4L -> "d"), deltas)
    DocumentSink.deleteByIds(Seq("1").toDF("document_id"), deltas)
    val appended = tmp()
    DocumentSink.save(doc(1L -> "a"), appended)
    DocumentSink.save(doc(2L -> "b"), appended, SaveMode.Append)
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      val j0 = log.drained()
      assert(DocumentSink.count(spark, synced) == 2)
      assert(DocumentSink.count(spark, deltas) == 3)
      val j1 = log.drained()
      assert(j1 == j0, s"a trusted count ran ${j1 - j0} Spark jobs")
      assert(DocumentSink.count(spark, appended) == 2)
      assert(log.drained() > j1, "an Append's record was trusted")
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("an API write and an Append keep _mapping.json's recorded field " +
    "types and derive types only for new columns") {
    val path = tmp()
    val synced = Seq((1L, "Acme", "free text"))
      .toDF("customer_c_custkey", "customer_c_name", "customer_c_comment")
      .withColumn("document_id", col("customer_c_custkey").cast("string"))
    DocumentSink.validatedWrite(synced, path, Seq("customer_c_custkey"),
      fieldTypes = Map("customer_c_name" -> "keyword",
        "document_id" -> "keyword", "customer_c_comment" -> "text"))
    DocumentSink.write(Some(Seq((2L, "Beta", "more", 7))
      .toDF("customer_c_custkey", "customer_c_name", "customer_c_comment",
        "customer_c_rank")
      .withColumn("document_id", col("customer_c_custkey").cast("string"))),
      None, path)
    // an Append whose batch lacks a mapped column keeps it too
    DocumentSink.save(Seq((3L, "Gamma")).toDF("customer_c_custkey",
        "customer_c_name")
      .withColumn("document_id", col("customer_c_custkey").cast("string")),
      path, SaveMode.Append)
    val mapping = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_mapping.json")))
    assert(mapping.contains("\"customer_c_name\": {\"type\": \"keyword\"}"),
      mapping)
    assert(mapping.contains("\"document_id\": {\"type\": \"keyword\"}"),
      mapping)
    assert(mapping.contains("\"customer_c_comment\": {\"type\": \"text\"}"),
      mapping)
    assert(mapping.contains("\"customer_c_custkey\": {\"type\": \"long\"}"),
      mapping)
    assert(mapping.contains("\"customer_c_rank\": {\"type\": \"integer\"}"),
      mapping)
  }
}
