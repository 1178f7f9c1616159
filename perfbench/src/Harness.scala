// Lives under org.apache.spark only to reach LiveListenerBus.waitUntilEmpty
// (private[spark]): the traced run drains the listener bus after each
// operation so every Spark event is counted against the operation that
// caused it, and every run drains it before measuring the live heap.
package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, StageCache}
import graft.catalog.EntityCatalog
import graft.operators.Denormalize
import graft.serving.{EsDsl, HttpApi, Search}
import graft.sinks.{DocumentSink, SearchIndex}
import graft.sources.Tables

/** One benchmark run in one JVM: set-up, a timed closed loop of one
  * workload, and a result file for perfbench/run.py to check and report.
  *
  *   Harness --workload W --data DIR --work DIR --seconds S --trace 0|1
  *           --result FILE [--plan FILE] [--probe "TERMS"]
  *
  * Untraced runs time operations and nothing else. A traced run adds the
  * benchmark's own listeners, spans around every call into a layer, and
  * direct replays of the public functions behind private HTTP handlers.
  */
object Harness {
  val RunTs = Denormalize.RunTs
  val MaxHits = 1000 // HttpApi's default hit cap, replayed by the traced run
  val Verifications = 3 // count verifications timed after the pass
  // The traced full_sync run's lap over SparkEntry.queries: one query of
  // each operator family (Dedup, Bpe, Similarity, Multimodal), three EsDsl
  // aggregation families (terms with metric sub-aggregations,
  // date histogram, percentiles) and both corpus-scan scorers (BM25, occurrence).
  // The postings-probe scorers run in the pass's ranked probe and in
  // serve_mixed's `rank` requests instead; their registry twins would
  // first build a postings index of their own.
  val QueryLap = Seq("dedup_exact", "bpe_vocab", "ann_topk",
    "multimodal_features", "q7_esdsl_aggs", "q7_esdsl_date_histogram",
    "q7_esdsl_percentiles", "q2_search_bm25", "q1_search")
  val mapper = new ObjectMapper()

  def now(): Long = System.nanoTime()
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val ctx = new Ctx(o)
    val code =
      try { ctx.run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // HttpApi.stop() leaves its executor's non-daemon threads running,
    // so the JVM would never exit on its own; end it here. Spark's
    // shutdown hooks only delete scratch files, which the next run's
    // fresh output directory removes anyway.
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Spans (name, start, end, parent, request id) kept in memory and
  * written when the run ends; a no-op unless the run is traced. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, req: String, name: String,
                        start: Long, end: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var lastId = 0
  var req = ""

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Harness.now()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, req, name, t0, Harness.now())
      }
    }

  def write(path: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try spans.foreach { s =>
      w.write(s"""{"id": ${s.id}, "parent": ${s.parent}, "req": "${s.req}", """ +
        s""""name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** The benchmark's own Spark listeners: job, task and Catalyst counters
  * per operation class, and the store writes (delta generations,
  * compactions, version sidecars) the sinks layer issues. Registered only
  * in traced runs. */
final class Counters(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  @volatile var cls = "none"
  val sums = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit =
    sums.synchronized { sums((cls, k)) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("spark.executor_run_ms", m.executorRunTime.toDouble)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
      add("spark.gc_ms", m.jvmGCTime.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
    }
    val out = writesOf(qe.logical)
    if (out.exists(p => p.contains("/.delta_tmp_") ||
        p.contains("/.data_tmp_") || p.contains("_versions")))
      add("sinks.upsert_ms", durationNs / 1e6)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  private def writesOf(p: LogicalPlan): Seq[String] = p.collect {
    case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  def take(c: String): Map[String, Double] = sums.synchronized {
    val m = sums.collect { case ((k, n), v) if k == c => n -> v }.toMap
    sums.keys.filter(_._1 == c).toList.foreach(sums.remove)
    m
  }
}

final class Ctx(o: Map[String, String]) {
  import Harness._

  val workload = o("workload")
  val data = new File(o("data")).getAbsolutePath
  val work = new File(o("work")).getAbsolutePath
  val seconds = o("seconds").toDouble
  val traced = o("trace") == "1"
  val tracer = new Tracer(traced)
  val result: ObjectNode = mapper.createObjectNode()
  val e2e: ObjectNode = result.putObject("end_to_end")
  val layer: ObjectNode = result.putObject("per_layer")
  var attempted = 0
  var failed = 0
  var stageLive = 0
  // per-operation per-layer samples of the timed window, reported as
  // medians; set-up and warm-up operations are not recorded
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var recording = false
  def sample(k: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  // CPU time of the JVM's Java threads (calling and planning threads,
  // Spark tasks, HTTP server) per operation, by class. Unlike wall time it does not grow
  // when the machine's other guests take the CPUs; JIT-compiler and GC
  // threads are not Java threads and are left out, so a compilation
  // backlog running during the window does not show either.
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time so far of every live Java thread, by thread id (ids are
    * never reused). */
  def cpuMark(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU time spent since `m`: a thread alive at both points counts the
    * difference, a thread started since counts whole, and a thread that
    * ended in between counts nothing (its time can no longer be read). */
  def cpuSince(m: Map[Long, Long]): Long =
    cpuMark().iterator.map { case (id, t) =>
      math.max(0L, t - m.getOrElse(id, 0L))
    }.sum
  val cpu = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def cpuSample(c: String, ns: Long): Unit =
    if (recording) cpu.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += ns / 1e6
  def cpuMedian(c: String): Double = median(cpu(c).toSeq)

  lazy val spark: SparkSession = GraftSession("perfbench")
  var counters: Counters = _

  def run(): Unit = {
    new File(work).mkdirs()
    spark
    if (traced) {
      counters = new Counters(spark)
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    workload match {
      case "full_sync" => fullSync()
      case "serve_mixed" => serveMixed()
    }
    // the share of CPU time the hypervisor gave to other guests during
    // the timed window: context for the timings, not a metric
    for ((s0, t0) <- jiffies0; (s1, t1) <- cpuJiffies() if t1 > t0)
      result.put("steal_pct", 100.0 * (s1 - s0) / (t1 - t0))
    // Spark's listener bus can lag behind under load, and its queued
    // events are live heap: let it drain first. Then several full
    // collections, since one can leave garbage a later one frees.
    spark.sparkContext.listenerBus.waitUntilEmpty()
    val mem = ManagementFactory.getMemoryMXBean
    val heap = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed
    }.min
    e2e.put("heap_live_mb", heap / 1048576.0)
    if (traced && workload == "full_sync") queryLap()
    layer.put("stagecache.live", stageLive.toDouble)
    samples.foreach { case (k, v) => layer.put(k, median(v.toSeq)) }

    result.put("attempted", attempted)
    result.put("failed", failed)
    if (traced) tracer.write(s"$work/spans.jsonl")
    Files.write(Paths.get(o("result")),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(result))
  }

  /** (steal, total) jiffies of the whole machine from /proc/stat, or
    * None where it cannot be read. */
  def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }.toOption
  var jiffies0: Option[(Long, Long)] = None

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Marks the end of set-up: JVM start → the first timed operation.
    * setup_s is the CPU time the whole JVM (JIT compiler and GC
    * included) spent until then; the wall time, which follows the CPU
    * time other guests of the host take, is kept beside it. */
  def setupDone(): Long = {
    val jvm = ManagementFactory.getRuntimeMXBean.getStartTime
    e2e.put("setup_s", os.getProcessCpuTime / 1e9)
    result.put("setup_wall_s", (System.currentTimeMillis() - jvm) / 1000.0)
    recording = true
    jiffies0 = cpuJiffies()
    now()
  }

  def afterOp(): Unit = stageLive = math.max(stageLive, StageCache.liveCount)

  /** Counters of class `c` since the last call, one sample per op. */
  def takeCounters(c: String): Unit = if (traced) {
    counters.drain()
    val m = counters.take(c)
    m.foreach { case (k, v) => if (!k.startsWith("sinks.")) sample(s"$k.$c", v) }
    if (c == "bulk") sample("sinks.upsert_ms", m.getOrElse("sinks.upsert_ms", 0.0))
  }

  def withClass[T](c: String)(f: => T): T = {
    if (traced) { counters.drain(); counters.cls = c }
    try f finally if (traced) { counters.drain(); counters.cls = "none" }
  }

  // ---------------------------------------------------------------- full_sync

  /** One sync pass into `dir`: the seven catalog entities, the nested
    * ticket documents and the per-entity search indexes. */
  def syncPass(dir: String): ObjectNode = {
    val out = mapper.createObjectNode()
    val t0 = now()
    val counts = tracer("catalog.syncAll") {
      EntityCatalog.syncAll(spark, data, s"$dir/stores", RunTs)
    }
    val t1 = now()
    val tickets = tracer("operators.tickets") {
      def t(n: String) = Tables(spark, data, n)
      val df = tracer("operators.denormalize") {
        Denormalize.nested(t("orders"), t("lineitem"), t("part"),
          t("customer"), t("nation"), t("region"), RunTs)
      }
      tracer("sinks.save") { DocumentSink.save(df, s"$dir/tickets") }
    }
    val t2 = now()
    tracer("sinks.index_build") {
      Search.buildEntityIndexes(spark, data, s"$dir/indexes", RunTs)
    }
    val t3 = now()
    afterOp()
    val c = out.putObject("counts")
    counts.foreach { case (e, (ok, bad)) =>
      c.putArray(e).add(ok).add(bad)
    }
    out.put("tickets", tickets)
    out.put("pass_s", (t3 - t0) / 1e9)
    out.put("entities_s", (t1 - t0) / 1e9)
    out.put("tickets_s", (t2 - t1) / 1e9)
    out.put("index_s", (t3 - t2) / 1e9)
    out
  }

  /** The reference's count verification after a sync: one count of each
    * of the eight stores the pass wrote, timed together as one read. */
  def verifyCounts(dir: String, pass: ObjectNode): Double = {
    val stores = EntityCatalog.entities.keys.toSeq.sorted
      .map(e => e -> s"$dir/stores/$e") :+ ("tickets" -> s"$dir/tickets")
    val c = pass.putObject("verified")
    val t0 = now()
    val c0 = cpuMark()
    withClass("count") {
      stores.foreach { case (name, path) =>
        c.put(name, tracer("sinks.count") { DocumentSink.count(spark, path) })
      }
    }
    val t = ms(t0, now())
    cpuSample("count", cpuSince(c0))
    takeCounters("count")
    t
  }

  /** Ranked search over every entity index the pass built (the
    * `data_lake_*` wildcard probe): data just synced is searchable. */
  def probe(dir: String, pass: ObjectNode): Unit = {
    val term = o("probe")
    val t0 = now()
    val rows = withClass("probe") {
      tracer("sinks.probe") {
        Search.acrossIndexesRankedIndexed(spark, s"$dir/indexes", term, 10)
          .toJSON.collect()
      }
    }
    sample("sinks.probe_ms.wildcard", ms(t0, now()))
    takeCounters("probe")
    pass.put("probe_term", term)
    pass.set[JsonNode]("probe_hits", mapper.readTree(rows.mkString("[", ",", "]")))
  }

  /** One sync pass in a fresh JVM, the way `graft.SyncData` runs one:
    * not warmed up, since a user pays the JVM's warm-up on every sync.
    * Then the reference's count verification, several times, and one
    * ranked probe. One pass per run, whatever --seconds says: a second
    * pass in the same JVM would be a warm one. */
  def fullSync(): Unit = {
    setupDone()
    val dir = s"$work/pass"
    tracer.req = "pass"
    val c0 = cpuMark()
    val p = withClass("sync") { syncPass(dir) }
    cpuSample("sync", cpuSince(c0))
    takeCounters("sync")
    // a verification is a handful of small jobs: several for a steady median
    val reads = (1 to Verifications).map(_ => verifyCounts(dir, p))
    probe(dir, p)
    attempted += 2 + Verifications
    val stores = dirBytes(new File(s"$dir/stores")) +
      dirBytes(new File(s"$dir/tickets"))
    val indexes = dirBytes(new File(s"$dir/indexes"))
    e2e.put("write_p50_ms", p.get("pass_s").asDouble * 1000)
    e2e.put("read_p50_ms", median(reads))
    e2e.put("write_cpu_ms", cpuMedian("sync"))
    e2e.put("read_cpu_ms", cpuMedian("count"))
    e2e.put("store_mb", (stores + indexes) / 1048576.0)
    layer.put("sinks.store_mb", stores / 1048576.0)
    layer.put("sinks.index_mb", indexes / 1048576.0)
    layer.put("sinks.index_build_s", p.get("index_s").asDouble)
    layer.put("catalog.entities_s", p.get("entities_s").asDouble)
    layer.put("operators.tickets_s", p.get("tickets_s").asDouble)
    layer.put("sources.input_mb", dirBytes(new File(data)) / 1048576.0)
    result.put("last_pass", dir)
    result.set[JsonNode]("check", p)
  }

  /** Traced full_sync runs only, after every end-to-end figure is taken:
    * the QueryLap queries of the registry, each written in full to
    * Spark's noop sink, once untimed and once timed. The timed lap's
    * DataFrame build and write times are summed; each query's row count
    * is observed on its timed write, for check.py to compare with its
    * oracle SQL in DuckDB. */
  def queryLap(): Unit = {
    def lap(timed: Boolean): Unit = {
      val out = result.putObject("queries")
      var build, exec = 0.0
      withClass("query") {
        QueryLap.foreach { n =>
          tracer.req = s"query.$n"
          val t0 = now()
          val df = tracer("queries.build") { SparkEntry.queries(n)(spark, data) }
          val t1 = now()
          val obs = Observation(s"perfbench_${n}_$timed")
          tracer("queries.exec") {
            df.observe(obs, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
          }
          build += ms(t0, t1)
          exec += ms(t1, now())
          out.putObject(n).put("rows", obs.get("rows").asInstanceOf[Long])
            .put("oracle", SparkEntry.oracleSql(n))
        }
      }
      if (timed) {
        takeCounters("query")
        attempted += QueryLap.size
        layer.put("queries.build_ms", build)
        layer.put("queries.exec_ms", exec)
      } else { counters.drain(); counters.take("query") }
    }
    lap(timed = false) // JIT and codegen of the operator library
    lap(timed = true)
  }

  // -------------------------------------------------------------- serve_mixed

  val readClasses = Set("rank", "scan", "dsl", "get")

  def serveMixed(): Unit = {
    val out = s"$work/serve"
    val t0 = now()
    val counts = EntityCatalog.syncAll(spark, data, out, RunTs)
    require(counts.values.forall(_._1 >= 0), s"sync failed: $counts")
    layer.put("catalog.entities_s", (now() - t0) / 1e9)
    layer.put("sources.input_mb", dirBytes(new File(data)) / 1048576.0)
    val api = new HttpApi(spark, data, out, RunTs, MaxHits)
    val port = api.start(0)
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val plan = Files.readAllLines(Paths.get(o("plan"))).asScala
      .map(mapper.readTree).groupBy(_.get("round").asInt)
    val log = Files.newBufferedWriter(Paths.get(s"$work/responses.jsonl"))
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    def send(q: JsonNode): (Int, String, Double) = {
      val uri = URI.create(s"http://127.0.0.1:$port${q.get("path").asText}")
      val b = HttpRequest.newBuilder(uri)
      val req =
        if (q.get("method").asText == "GET") b.GET().build()
        else {
          val body =
            if (q.has("ndjson")) q.get("ndjson").asText
            else q.get("body").toString
          b.header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        }
      val t0 = now()
      val c0 = cpuMark()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      val t = ms(t0, now())
      cpuSample(q.get("class").asText, cpuSince(c0))
      (r.statusCode, r.body, t)
    }

    def round(r: Int, timed: Boolean): Unit =
      plan(r).zipWithIndex.foreach { case (q, i) =>
        val cls = q.get("class").asText
        tracer.req = s"r$r.$i"
        val (status, body, t) = withClass(cls) {
          tracer(s"serving.http.$cls") { send(q) }
        }
        takeCounters(cls)
        afterOp()
        val rec = mapper.createObjectNode()
        rec.put("round", r).put("i", i).put("class", cls)
          .put("status", status).put("ms", t)
        rec.set[JsonNode]("body", scala.util.Try(mapper.readTree(body))
          .getOrElse(mapper.getNodeFactory.textNode(body)))
        log.write(rec.toString); log.newLine()
        if (timed) {
          attempted += 1
          if (status >= 500) failed += 1
          lat.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += t
        }
        if (traced) {
          sample(s"serving.response_kb.$cls",
            body.getBytes(StandardCharsets.UTF_8).length / 1024.0)
          if (readClasses(cls)) replay(q, out, t)
        }
      }

    round(0, timed = false) // warm-up: every request class once
    val start = setupDone()
    var r = 1
    // whole rounds until the time is up or the plan ends
    while (plan.contains(r) && (r == 1 || (now() - start) / 1e9 < seconds)) {
      round(r, timed = true)
      r += 1
    }
    log.close()
    api.stop()
    result.put("rounds", r) // rounds 0 until r ran; 0 is the warm-up
    e2e.put("write_p50_ms", median(lat("bulk").toSeq))
    e2e.put("read_p50_ms", median(lat("get").toSeq))
    e2e.put("write_cpu_ms", cpuMedian("bulk"))
    e2e.put("read_cpu_ms", cpuMedian("get"))
    e2e.put("store_mb", dirBytes(new File(out)) / 1048576.0)
    Seq("rank", "scan", "dsl").foreach(c =>
      layer.put(s"serving.latency_ms.$c", median(lat(c).toSeq)))
    result.set[JsonNode]("sync_counts", {
      val c = mapper.createObjectNode()
      counts.foreach { case (e, (ok, bad)) => c.putArray(e).add(ok).add(bad) }
      c
    })
    val fc = result.putObject("final_count")
    Seq("customer", "part").foreach(e =>
      fc.put(e, DocumentSink.read(spark, s"$out/$e").count()))
  }

  /** The traced run's direct call of the public function behind one
    * read request: DataFrame build (plan) and capped JSON collect (exec)
    * timed apart; the HTTP time beyond both is serving overhead. */
  def replay(q: JsonNode, out: String, httpMs: Double): Unit = {
    val cls = q.get("class").asText
    val b = q.get("body")
    val t0 = now()
    withClass("replay") {
      val df = tracer(s"serving.plan") {
        cls match {
          case "rank" => tracer("sinks.probe") {
            SearchIndex.ranked(spark, s"$out/_search_index/tables/documents",
              b.get("search_term").asText, Seq("text"), b.get("limit").asInt)
          }
          case "scan" =>
            Search.multiField(Tables(spark, data, "documents"),
              b.get("search_term").asText, Seq("text"), b.get("limit").asInt)
          case "dsl" =>
            val body = b.deepCopy[ObjectNode]()
            body.remove("index")
            EsDsl.searchParts(Tables(spark, data, "orders"), body)._1
          case "get" =>
            val path = s"$out/${q.get("path").asText.split("/")(1)}"
            val gens = Option(new File(s"$path/data_delta").list())
              .map(_.count(_.startsWith("delta-"))).getOrElse(0)
            sample("sinks.delta_gens", gens.toDouble)
            tracer("sinks.read_line") {
              DocumentSink.read(spark, path)
                .filter(col("document_id") === q.get("id").asText)
            }
        }
      }
      val t1 = now()
      tracer("serving.exec") { df.limit(MaxHits + 1).toJSON.collect() }
      val t2 = now()
      sample(s"serving.plan_ms.$cls", ms(t0, t1))
      sample(s"serving.exec_ms.$cls", ms(t1, t2))
      sample(s"serving.http_ms.$cls", math.max(0.0, httpMs - ms(t0, t2)))
      if (cls == "rank") sample("sinks.probe_ms.rank", ms(t0, t2))
      if (cls == "get") sample("sinks.read_line_ms", ms(t0, t2))
    }
    counters.drain()
    counters.take("replay")
    StageCache.releaseAll()
  }
}
