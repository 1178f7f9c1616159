package graft

import org.apache.spark.sql.SparkSession

/** Canonical engine session factory. One place for the settings every
  * entrypoint (Verify, Bench, tests, serving) must agree on:
  *
  *  - `local[32]` / 32 shuffle partitions by default: the harness runs a
  *    single-JVM 32-thread "cluster"; at real scale these become
  *    `spark.executor.instances` × cores and a shuffle partition count
  *    sized to ~128 MB per task (AQE coalesces the rest).
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle
  *    and the reference's `utcnow()` stamping (reference:
  *    src/ticket_sync.py:89).
  *  - `nanosAsLong`: the testdata `events.ts` column is parquet
  *    TIMESTAMP(NANOS), which Spark has no native type for; we read it as
  *    nanos-since-epoch LongType (ordering-compatible with DuckDB's
  *    timestamp_ns).
  *  - AQE on (default in Spark 4) with skew-join handling — at 100 TB the
  *    fact-side shuffles must survive key skew without manual salting.
  */
object GraftSession {
  /** Local parallelism: `SPARK_GRAFT_CPUS`, read and checked once;
    * 32 when unset. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer, or a failure that names the variable — a bad
    * value must not reach `local[...]` or a bench JSON line. */
  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => 32
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def apply(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // default 10 MB broadcast threshold, deliberately NOT raised: every
      // dimension table (region…customer/part) fits under it, while a
      // raised threshold makes the planner broadcast the *fact* side of
      // orders⋈lineitem-class joins — a single-threaded driver-side hash
      // relation build that thrashes the driver heap at bench scale and
      // would be catastrophic on a real cluster
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOT raised: spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // (default 128). Measured r19: raising it to 131072 made every
      // collect_set/collect_list query SLOWER (nested_query 1.50→2.53 s,
      // nested_agg 2.02→2.84 s, a2_group_to_array 0.52→0.92 s at sf0.1,
      // best-of-3) — a large hash map of per-group set buffers loses to
      // the sort-based fallback's streaming, one-group-at-a-time
      // locality. The "sort fallback" is the better regime here, not a
      // cliff.
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
