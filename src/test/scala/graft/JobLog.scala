package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Logs the Spark jobs the listener bus delivers: how many started, and
  * how many of them ran outside any SQL execution (no
  * `spark.sql.execution.id`, e.g. a parquet footer read that infers a
  * schema). [[drained]] waits until every event posted before the call
  * has been delivered (a marker job's start), then answers the job
  * count; read [[withoutExecutionId]] after it. */
class JobLog(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger()
  private val bare = new AtomicInteger()
  private val marks = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty("graft.spec.mark") != null))
      marks.incrementAndGet()
    else {
      jobs.incrementAndGet()
      if (!props.exists(_.getProperty("spark.sql.execution.id") != null))
        bare.incrementAndGet()
    }
    ()
  }

  def drained(): Int = {
    val m = marks.get
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.mark", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("graft.spec.mark", null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (marks.get == m && System.nanoTime() < deadline) Thread.sleep(5)
    assert(marks.get > m, "listener bus did not drain")
    jobs.get
  }

  def withoutExecutionId: Int = bare.get
}
