package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Deterministic release for caches created inside LAZY query builders.
  *
  * A `queries()` entry returns an unevaluated plan; when that plan needs
  * a persisted stage boundary (e.g. the scrub+score subtree of
  * `pipeline_curation_full`, consumed by five downstream branches), the
  * builder cannot unpersist it — the cache must outlive the builder and
  * serve the caller's eventual action. Relying on ContextCleaner's
  * reference tracking works in batch but is nondeterministic: in a
  * long-lived serving or bench session, repeated invocations ratchet
  * block-manager footprint until a GC happens to run, and a later
  * identical plan can silently warm-start off a leaked cache — the exact
  * bench-flattering artifact the round-6 `dedup_components` fix removed.
  *
  * Contract: builders persist through [[stage]]; whoever OWNS the
  * query lifecycle releases. A harness that runs one query at a time
  * (Verify after each dump, Bench after each timed action) calls
  * [[releaseAll]] once the action is done. A server runs requests
  * concurrently, so each request runs inside [[scoped]] and releases
  * only the stages it created — never a concurrent request's
  * still-needed stage. Unpersist is blocking=false — executors drop
  * blocks asynchronously; correctness never depends on a cache.
  */
object StageCache {
  /** The owner of a staged frame: the global queue, or one [[scoped]]
    * block. */
  private final class Scope
  private val Global = new Scope
  private val current = ThreadLocal.withInitial[Scope](() => Global)
  private val live = new ConcurrentLinkedQueue[(Scope, DataFrame)]()

  /** Persist `df` at `level` and register it with the calling thread's
    * [[scoped]] block, or for the next [[releaseAll]] outside one.
    * Returns the SAME frame reference (Spark matches cached plans by
    * analyzed-plan equality on this reference). */
  def stage(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    live.add((current.get, p))
    p
  }

  /** Run `body`; the stages it creates on this thread are released
    * when it returns or throws, and no others. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val mine = new Scope
    current.set(mine)
    try body
    finally {
      current.set(outer)
      release(mine)
    }
  }

  /** Unpersist every staged frame registered outside any [[scoped]]
    * block since the last call. Safe to call at any query boundary —
    * double-unpersist is a no-op. */
  def releaseAll(): Unit = release(Global)

  private def release(owner: Scope): Unit =
    live.removeIf { case (o, df) =>
      (o eq owner) && { df.unpersist(blocking = false); true }
    }

  /** Staged frames awaiting release (spec observability). */
  def liveCount: Int = live.size()
}
