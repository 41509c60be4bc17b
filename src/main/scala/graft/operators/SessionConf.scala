package graft.operators

import org.apache.spark.sql.SparkSession

/** The one place this package's operators override session conf.
  * ObjectHashAggregateExec reads its sort-fallback threshold, and the
  * planner reads `spark.sql.adaptive.enabled`, from the ACTIVE session
  * conf when a plan executes, so callers materialize eagerly inside
  * [[scoped]]. `StreamingOps.withFeedShards` is the one documented
  * exception (see there). */
private[graft] object SessionConf {
  val FallbackThreshold =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val Adaptive = "spark.sql.adaptive.enabled"

  /** Serializes every scope: two threads sharing one SparkSession
    * could otherwise interleave captures and restores so the LAST
    * restore resurrects the other scope's override (e.g. a 4M fallback
    * threshold leaking to KB-buffer aggregates, an OOM hazard).
    * Reentrant, so a build's inner measurement scopes nest freely. */
  private val lock = new Object

  /** Runs `body` with each `key -> value` set on `s`, then restores
    * every key whether `body` returns or throws: re-set if it was set
    * before, unset if not. Prior values come from `getAll` (explicitly
    * set keys only); `getOption` answers a registered key's default. */
  def scoped[T](s: SparkSession, settings: (String, String)*)(body: => T): T =
    lock.synchronized {
      val set = s.conf.getAll
      val prior = settings.map { case (k, _) => k -> set.get(k) }
      try {
        settings.foreach { case (k, v) => s.conf.set(k, v) }
        body
      } finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
}
