package graft

/** Test-only kill-point seam for the admission loops' crash-replay
  * sweeps (r12), and the loops' only crash seam: every durable-effect
  * boundary in a micro-batch (corpus append, each sub-table manifest
  * commit, group publish, funnel filing, pipeline publish) calls
  * [[reach]] with the path it is about to mutate, and an armed test
  * kills the batch at boundary #k — so one parameterized spec sweeps
  * EVERY window a real job death can land in, and a replay test kills
  * between corpus append and index extend by arming boundary #1 under
  * the index path. (`Sinks.VersionedTable.beforeGroupPublishHook` is a
  * different seam: it injects a concurrent writer into the group
  * publish window instead of killing the batch.)
  *
  * Scoping: [[arm]] takes a path PREFIX (the test's temp dir), so
  * boundaries of unrelated artifacts — other suites running in the same
  * JVM, the production path (never armed) — neither count nor kill.
  *
  * Production inertness: the whole seam is gated behind the
  * `graft.failpoints` system property (set by `Test / javaOptions` in
  * build.sbt, nowhere else). In a deployment JVM the gate is a static
  * final false — [[reach]] folds to a no-op, and a stray [[arm]] (e.g.
  * test code leaking onto a production classpath) refuses loudly
  * instead of arming a kill against live commits.
  */
object FailPoint {

  private val enabled: Boolean = java.lang.Boolean.getBoolean("graft.failpoints")

  @volatile private var prefix: String = ""
  @volatile private var armed: Int = Int.MaxValue
  private val seen = new java.util.concurrent.atomic.AtomicInteger(0)

  final class Killed(n: Int, tag: String)
    extends RuntimeException(s"failpoint: killed at boundary #$n ($tag)")

  private[graft] def reset(): Unit = { prefix = ""; armed = Int.MaxValue; seen.set(0) }

  /** Count boundaries under `pathPrefix` without killing — the probe
    * mode a sweep uses to learn how many windows one batch has. */
  private[graft] def record(pathPrefix: String): Unit = {
    require(enabled, "FailPoint.record: -Dgraft.failpoints=true not set " +
      "(test-only seam; refuse rather than silently never count)")
    prefix = pathPrefix; armed = Int.MaxValue; seen.set(0)
  }

  /** Kill at the `n`-th boundary under `pathPrefix` (1-based). */
  private[graft] def arm(pathPrefix: String, n: Int): Unit = {
    require(n >= 1, "FailPoint.arm: boundaries are 1-based")
    require(enabled, "FailPoint.arm: -Dgraft.failpoints=true not set " +
      "(test-only seam; refuse rather than silently never kill)")
    prefix = pathPrefix; armed = n; seen.set(0)
  }

  /** Boundaries seen since the last [[record]]/[[arm]]. */
  private[graft] def count: Int = seen.get()

  /** Called by every durable-effect site with the path it is about to
    * mutate. Throws [[Killed]] when this is the armed boundary. */
  private[graft] def reach(path: String): Unit = {
    if (!enabled) return
    val p = prefix
    if (p.nonEmpty && path.startsWith(p)) {
      val n = seen.incrementAndGet()
      if (n == armed) throw new Killed(n, path)
    }
  }
}
