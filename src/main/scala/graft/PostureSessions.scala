package graft

import org.apache.spark.sql.SparkSession

/** Memoized per-caller session CLONES carrying a fixed runtime-conf
  * posture (AQE off, narrow shuffle width, …) for operators whose inner
  * loops measured a different posture than the session default (q81's
  * recursion, q85's label-propagation loop).
  *
  * Why memoized: `newSession()` builds a fresh SessionState and starts
  * with a cold [[Tables]] read cache — measured ~1.3 s per call at the
  * sf1 point (Q81ShapeProbe: clone-per-call 2.92 s vs reused-clone
  * 1.62 s end-to-end). One clone per (caller, posture) amortizes that to
  * zero across repeated calls, which is exactly a fresh-plan
  * benchmark's methodology and any real pipeline's steady state.
  *
  * Why a clone at all: the scoped posture must never touch the CALLER's
  * session conf — a concurrent query planned on the same session would
  * silently inherit it (round-13 verdict finding). Clones share the
  * SparkContext and shared state; builder-time configs carry over via
  * initialSessionOptions.
  *
  * Callers hand data across sessions via eagerly-inlined global temp
  * views over localCheckpoint'ed plans (see q81/q85) — the clone's temp
  * views are session-local, so concurrent queries using DIFFERENT view
  * names never collide; operators using FIXED view names on a shared
  * posture document single-writer semantics, the same contract they
  * already had on the caller session.
  *
  * FIXED-POSTURE CONTRACT (ADVICE r14): clones are memoized per
  * (caller, posture map) and live as long as the caller session — each
  * distinct posture map permanently allocates a full SessionState. That is
  * the point (amortization) for the small fixed set of literal postures
  * operators declare, but a caller passing COMPUTED posture maps (e.g. a
  * data-derived partition count baked into the map value) would leak one
  * SessionState per distinct value for the application lifetime. The
  * per-caller bound below turns that mistake into a fast failure instead
  * of a slow leak; data-derived knobs belong on the query plan (hints,
  * repartition) or inside a fixed posture's operator body, not in the
  * posture key.
  */
object PostureSessions {
  /** Max distinct postures per caller session. Generous vs today's usage
    * (the two loop postures plus the replay posture's small fixed
    * knob-combination space — noDataMicroBatches x state-store provider,
    * keyed since r16 so concurrent replays never race a shared clone)
    * while small enough that an accidentally computed posture key fails
    * within seconds, not after hours of SessionState accretion.
    */
  private val MaxPosturesPerCaller = 12

  private val cache =
    new SessionMemo(scala.collection.mutable.Map.empty[Map[String, String], SparkSession])

  def apply(caller: SparkSession, posture: Map[String, String]): SparkSession = {
    val perCaller = cache(caller)
    // The caller's own lock covers the bound check and the clone creation,
    // so two threads never build two clones of one posture.
    perCaller.synchronized {
      perCaller.getOrElseUpdate(posture, {
        require(perCaller.size < MaxPosturesPerCaller,
          s"PostureSessions: caller already holds ${perCaller.size} memoized " +
            "posture clones — posture maps must be a small FIXED set of " +
            "literals (see the fixed-posture contract in the scaladoc); a " +
            "computed posture key leaks one SessionState per distinct value")
        val s2 = caller.newSession()
        posture.foreach { case (k, v) => s2.conf.set(k, v) }
        // A fresh SessionState starts with an EMPTY session function
        // registry: frames built on the clone must resolve the graft_*
        // natives regardless of which session earlier code registered
        // them on (idempotent; covers sessions launched without
        // spark.sql.extensions).
        graft.expressions.GraftFunctions.registerAll(s2)
        s2
      })
    }
  }
}
