package graft

import org.apache.spark.sql.SparkSession

/** One value per live [[SparkSession]], created on first use: the engine's
  * only way to keep state across calls that belongs to a session.
  *
  * Keyed on the session OBJECT in a `WeakHashMap`. `SparkSession` keeps
  * identity equality, so two sessions never share a value. A session's
  * identity hash code is no key: it is only a hash, it collides once the GC
  * reuses addresses, and a memo keyed on it could serve one session
  * another's state.
  *
  * The memo's lock is held only to find or create a session's value, so
  * `init` must be cheap: an empty container, never a Spark job or a
  * `newSession()`. Callers that need atomicity across several steps take the
  * value's own lock (or one of their own) for it.
  *
  * There is no release step. A value that holds no reference to its session
  * is dropped once the session is collected; a value that does (a
  * DataFrame's `sparkSession`, as in [[Tables]]) keeps its session, and so
  * itself, alive for the JVM's life. No engine path stops a session before
  * its JVM exits.
  */
final class SessionMemo[V <: AnyRef](init: => V) {
  private val bySession = new java.util.WeakHashMap[SparkSession, V]()

  def apply(s: SparkSession): V = bySession.synchronized {
    val v = bySession.get(s)
    if (v != null) v
    else {
      val created = init
      bySession.put(s, created)
      created
    }
  }
}
