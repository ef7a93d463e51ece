package graft

import org.apache.spark.sql.SparkSession

/** Process-wide REFERENCE-COUNTED overlay of a fixed set of session confs,
  * one instance per purpose (the lake's write-side confs, the ingest
  * trigger's planner confs), keyed per session inside.
  *
  * Session confs are global to a SparkSession, and the scoped work
  * legitimately runs concurrently — a plain per-call save/restore lets one
  * caller's restore fire while another's work is mid-flight, and worse, a
  * later entrant "saves" the FIRST caller's override as the previous value
  * and re-installs it forever (observed: a leaked TIMESTAMP_MICROS silently
  * changed the application's own parquet output format). The first entrant
  * captures the application's real values; only the last exit restores
  * them. Concurrent entrants share the first entrant's values — every
  * caller of one purpose wants the same ones.
  *
  * Purposes must not share an instance: the inner entrant of a second
  * purpose would find the depth already raised and never apply its keys. */
private[graft] final class ConfScope(keys: Seq[(String, String)]) {
  private final class State {
    var depth = 0
    var saved: Seq[(String, Option[String])] = Nil
  }
  /** Weakly held per session (tests spin up fresh sessions). */
  private val states = new java.util.WeakHashMap[SparkSession, State]()

  def apply[T](spark: SparkSession)(f: => T): T = {
    val st = states.synchronized(states.computeIfAbsent(spark, _ => new State))
    st.synchronized {
      if (st.depth == 0) {
        st.saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
        keys.foreach { case (k, v) => spark.conf.set(k, v) }
      }
      st.depth += 1
    }
    try f finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) {
        st.saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        st.saved = Nil
      }
    }
  }
}
