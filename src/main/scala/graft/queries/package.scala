package graft

import org.apache.spark.sql.{ColumnName, DataFrame, SparkSession}

/** The declared queries: one per implemented operator (SURVEY.md §2),
  * runnable on the TPC-H-ish testdata and hash-verifiable
  * against a DuckDB oracle. Each family object exposes `all`;
  * [[QueryRegistry]] lists the families once.
  *
  * Determinism discipline (double arithmetic is order-dependent, and Spark and
  * DuckDB will sum in different orders):
  *   - every SUM/AVG over doubles goes through an exact DECIMAL accumulator
  *     (`Ora.dsum`) — decimal addition is associative, so both engines produce
  *     the identical value regardless of partitioning;
  *   - scalar double math applied afterwards is the same IEEE ops on identical
  *     inputs on both sides;
  *   - computed columns get a final round(6) and an explicit alias matching
  *     the oracle SQL column name;
  *   - every query ends in a total ORDER BY on its key columns.
  */
package object queries {

  /** Table `name` of the testdata directory `dir`. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Core.table(s, dir, name)

  /** Session-scoped memo for relations several queries rebuild identically
    * (an in-memory analogue of a persisted shared index). The outer map is
    * a WeakHashMap keyed on the SparkSession INSTANCE: identity semantics
    * mean a sibling session with different partitioning
    * (PartitionInvarianceSpec) can never collide with another session's
    * checkpointed blocks (an identityHashCode string key could). The inner
    * map is held through a SoftReference: a cached Dataset strongly
    * references its SparkSession (via QueryExecution), so storing it as a
    * plain WeakHashMap VALUE would resurrect the key and pin every
    * session's entries for the JVM lifetime. With the soft indirection an
    * abandoned session is at most softly reachable from this cache, so the
    * GC clears the entry under memory pressure (always before OOM), and
    * the ContextCleaner then unpersists the collected RDDs' checkpoint
    * blocks. The built relation is localCheckpoint-ed: built once per
    * (session, dir), read by every consumer.
    */
  private val relCache = new java.util.WeakHashMap[
    SparkSession, java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]]()
  private[queries] def memoRel(s: SparkSession, dir: String, key: String)
                              (build: => DataFrame): DataFrame = {
    val perSession = relCache.synchronized {
      val ref = relCache.get(s)
      val live = if (ref == null) null else ref.get()
      if (live == null) {
        val m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relCache.put(s, new java.lang.ref.SoftReference(m))
        m
      } else live
    }
    // protectRdds: memo blocks must survive Core.releaseTransientBlocks
    // (the between-queries checkpoint release) — every consumer after the
    // first reads this materialized RDD, and a released localCheckpoint is
    // unrecomputable
    perSession.computeIfAbsent(s"$dir|$key",
      _ => Core.protectRdds(build.localCheckpoint()))
  }

  // sugar so query bodies read like `$"col"`
  private[queries] implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): ColumnName = new ColumnName(sc.s(args: _*))
  }
}
