package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session materialization cache for derived tables.
  *
  * The reference materializes chunks/nodes/edges ONCE at ingest and
  * every query reads the tables (sql/01_create_schema.sql); our
  * oracle queries instead re-derive them from raw documents so each
  * query is self-contained. Without sharing, eight KG queries in one
  * session each pay the full chunk→extract pipeline. This cache
  * gives the production shape back: the first query materializes a
  * derivation (persisted), later queries in the same session reuse
  * it. Entries are just persisted DataFrames — if something
  * unpersists them (Bench/Verify hygiene, memory pressure) the plans
  * transparently recompute, so correctness never depends on the cache.
  *
  * Keyed by the session OBJECT (identity, not hashCode — two live
  * sessions can never collide). Note a weak-key map would NOT give
  * automatic cleanup here: the cached DataFrames strongly reference
  * their SparkSession, which would pin the weak key forever. Instead
  * every access purges entries whose underlying SparkContext has
  * stopped, and [[invalidate]] gives explicit eviction for callers
  * that tear sessions down deterministically.
  */
object Derived {

  private val cache =
    new java.util.IdentityHashMap[SparkSession, java.util.HashMap[(String, String), DataFrame]]()

  private def purgeStopped(): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val stopped = try e.getKey.sparkContext.isStopped catch { case _: Throwable => true }
      if (stopped) it.remove()
    }
  }

  def of(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val perSession = cache.synchronized {
      purgeStopped()
      var m = cache.get(spark)
      if (m == null) { m = new java.util.HashMap[(String, String), DataFrame](); cache.put(spark, m) }
      m
    }
    // Derivations nest (edges → ents → chunks), so `build` re-enters
    // this method for the same session. computeIfAbsent would throw
    // "Recursive update" on a bin collision; a reentrant monitor with
    // explicit get/put handles nesting. The lock only covers lazy
    // plan CONSTRUCTION (no Spark jobs), so it is cheap and
    // deadlock-free.
    perSession.synchronized {
      val existing = perSession.get((dir, name))
      if (existing != null) existing
      else {
        logBuild(name)
        val df = build.persist()
        perSession.put((dir, name), df)
        df
      }
    }
  }

  /** Atomic multi-entry variant of [[of]] for callers caching the
    * COUPLED outputs of one computation (an index's centroids +
    * assignments): either every entry comes from the cache or every
    * entry comes from `built` — never a torn mix of two training
    * runs (float-trained models can differ in the last ulp between
    * runs, so centroids from run A with assignments from run B would
    * be silently inconsistent). `built` frames must be pre-computed
    * (the lock only persists/stores them).
    */
  def ofAll(spark: SparkSession, dir: String,
            entries: Seq[(String, DataFrame)]): Seq[DataFrame] = {
    val perSession = cache.synchronized {
      purgeStopped()
      var m = cache.get(spark)
      if (m == null) { m = new java.util.HashMap[(String, String), DataFrame](); cache.put(spark, m) }
      m
    }
    perSession.synchronized {
      val existing = entries.map { case (n, _) => Option(perSession.get((dir, n))) }
      if (existing.forall(_.isDefined)) existing.map(_.get)
      else entries.map { case (n, df) =>
        // all-or-nothing under ONE lock hold: as long as these names
        // are only ever written through this call site, a loser of a
        // build race finds either the full winning set (branch above)
        // or nothing, and installs its own complete set here
        logBuild(n)
        val p = df.persist()
        perSession.put((dir, n), p)
        p
      }
    }
  }

  /** Non-building lookup: lets callers whose `build` would RUN JOBS
    * (index training, fixpoint loops) check for a cached entry first,
    * do the expensive work outside any lock, and only then hand the
    * finished frames to [[of]] — preserving the no-jobs-under-lock
    * invariant. Losing a build race wastes work but stays correct
    * ([[of]] keeps the first entry). */
  def peek(spark: SparkSession, dir: String, name: String): Option[DataFrame] = {
    val m = cache.synchronized(cache.get(spark))
    if (m == null) None
    else Option(m.synchronized(m.get((dir, name))))
  }

  /** Unpersist and drop everything cached for one session. */
  def invalidate(spark: SparkSession): Unit = {
    val m = cache.synchronized(cache.remove(spark))
    if (m != null) m.synchronized {
      m.values.forEach { df =>
        try df.unpersist() catch { case _: Throwable => }
      }
    }
  }

  // -------------------------------------------------------------
  // First-touch accounting (Bench's attribution witness): a shared
  // derivation's BUILD cost lands inside whichever timed query first
  // forces it, so a per-query time can move between runs with zero
  // code diff purely because retime-set membership moved the charge
  // (measured round 13: v24 1.3 s warm vs 2.9 s when it pays the
  // learned-index training). Every cache MISS is logged here;
  // Bench slices the log per timed query and emits the map, so a
  // "regression" whose first-touch keys differ between runs is
  // attribution, not drift — readable from the JSON alone.
  // -------------------------------------------------------------
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  private def logBuild(name: String): Unit = { buildLog.add(name); () }

  /** Number of cache-miss build registrations so far (a cursor). */
  def buildCount: Int = buildLog.size()

  /** Build keys registered since cursor `from` (exclusive prefix). */
  def buildsSince(from: Int): Seq[String] = {
    val it = buildLog.iterator()
    val all = Seq.newBuilder[String]
    while (it.hasNext) all += it.next()
    all.result().drop(from)
  }
}
