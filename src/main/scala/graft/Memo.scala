package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one memo for session artifacts — snapshot fixtures, persisted
  * indexes, gate artifacts, trained models, table layouts — safe under
  * CONCURRENT first invocations: the bench warms independent queries
  * from a thread pool (guide §2.6 — overlapping independent jobs is
  * how the fixture-build cold start stops eating the warmup window),
  * and queries sharing an artifact must build it exactly once with
  * every other caller WAITING for the build — a check-then-act flag
  * (`if (set.add(key)) build()`) lets the second query race past into
  * a half-written artifact.
  *
  * One process-wide cache keyed by (applicationId, name, key), the
  * application id taken from the caller's session: unique per
  * SparkContext and never reused, so a stopped context's artifacts are
  * never served to a new one, while sessions sharing a context share
  * them. Semantics of `Memo(spark, name, key)(build)`:
  *  - `build` runs at most once per key (until it succeeds);
  *  - concurrent callers for the same key BLOCK until the build
  *    completes, then read the cached value;
  *  - a build that THROWS caches nothing — the next caller retries;
  *  - builds for DIFFERENT keys never block each other (per-key
  *    locks), including a build that itself memoizes another key
  *    (the ANN rebuild fixture cloning the appended fixture cloning
  *    the base index). A same-key reentrant build would be infinite
  *    recursion in the caller either way;
  *  - a key's lock lives only while a build of it is in flight;
  *  - a miss first drops the entries of stopped contexts, whose
  *    cached blocks died with their executors.
  */
object Memo {

  private type Key = (String, String, Any)
  private final case class Entry(sc: SparkContext, value: Any)

  private val cache = scala.collection.concurrent.TrieMap.empty[Key, Entry]
  private val locks = new java.util.concurrent.ConcurrentHashMap[Key, Object]()

  def apply[V](spark: SparkSession, name: String, key: Any)(build: => V): V = {
    val sc = spark.sparkContext
    val k: Key = (sc.applicationId, name, key)
    var hit = cache.get(k)
    while (hit.isEmpty) {
      evictStopped()
      val lock = locks.computeIfAbsent(k, _ => new Object)
      hit = lock.synchronized {
        // a holder that finished before us retired this lock: look again
        if (locks.get(k) ne lock) None
        else try Some(cache.getOrElse(k, {
          val e = Entry(sc, build)
          cache.put(k, e)
          e
        })) finally locks.remove(k, lock)
      }
    }
    hit.get.value.asInstanceOf[V]
  }

  /** [[apply]] for a fixture whose first call bootstraps it and whose
    * later calls do real repeat work: runs `build` once per key and
    * returns true to the one call that ran it.
    */
  def bootstrap(spark: SparkSession, name: String, key: Any)(build: => Unit): Boolean = {
    val mine = new Object
    apply(spark, name, key) { build; mine } eq mine
  }

  /** A session artifact directory: the stable
    * [[graft.sources.TmpDir.scoped]] path of (name, session, key),
    * emptied, then filled by `build` once per key. Emptying first means
    * a retry after a failed build never writes over its leftovers.
    */
  def dir(spark: SparkSession, name: String, key: String)(build: String => Unit): String =
    apply(spark, name, key) {
      val d = graft.sources.TmpDir.scoped(name, spark.sparkContext.applicationId, key)
      val p = new Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      build(d)
      d
    }

  /** Write-through: replace the value of a key outright. Only for an
    * operator that always recomputes an artifact and publishes the
    * fresh one to the key's readers (`Dedup.clusters`).
    */
  def put[V](spark: SparkSession, name: String, key: Any, value: V): V = {
    val sc = spark.sparkContext
    cache.put((sc.applicationId, name, key), Entry(sc, value))
    value
  }

  /** The cached value of a key, if any (tests). */
  private[graft] def peek(spark: SparkSession, name: String, key: Any): Option[Any] =
    cache.get((spark.sparkContext.applicationId, name, key)).map(_.value)

  /** Keys whose build is in flight (tests: the lock map drains). */
  private[graft] def pending: Int = locks.size

  private def evictStopped(): Unit =
    cache.foreach { case (k, e) => if (e.sc.isStopped) cache.remove(k, e) }
}
