package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** The session memo: the one place shared subplans (bars, shingles, LSH
  * pools, portfolio stats, ...) are built once and reused.
  *
  * Contract:
  *  - '''Keys are values''': a tuple of the owner's name, the session,
  *    the dataset and the build's parameters, e.g.
  *    `("Bars.ohlcv", s, d, seconds)`. A key never holds a DataFrame
  *    (object identity would make every fresh frame a new entry); a
  *    canonicalized plan may stand in for the dataset.
  *  - '''One build per key''': concurrent first callers wait for the one
  *    build in flight and share its result. Builds may read other memos
  *    (each key has its own lock, and memo dependencies form a DAG). A
  *    build that throws leaves no entry, so the next call retries.
  *  - '''One release path''': every entry is registered for
  *    [[invalidateAll]] (and [[evict]]), which runs its release. Entries
  *    are never invalidated implicitly — correct for immutable datasets,
  *    a stale-read hazard for a long-lived session over mutable paths,
  *    which calls [[invalidateAll]] after rewriting its inputs.
  *
  * A [[frame]] is stored in one of three forms chosen per site. A cache
  * layer fills on the entry's first use, as Spark's own `cache()` does;
  * a checkpoint is written when the build returns.
  *  - [[Cache]] keeps lineage: a lost block recomputes from the build's
  *    plan.
  *  - [[Pin]] cuts lineage with a local checkpoint, so consumers analyze
  *    a scan instead of the build's whole plan. A lost checkpoint block
  *    FAILS the consumer (there is no lineage to recompute from).
  *  - [[Layout]] hash-partitions and sorts for the consumers' clustering
  *    before caching, so they elide their own Exchange and Sort. It is
  *    cache-based because a checkpointed scan advertises no partitioning
  *    (Spark plans a consumer's exchange over it again).
  */
object Memo {

  /** How a memo frame is materialized. */
  sealed trait Form

  /** `cache()`: lineage kept, lost blocks recompute. */
  case object Cache extends Form

  /** Lineage cut by `localCheckpoint`. Without it every consumer query
    * re-analyzes the memo's full build plan on every call (the IVF-PQ
    * explain was 27.5k lines of re-inlined k-means before the cut). A
    * bare checkpoint scan has no size statistics (its estimate is
    * "huge"), so a cache layer on top restores them — but it doubles the
    * resident footprint and only changes planning for frames small
    * enough to broadcast. So the layer is added only when the
    * checkpoint's blocks are within the session's
    * `spark.sql.autoBroadcastJoinThreshold` (none when that is <= 0).
    */
  case object Pin extends Form

  /** Hash-partitioned by `part`, sorted within partitions by `sort`, then
    * cached. `InMemoryRelation` keeps the child's outputPartitioning and
    * outputOrdering, so a consumer whose window/aggregate clusters by a
    * prefix of `part` (ordered by `sort`) elides its own Exchange and
    * Sort; the fill pays that exchange once. Values are unchanged (only
    * row order moves, and every registered query ends in its own total
    * order).
    */
  final case class Layout(part: Seq[String], sort: Seq[String]) extends Form

  private final class Entry(key: Product, release: Any => Unit) {
    private var result: Option[Any] = None // guarded by this
    private var dead = false               // guarded by this

    /** The built value, building it if needed; None if the entry was
      * evicted while this caller waited (the caller looks the key up
      * again).
      */
    def get(build: () => Any): Option[Any] = synchronized {
      if (dead) None
      else {
        if (result.isEmpty) {
          try result = Some(build())
          catch { case t: Throwable => dead = true; entries.remove(key, this); throw t }
        }
        result
      }
    }

    def isBuilt: Boolean = synchronized(result.isDefined)

    def kill(): Unit = synchronized {
      dead = true
      result.foreach(release)
      result = None
    }
  }

  private val entries = new ConcurrentHashMap[Product, Entry]()

  private def checkKey(key: Product): Unit = {
    require(key.productArity > 0 && key.productElement(0).isInstanceOf[String],
      s"memo key must start with its owner's name: $key")
    require(!key.productIterator.exists(_.isInstanceOf[Dataset[_]]),
      s"memo key ${key.productElement(0)} holds a DataFrame; key on values")
  }

  /** A memoized non-frame value (reader plans, frame tuples, catalog
    * layouts); `release` runs on eviction.
    */
  def value[V](key: Product, release: V => Unit)(build: => V): V = {
    checkKey(key)
    var out: Option[Any] = None
    while (out.isEmpty) {
      val e = entries.computeIfAbsent(key,
        k => new Entry(k, v => release(v.asInstanceOf[V])))
      out = e.get(() => build)
    }
    out.get.asInstanceOf[V]
  }

  /** A memoized frame, stored in `form`. */
  def frame(key: Product, form: Form)(build: => DataFrame): DataFrame =
    value[DataFrame](key, release)(materialize(build, form))

  /** [[frame]] for a build that caches interior frames of its own
    * (`build` returns the result and those frames): they are unpersisted
    * once the entry is materialized. They must keep live lineage, so an
    * evicted `Cache` entry recomputes through them.
    */
  def staged(key: Product, form: Form)(build: => (DataFrame, Seq[DataFrame])): DataFrame =
    value[DataFrame](key, release) {
      val (df, interior) = build
      val r = materialize(df, form)
      // fill the entry before its interior frames go
      try r.count() catch { case t: Throwable => release(r); throw t }
      interior.foreach(_.unpersist(blocking = false))
      r
    }

  /** Whether `key` holds a built entry (no build is started). */
  def contains(key: Product): Boolean =
    Option(entries.get(key)).exists(_.isBuilt)

  /** Drop one entry and run its release. */
  def evict(key: Product): Unit =
    Option(entries.remove(key)).foreach(_.kill())

  /** Drop every entry and run its release. */
  def invalidateAll(): Unit =
    entries.keySet.forEach(k => evict(k))

  private def materialize(df: DataFrame, form: Form): DataFrame = form match {
    case Cache => df.cache()
    case Pin => pin(df)
    case Layout(part, sort) =>
      df.repartition(part.map(col): _*).sortWithinPartitions(sort.map(col): _*).cache()
  }

  private def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def pin(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val ids = checkpointRdds(ck).map(_.id).toSet
    val bytes = ck.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
    val ceiling = ck.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (ceiling > 0 && bytes <= ceiling) ck.cache() else ck
  }

  /** Release a DataFrame: `unpersist` covers the CacheManager, and the
    * checkpoint RDDs under the plan's `LogicalRDD` leaves are unpersisted
    * directly (the CacheManager does not track them, so `unpersist` alone
    * leaves a pinned frame's blocks resident until GC).
    */
  def release(df: DataFrame): Unit = {
    try df.unpersist() catch { case NonFatal(_) => () }
    try checkpointRdds(df).foreach { rdd =>
      try rdd.unpersist(blocking = false) catch { case NonFatal(_) => () }
    } catch { case NonFatal(_) => () }
  }
}
