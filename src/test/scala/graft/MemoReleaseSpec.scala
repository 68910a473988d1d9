package graft

import org.scalatest.funsuite.AnyFunSuite

/** ADVICE r15 (Micro.scala:123): Dataset.unpersist is a no-op for
  * localCheckpoint-materialized memo frames — only the CacheManager is
  * consulted, not the RDD-level persistence the checkpoint installed.
  * Memo's release walks the LogicalRDD leaves and unpersists their RDDs;
  * this spec proves invalidateAll actually frees the blocks (before the
  * fix, the checkpointed RDDs stayed in getPersistentRDDs until GC).
  */
class MemoReleaseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  test("invalidateAll frees checkpoint-materialized memo blocks") {
    Memo.invalidateAll()
    // give the (synchronous) unpersists a beat, then snapshot
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // fill several checkpoint-backed memos (bag-of-words, idf, cum ticks)
    SparkEntry.queries("q_tfidf_topterms")(spark, sf).count()
    SparkEntry.queries("q_dollar_bars")(spark, sf).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty,
      "memo fill must persist checkpoint RDDs (otherwise this spec tests nothing)")
    Memo.invalidateAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = during.intersect(after)
    assert(leaked.isEmpty,
      s"invalidateAll left ${leaked.size} checkpointed RDD(s) persistent: $leaked")
  }

  /** r17 size-adaptive pin (guide §5): the statistics-restoring cache
    * layer doubles a memo's resident footprint and only changes planning
    * for broadcast-sized frames, so Pin adds it solely under the
    * session's spark.sql.autoBroadcastJoinThreshold. Both branches must
    * still truncate lineage (the whole point of Pin) and stay releasable.
    */
  test("pin caches small frames, skips the cache layer above the ceiling") {
    import org.apache.spark.storage.StorageLevel
    def mkFrame() = spark.range(0, 1000).selectExpr("id", "id * 2 as v")
    val smallKey = ("MemoReleaseSpec.small", spark)
    val bigKey = ("MemoReleaseSpec.big", spark)
    val small = Memo.frame(smallKey, Memo.Pin)(mkFrame())
    assert(small.storageLevel != StorageLevel.NONE,
      "a frame under the ceiling must keep the statistics cache layer")
    assert(small.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.nonEmpty, "pin must truncate lineage to a checkpoint leaf")
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    val big = try Memo.frame(bigKey, Memo.Pin)(mkFrame())
              finally spark.conf.set(conf, prev)
    assert(big.storageLevel == StorageLevel.NONE,
      "a frame above the ceiling must not add the second resident copy")
    assert(big.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
    }.nonEmpty, "the uncached branch still truncates lineage")
    assert(big.count() == 1000 && small.count() == 1000)
    Memo.evict(smallKey); Memo.evict(bigKey)
  }

  /** r17 Memo.Layout (guide §2.4): a memo cached pre-partitioned by its
    * consumers' clustering key and pre-sorted by their window order must
    * (a) hold exactly the same rows and (b) let a symbol-window consumer
    * plan WITHOUT a shuffle before the window — the session-memo analog
    * of a bucketed+sorted table. Guards the layout against a Spark
    * upgrade silently dropping cached-plan partitioning propagation.
    * The pinned input records why Layout stays cache-based: a
    * checkpointed scan does not advertise the symbol repartition it was
    * built from, so its consumer plans its own hash exchange.
    */
  test("layout elides the consumer window's exchange and keeps values") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def mkBars() = spark.range(0, 400).selectExpr(
      "concat('S', id % 7) as symbol", "id as bucket_ms", "(id * 37 % 100) as close")
    val plainKey = ("MemoReleaseSpec.plain", spark)
    val laidKey = ("MemoReleaseSpec.laid", spark)
    val pinnedKey = ("MemoReleaseSpec.pinned", spark)
    val plain = Memo.frame(plainKey, Memo.Cache)(mkBars())
    val laid = Memo.frame(laidKey,
      Memo.Layout(Seq("symbol"), Seq("symbol", "bucket_ms")))(mkBars())
    val pinned = Memo.frame(pinnedKey, Memo.Pin)(mkBars().repartition(32, col("symbol")))
    val w = Window.partitionBy("symbol").orderBy("bucket_ms")
    def consume(src: org.apache.spark.sql.DataFrame) = src
      .withColumn("mm", max("close").over(w.rowsBetween(-3, 0)))
      .orderBy("symbol", "bucket_ms")
    val a = consume(plain).collect().toSeq
    assert(a == consume(laid).collect().toSeq, "layout must not change values or output order")
    assert(a == consume(pinned).collect().toSeq, "pin must not change values or output order")
    // the consumer's part of the executed plan: everything above the memo scan
    def aboveScan(df: org.apache.spark.sql.DataFrame): String = {
      df.queryExecution.toRdd.count() // finalize AQE
      df.queryExecution.executedPlan.toString
        .split("InMemoryRelation|Scan ExistingRDD").head
    }
    def shufflesBelowWindow(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange (hash|range)partitioning".r.findAllIn(aboveScan(df)).length
    val plainEx = shufflesBelowWindow(consume(plain))
    val laidEx = shufflesBelowWindow(consume(laid))
    assert(laidEx < plainEx,
      s"laid consumer must shuffle less than plain ($laidEx vs $plainEx)")
    assert(laidEx == 1, s"laid consumer should keep only the final sort exchange, saw $laidEx")
    assert(aboveScan(consume(pinned)).contains("Exchange hashpartitioning"),
      "a checkpointed memo advertises no partitioning: its consumer keeps its hash exchange")
    Seq(plainKey, laidKey, pinnedKey).foreach(Memo.evict)
  }

  /** Single-flight: concurrent first callers of one memo share one build,
    * and every RDD the fill persisted is released by invalidateAll (a
    * losing concurrent build used to stay resident, unregistered). A
    * build that throws leaves no entry, so the next call retries.
    */
  test("concurrent first callers share one build and leak nothing") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    Memo.invalidateAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val builds = new AtomicInteger()
    val key = ("MemoReleaseSpec.singleFlight", spark)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val results = try {
      val calls = (1 to 4).map { _ =>
        pool.submit(new Callable[(org.apache.spark.sql.DataFrame, Long)] {
          def call() = {
            go.await()
            val m = Memo.frame(key, Memo.Pin) {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the others arrive
              spark.range(0, 1000).selectExpr("id")
            }
            (m, SparkEntry.queries("q_ml_features")(spark, sf).count())
          }
        })
      }
      go.countDown()
      calls.map(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(builds.get == 1, s"the memo was built ${builds.get} times")
    assert(results.forall(_._1 eq results.head._1), "callers must share the one entry")
    assert(results.map(_._2).distinct.size == 1)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the fill must persist RDDs (otherwise this spec tests nothing)")
    Memo.invalidateAll()
    val leaked = during.intersect(spark.sparkContext.getPersistentRDDs.keySet)
    assert(leaked.isEmpty, s"invalidateAll left ${leaked.size} RDD(s) of the fill persistent")

    val failKey = ("MemoReleaseSpec.failing", spark)
    intercept[IllegalStateException] {
      Memo.frame(failKey, Memo.Cache)(throw new IllegalStateException("build failed"))
    }
    assert(!Memo.contains(failKey), "a failed build must leave no entry")
    assert(Memo.frame(failKey, Memo.Cache)(spark.range(0, 10).selectExpr("id")).count() == 10,
      "the next call must retry the build")
    Memo.evict(failKey)
  }
}
