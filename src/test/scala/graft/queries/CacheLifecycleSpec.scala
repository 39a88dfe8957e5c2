package graft.queries

import graft.SparkEntry
import graft.vlm.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.storage.StorageLevel

/** Lifecycle + hygiene contract for the dedup module's shared caches.
  *
  * Two failure modes this guards at 100 TB:
  *   - UNRELEASABLE storage: a long-lived session touching many corpus
  *     dirs would pin one pipeline's caches per dir forever without
  *     [[DedupQueries.release]] — the spec proves release() actually
  *     drops storage and the next build starts from scratch.
  *   - DOUBLE-CACHING: plan-identical `.cache()` calls from different
  *     queries (d3/d6/d7 all consume the shingle-set scan) are silent
  *     no-ops that log CacheManager warnings — noise indistinguishable
  *     from a real bug, and wasted registration work. The log-capture
  *     test runs the whole dedup family twice and asserts the
  *     CacheManager/BlockManager loggers stay silent, the runtime
  *     counterpart of PlanSpec's partition-less-Window assertion.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val dedupFamily = Seq(
    "d2_minhash_signatures", "d3_lsh_near_dup_pairs", "d5_simhash_near_dup_pairs",
    "d6_jaccard_verified_groups", "d7_dup_groups_cc", "d8_scalable_dedup",
    "d12_edit_distance_verify", "d13_leakage_safe_split",
    "d14_containment_dedup", "d15_best_in_group")

  private def run(name: String): Unit = {
    val n = SparkEntry.queries(name)(spark, sf).count()
    assert(n > 0, s"$name returned no rows")
  }

  test("release() unpersists every shared handle and evicts the memoized pipeline") {
    DedupQueries.release(spark, sf) // clean slate regardless of suite order
    run("d8_scalable_dedup")
    val handles = DedupQueries.cachedHandles(spark, sf)
    assert(handles.nonEmpty, "d8 registered no shared caches")
    for ((k, df) <- handles)
      assert(df.storageLevel != StorageLevel.NONE, s"$k not marked cached")
    DedupQueries.release(spark, sf)
    assert(DedupQueries.cachedHandles(spark, sf).isEmpty, "registry not evicted")
    for ((k, df) <- handles)
      assert(df.storageLevel == StorageLevel.NONE, s"$k still cached after release")
  }

  test("the memo hands out ONE pipeline per (session, dir) until released") {
    DedupQueries.release(spark, sf)
    run("d8_scalable_dedup")
    val h1 = DedupQueries.cachedHandles(spark, sf)
    run("d13_leakage_safe_split") // shares the memoized pipeline
    val h2 = DedupQueries.cachedHandles(spark, sf)
    assert(h1.keySet.subsetOf(h2.keySet))
    for (k <- h1.keySet)
      assert(h1(k) eq h2(k), s"$k rebuilt despite live memo")
    DedupQueries.release(spark, sf)
    run("d8_scalable_dedup")
    val h3 = DedupQueries.cachedHandles(spark, sf)
    for (k <- h1.keySet.intersect(h3.keySet))
      assert(!(h1(k) eq h3(k)), s"$k survived release — memo not evicted")
    DedupQueries.release(spark, sf)
  }

  test("build/release cycles leave no residual storage (no per-cycle growth)") {
    DedupQueries.release(spark, sf)
    val seen = Seq.newBuilder[(String, org.apache.spark.sql.DataFrame)]
    for (i <- 1 to 3) {
      run("d13_leakage_safe_split")
      val hs = DedupQueries.cachedHandles(spark, sf)
      assert(hs.nonEmpty, s"cycle $i registered nothing")
      seen ++= hs
      DedupQueries.release(spark, sf)
    }
    for ((k, df) <- seen.result())
      assert(df.storageLevel == StorageLevel.NONE, s"$k leaked across cycles")
  }

  /** Run `body` while capturing WARN+ events from the CacheManager and
    * BlockManager loggers; returns the captured lines.
    */
  private def capturingCacheWarnings(body: => Unit): Seq[String] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        s"graft-cache-hygiene-${System.nanoTime()}", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val logger = e.getLoggerName
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            (logger.endsWith("CacheManager") || logger.endsWith("BlockManager")))
          events.add(s"$logger: ${e.getMessage.getFormattedMessage}")
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    try body
    finally {
      root.removeAppender(appender.getName)
      appender.stop()
    }
    events.toArray(Array.empty[String]).toSeq
  }

  test("dedup family logs zero CacheManager/BlockManager warnings (incl. re-runs)") {
    val warns = capturingCacheWarnings {
      DedupQueries.release(spark, sf)
      // twice: the second pass exercises the shared-handle reuse path —
      // exactly where the pre-registry code re-cached identical plans
      try for (_ <- 1 to 2; name <- dedupFamily) run(name)
      finally DedupQueries.release(spark, sf)
    }
    assert(warns.isEmpty, s"cache-hygiene warnings:\n${warns.mkString("\n")}")
  }

  test("clearCache() against a getTruncated handle: rebuild drops the stale checkpoint RDD") {
    // r18-advice scenario: an external spark.catalog.clearCache() marks a
    // truncated handle dead (liveness is CacheManager-backed), get()
    // rebuilds — and must unpersist the evicted handle's checkpointed RDD,
    // or its MEMORY_AND_DISK blocks stay pinned once per clearCache cycle.
    import org.apache.spark.sql.execution.LogicalRDD
    val key = "lifecycle-spec-truncated"
    // parquet-backed like every real registration (a bare spark.range build
    // trips a Spark cache-substitution quirk unrelated to this contract)
    def build = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"))
    SharedCaches.release(spark, sf)
    try {
      val h1 = SharedCaches.getTruncated(spark, sf, key)(build)
      h1.count()
      val rdd1 = h1.queryExecution.analyzed match {
        case r: LogicalRDD => r.rdd
        case other => fail(s"truncated handle is not a LogicalRDD leaf: ${other.getClass}")
      }
      assert(rdd1.getStorageLevel != StorageLevel.NONE, "checkpoint RDD not persisted")
      spark.catalog.clearCache() // external hygiene call — kills the columnar cache
      assert(h1.storageLevel == StorageLevel.NONE, "clearCache did not invalidate the handle")
      val h2 = SharedCaches.getTruncated(spark, sf, key)(build)
      assert(!(h1 eq h2), "stale handle handed out after clearCache")
      assert(rdd1.getStorageLevel == StorageLevel.NONE,
        "stale handle's checkpointed RDD still persisted after rebuild — storage leak")
      assert(h2.storageLevel != StorageLevel.NONE, "rebuilt handle not cached")
    } finally SharedCaches.release(spark, sf)
  }

  test("concurrent first-touch of one shared lineage builds it once, warning-free") {
    // d3 and d6 both register the "shingleSets" key; raced from two threads
    // on a fresh registry, a non-atomic build would cache() two
    // plan-identical frames — the loser logs the CacheManager warning this
    // test hunts (TrieMap.getOrElseUpdate alone runs its thunk in BOTH
    // threads; the registry serializes builds per key)
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    for (attempt <- 1 to 3) {
      val warns = capturingCacheWarnings {
        DedupQueries.release(spark, sf)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val futs = Seq("d3_lsh_near_dup_pairs", "d6_jaccard_verified_groups").map { n =>
            pool.submit(new Callable[Long] {
              override def call(): Long = SparkEntry.queries(n)(spark, sf).count()
            })
          }
          futs.foreach(f => assert(f.get(120, TimeUnit.SECONDS) > 0))
        } finally {
          pool.shutdown()
          DedupQueries.release(spark, sf)
        }
      }
      assert(warns.isEmpty, s"attempt $attempt raced into warnings:\n${warns.mkString("\n")}")
    }
  }

  test("QA runs free their stored rows when they return and when they throw") {
    import graft.vlm.{FrameSchema, QaPipeline}
    import FrameSchema._
    import spark.implicits._
    val ident = Some(Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0)))
    val cam = Camera(500, 500, 320, 240, 640, 480, Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0, 0, 1.0)), ident)
    val frames = (0 until 4).map { i =>
      FrameRecord("lifecycle", "s", s"img_$i", Some("scene"), None, Some(i.toString), None, None, None, "none", cam,
        None, Seq.empty, (0 to i).map(b => Bbox3D(b * 2.0, 0, 3, 1, 1, 1, 0, 0, 0, "chair")), None)
    }.toDF()
    val tasks = Seq("object_count", "obj_obj_distance")
    // RDDs a run persisted and left behind; ids, so the cleaner freeing an
    // earlier suite's garbage meanwhile cannot mask a leak
    def leftBehind(body: => Unit): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      body
      spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    }
    val out = java.nio.file.Files.createTempDirectory("graft-qa-lifecycle")
    assert(leftBehind(assert(QaPipeline.run(spark, frames, "ds", out.toString, tasks).values.sum > 0)).isEmpty,
      "a returning run left its task rows stored")
    // a sink fails after every task was stored: the output dir lies below a file
    val file = java.nio.file.Files.createTempFile("graft-qa-lifecycle", ".txt")
    assert(leftBehind(intercept[Exception](QaPipeline.run(spark, frames, "ds", s"$file/out", tasks))).isEmpty,
      "a run whose sink threw left its task rows stored")
    // the storing job itself fails
    val failing = spark.range(10).select(org.apache.spark.sql.functions.raise_error(
      org.apache.spark.sql.functions.lit("lifecycle probe")))
    assert(leftBehind(intercept[Exception](
      org.apache.spark.sql.graft.shims.localCheckpoint(failing)(_.size))).isEmpty,
      "a storing job that threw left its blocks stored")
  }
}
