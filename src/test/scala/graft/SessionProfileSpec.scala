package graft

import graft.vlm.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session profile every SparkSession in the program is built
  * from ([[GraftSession.settings]]), and checks that the shared test session
  * runs it, so plan assertions see the plans the oracle checks and the bench
  * times.
  */
class SessionProfileSpec extends AnyFunSuite {

  private val expected = Map(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "graft",
    "spark.ui.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "4",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.shuffle.sort.bypassMergeThreshold" -> "16",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.debug.maxToStringFields" -> "2000",
  )

  /** The values that follow from the core count (and corpus size). */
  private val derived = Set("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")

  test("the settings table, key by key") {
    val table = GraftSession.settings(4, 0L)
    assert(table.keySet == expected.keySet)
    for ((k, v) <- expected) assert(table(k) == v, k)
  }

  test("the shared test session runs the whole table") {
    val spark = SparkSpec.session
    for ((k, v) <- GraftSession.settings(SparkSpec.Cores, 0L) if !derived(k))
      assert(spark.conf.getOption(k).contains(v), k)
  }
}
