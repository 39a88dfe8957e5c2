package graft.vlm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous QA ids ([[QaPrimitives.assignIds]]) against the window
  * formulation they replace, `row_number() over (order by keys) - 1`, on
  * inputs that stress the per-partition offsets.
  */
class QaPrimitivesSpec extends SparkSpec {

  /** QA-shaped rows keyed by (image_id, i); `question` carries the key, so
    * each id is checked against the row it landed on.
    */
  private def qaShaped(keys: DataFrame): DataFrame =
    keys
      .withColumn("question", concat_ws("#", col("image_id"), col("i").cast("string")))
      .withColumn("answer", lit("a"))
      .withColumn("answer_type", lit("text"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn("metadata", map(lit("image_id"), col("image_id")))

  private val order = Seq(col("image_id"), col("i"))

  /** Numbers `tasks` under `conf` (AQE coalescing off, so the range exchange
    * keeps its partitions) and checks every task's ids and count against
    * `row_number() - 1`; returns the number of stored partitions.
    */
  private def checkIds(tasks: Seq[(String, DataFrame, Seq[Column])], conf: (String, String)*): Int = {
    val settings = ("spark.sql.adaptive.coalescePartitions.enabled" -> "false") +: conf
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    val batch =
      try QaPrimitives.assignIds("ds", tasks.map { case (t, df, o) => t -> QaPrimitives.Unnumbered(df, o) })
      finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    try {
      for ((t, df, o) <- tasks) {
        val expected = df.select(
            col("question"),
            format_string(s"ds_${t}_%06d", row_number().over(Window.orderBy(o: _*)) - 1).as("id"))
          .collect().map(r => r.getString(1) -> r.getString(0))
        val got = batch.rows(t).select("id", "question").collect().map(r => r.getString(0) -> r.getString(1))
        assert(got.length == expected.length, t)
        assert(got.toMap == expected.toMap, t)
        assert(batch.counts(t) == expected.length, t)
        val tagged = batch.combined.filter(col("task_type") === t).select("id", "question").collect()
        assert(tagged.map(r => r.getString(0) -> r.getString(1)).toMap == expected.toMap, t)
      }
      batch.combined.rdd.getNumPartitions
    } finally batch.release()
  }

  private def checkIds(keys: DataFrame, conf: (String, String)*): Int =
    checkIds(Seq(("t", qaShaped(keys), order)), conf: _*)

  test("ids equal row_number - 1 across range partitions, with one hot frame") {
    // two thirds of the rows share one image_id; the range exchange splits
    // that frame over several partitions by its second key
    val keys = spark.range(0, 3000, 1, 6).select(
      when(col("id") < 2000, lit("hot")).otherwise(format_string("img_%03d", col("id") % 97)).as("image_id"),
      col("id").cast("int").as("i"))
    assert(checkIds(keys) > 1, "the exchange kept one partition; the offsets went untested")
  }

  test("ids on an empty input: no rows, count 0") {
    val keys = spark.range(0, 0, 1, 3).select(col("id").cast("string").as("image_id"), col("id").cast("int").as("i"))
    checkIds(keys)
  }

  test("ids on a single partition") {
    val keys = spark.range(0, 500, 1, 1).select(
      format_string("img_%02d", col("id") % 7).as("image_id"), col("id").cast("int").as("i"))
    assert(checkIds(keys, "spark.sql.shuffle.partitions" -> "1") == 1)
  }

  test("tasks numbered together: each task's ids follow its own keys, whatever their types") {
    // task a orders by (image_id, int), task b by (image_id, string): both
    // share one exchange, and each must still count from 0 in its own order
    val a = qaShaped(spark.range(0, 1200, 1, 4).select(
      format_string("img_%02d", col("id") % 13).as("image_id"), col("id").cast("int").as("i")))
    val b = qaShaped(spark.range(0, 900, 1, 3).select(
      format_string("img_%02d", col("id") % 11).as("image_id"), col("id").cast("int").as("i")))
      .withColumn("cat", format_string("c%04d", lit(5000) - col("i")))
    assert(checkIds(Seq(("a", a, order), ("b", b, Seq(col("image_id"), col("cat"))))) > 1)
  }
}
