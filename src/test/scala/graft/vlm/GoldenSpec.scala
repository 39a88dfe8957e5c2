package graft.vlm

import FrameSchema._
import org.apache.spark.sql.DataFrame

/** Golden end-to-end snapshot (SURVEY §5 test plan item c): the full
  * nine-task QA run over a fixed synthetic corpus must produce EXACTLY the
  * same rows forever — every id, question, answer, option order, and
  * metadata entry. The engine is deterministic by construction (seeded M3
  * randomness), so any hash drift is a behavior change that must be
  * reviewed, not noise. Update the constant only for intentional semantic
  * changes.
  */
class GoldenSpec extends SparkSpec {
  import spark.implicits._

  private val GoldenHash = "7f8af6b411a0c5ee726131ffecbe96c8" // 264 rows over the 12-frame corpus

  private val ident = Some(Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0)))
  private def cam = Camera(500, 500, 320, 240, 640, 480,
    Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0.0, 0, 1)), ident)
  private def b3(cat: String, x: Double, z: Double) = Bbox3D(x, 0.5, z, 1, 1, 1, 0, 0.25, 0, cat)
  private def b2(cat: String, w: Double, h: Double) = Bbox2D(10, 20, w, h, None, cat)

  private lazy val corpus: DataFrame = (0 until 12).map { i =>
    val cats = Vector("chair", "table", "lamp", "person", "class_84")
    val n = 1 + i % 4
    FrameRecord("golden", s"s${i % 2}", f"img_$i%03d", Some(s"scene${i / 4}"), None, Some((i % 4).toString),
      None, None, None, "none", cam, None,
      (0 until n).map(b => b2(cats((i + b) % cats.size), 30 + 10 * b, 40 + 5 * b)),
      (0 until n).map(b => b3(cats((i + b) % cats.size), -2.0 + b, 2.0 + 0.7 * b)),
      None)
  }.toDF().withColumn("_source_file",
    org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("mem://"),
      org.apache.spark.sql.functions.col("image_id")))

  test("all nine tasks reproduce the golden output hash") {
    val batch = QaPipeline.generate(corpus, "golden")
    val rows =
      try batch.rows.toSeq.sortBy(_._1).flatMap { case (task, df) => df.collect().map(r => s"$task|${r.json}") }.sorted
      finally batch.release()
    assert(rows.nonEmpty)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest == GoldenHash, s"golden hash drift: got $digest over ${rows.length} rows")
  }
}
