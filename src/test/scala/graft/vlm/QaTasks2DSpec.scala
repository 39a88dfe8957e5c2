package graft.vlm

import org.apache.spark.sql.DataFrame
import FrameSchema._

/** 2D task specs: count bounds, area gating, first-per-category dedup,
  * letter↔value consistency, determinism.
  */
class QaTasks2DSpec extends SparkSpec {
  import spark.implicits._

  private def b2(cat: String, w: Double, h: Double, x: Double = 0, y: Double = 0,
                 area: Option[Double] = None): Bbox2D =
    Bbox2D(x, y, w, h, area, cat)

  private def cam: Camera =
    Camera(500, 500, 320, 240, 640, 480,
      Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0, 0, 1.0)), None)

  private def frame(id: String, boxes: Seq[Bbox2D]): FrameRecord =
    FrameRecord("testds", "split0", id, Some("scene0"), None, Some("0"), None, None, None,
      "none", cam, None, boxes, Seq.empty, None)

  private lazy val fixture: DataFrame = Seq(
    frame("i1", Seq(b2("person", 50, 80), b2("person", 20, 30), b2("chair", 5, 8))), // chair: 40 px² < 100 → size-gated
    frame("i2", Seq(b2("table", 100, 50, area = Some(4000.0)))), // stored area wins over w·h
    frame("i3", Seq.empty), // no boxes → excluded (F6 lower bound)
    frame("i4", (1 to 25).map(i => b2(s"cat$i", 10, 10))) // 25 boxes > 20 → excluded (F6 upper bound)
  ).toDF()

  test("object_count_2d counts per category within frame bounds (F6)") {
    val qa = qaPairs(fixture, "testds", "object_count_2d")
    val byKey = qa.map(r => (r.getAs[Map[String, String]]("metadata")("image_id"),
      r.getAs[Map[String, String]]("metadata")("target_category")) -> r.getAs[String]("answer")).toMap
    assert(byKey(("i1", "person")) == "2")
    assert(byKey(("i1", "chair")) == "1")
    assert(byKey(("i2", "table")) == "1")
    assert(!byKey.keys.exists(_._1 == "i3") && !byKey.keys.exists(_._1 == "i4"))
  }

  test("bbox_2d_size gates on area and dedups per category (F5/W4); letter maps to true dims") {
    val rows = qaPairs(fixture, "testds", "bbox_2d_size")
    // i1: person (first of two, 50x80) only — chair gated; i2: table
    assert(rows.length == 2)
    rows.foreach { r =>
      val meta = r.getAs[Map[String, String]]("metadata")
      val opts = r.getSeq[String](r.fieldIndex("options"))
      val letter = r.getAs[String]("answer")
      assert(opts.length == 4)
      val picked = opts(letter.head - 'A')
      assert(picked == meta("answer_value"))
    }
    val person = rows.find(_.getAs[Map[String, String]]("metadata")("category") == "person").get
    assert(person.getAs[Map[String, String]]("metadata")("bbox_width_px") == "50")
    assert(person.getAs[Map[String, String]]("metadata")("bbox_height_px") == "80")
  }

  test("object_2d_size uses stored area over w*h (geometry.py:318-335 fallback)") {
    val rows = qaPairs(fixture, "testds", "object_2d_size")
    val table = rows.find(_.getAs[Map[String, String]]("metadata")("category") == "table").get
    assert(table.getAs[Map[String, String]]("metadata")("area_px") == "4000.0")
  }

  test("2D tasks are deterministic across runs") {
    def snapshot() = QaTasks2D.all.keys.flatMap(t => qaPairs(fixture, "testds", t).map(_.toString)).toSeq.sorted
    assert(snapshot() == snapshot())
  }

  test("registry exposes all nine tasks") {
    assert(QaPipeline.taskRegistry.keySet == Set(
      "object_count", "object_3d_size", "cam_obj_distance", "obj_obj_distance",
      "obj_obj_rel_pos", "cam_obj_rel_dist",
      "object_count_2d", "bbox_2d_size", "object_2d_size"))
  }
}
