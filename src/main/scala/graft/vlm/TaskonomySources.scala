package graft.vlm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Taskonomy end-to-end unified-frame processor (F15;
  * taskonomy_processor.py:239-412): per-view point_info camera JSON +
  * instance/semantic masks + encoded depth PNGs → unified frames with
  * mask-derived 2D AND 3D boxes ([[MaskJobs]], G16/G17).
  *
  * Layout: `root/<domain>/taskonomy/<location>/point_P_view_V_domain_<domain>.<ext>`
  * with domains `point_info` (json), `segment_unsup25d`, `segment_semantic`,
  * `depth_euclidean` (16-bit mm PNGs). Views pair on the
  * `point_P_view_V` key.
  */
object TaskonomySources {

  private def fieldOr(df: DataFrame, name: String, default: Column): Column =
    if (df.columns.contains(name)) coalesce(col(name), default) else default

  /** Camera-to-world extrinsics from position + radian xyz eulers
    * (taskonomy_processor.py:82-107; scipy `from_euler('xyz')` = Rz·Ry·Rx,
    * the G1 kernel).
    */
  private val extrinsicsUdf = udf { (loc: Seq[Double], rot: Seq[Double]) =>
    if (loc == null || rot == null || loc.length < 3 || rot.length < 3) None
    else {
      val r = Geo.rotationMatrix(rot(0), rot(1), rot(2))
      Some(Seq(
        Seq(r(0)(0), r(0)(1), r(0)(2), loc(0)),
        Seq(r(1)(0), r(1)(1), r(1)(2), loc(1)),
        Seq(r(2)(0), r(2)(1), r(2)(2), loc(2)),
        Seq(0.0, 0.0, 0.0, 1.0)))
    }
  }

  /** point_info JSONs → per-view camera rows: FOV-derived intrinsics
    * (G13, :69-80) and pose extrinsics; reference defaults for missing
    * fields (:264-266).
    */
  def pointInfo(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read.option("multiLine", true)
      .json(s"$root/point_info/taskonomy/*/*_domain_point_info.json")
      .withColumn("file", input_file_name())
    raw
      .select(
        MaskJobs.taskonomyLocation(col("file")).as("location"),
        MaskJobs.viewKey(col("file")).as("view"),
        fieldOr(raw, "resolution", lit(512L)).cast("int").as("resolution"),
        fieldOr(raw, "field_of_view_rads", lit(1.0489)).cast("double").as("fov"),
        fieldOr(raw, "camera_location", lit(null).cast("array<double>")).as("camera_location"),
        fieldOr(raw, "camera_rotation_final", lit(null).cast("array<double>")).as("camera_rotation_final"))
      .withColumn("fx", col("resolution") / (lit(2.0) * tan(col("fov") / lit(2.0))))
      .withColumn("fy", col("fx"))
      .withColumn("cx", col("resolution") / lit(2.0))
      .withColumn("cy", col("resolution") / lit(2.0))
      .withColumn("extrinsics", extrinsicsUdf(col("camera_location"), col("camera_rotation_final")))
  }

  /** True when the glob matches at least one file — Spark's readers throw
    * on empty globs, and segment_semantic is an optional domain
    * (taskonomy_processor.py:255 "semantic is optional").
    */
  private def globExists(spark: SparkSession, pattern: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val matches = p.getFileSystem(spark.sessionState.newHadoopConf()).globStatus(p)
    matches != null && matches.nonEmpty
  }

  def taskonomyFrames(
      spark: SparkSession,
      root: String,
      semanticClasses: Seq[String] = Seq.empty): DataFrame = {
    val info = pointInfo(spark, root).cache()

    // per-instance aggregates with per-view cameras; the inner join drops
    // views lacking point_info (required file gate, :255)
    val aggs = MaskJobs.instanceAggregatesWith(
      spark,
      s"$root/segment_unsup25d/taskonomy/*/*.png",
      Some(s"$root/depth_euclidean/taskonomy/*/*.png"),
      Some(s"$root/segment_semantic/taskonomy/*/*.png").filter(globExists(spark, _)),
      info)
    // reference emits the 2D box only when the 3D box survives its gates
    // (:345-377): inner-join the two derivations per (view, instance)
    val b3 = MaskJobs.boxes3d(aggs, semanticClasses)
      .withColumn("view", MaskJobs.viewKey(col("path")))
    val b2 = MaskJobs.boxes2d(aggs)
      .withColumn("view", MaskJobs.viewKey(col("path")))
      .drop("semantic_class")
    val paired = b2.join(
      b3.select(col("view"), col("instance_id"), col("category"),
        col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
        col("pitch"), col("yaw"), col("roll")),
      Seq("view", "instance_id"))
    val boxesPerView = paired
      .select(col("view"), struct(
        col("instance_id"),
        struct(col("x_min"), col("y_min"), col("x_max"), col("y_max"),
          col("area"), col("instance_id"), col("category")).as("b2"),
        struct(col("x"), col("y"), col("z"), col("xl"), col("yl"), col("zl"),
          col("pitch"), col("yaw"), col("roll"), col("category")).as("b3")).as("e"))
      .groupBy(col("view"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("view"),
        transform(col("es"), x => x.getField("b2")).as("bounding_boxes_2d"),
        transform(col("es"), x => x.getField("b3")).as("bounding_boxes_3d"))

    // frame-level FULL-raster depth stats from the same mm→m decode
    // (required file, :255)
    val depth = LandingZone.fullDepthStats(spark, s"$root/depth_euclidean/taskonomy/*/*.png")
      .withColumn("view", MaskJobs.viewKey(col("path")))
      .select(col("view"), col("depth_stats"))

    val b2Ddl = "array<struct<x_min:int,y_min:int,x_max:int,y_max:int," +
      "area:int,instance_id:int,category:string>>"
    val b3Ddl = "array<struct<x:double,y:double,z:double,xl:double,yl:double,zl:double," +
      "pitch:double,yaw:double,roll:double,category:string>>"
    // the join key carries the location prefix (see MaskJobs.viewKey);
    // display names use the bare point_P_view_V part
    val viewName = regexp_replace(col("view"), "^.*/", "")
    info
      .join(depth, Seq("view"))
      .join(boxesPerView, Seq("view"), "left")
      .select(
        lit("taskonomy").as("dataset"),
        col("location").as("split"),
        concat_ws("_", col("location"), viewName).as("image_id"),
        concat(viewName, lit("_domain_rgb.png")).as("filename"),
        lit("depth_png_encoded").as("depth_type"),
        struct(
          col("fx"), col("fy"), col("cx"), col("cy"),
          col("resolution").as("image_width"), col("resolution").as("image_height"),
          array(
            array(col("fx"), lit(0.0), col("cx")),
            array(lit(0.0), col("fy"), col("cy")),
            array(lit(0.0), lit(0.0), lit(1.0))
          ).as("intrinsics"),
          col("extrinsics")
        ).as("camera"),
        col("depth_stats"),
        coalesce(col("bounding_boxes_2d"), array().cast(b2Ddl)).as("bounding_boxes_2d"),
        coalesce(col("bounding_boxes_3d"), array().cast(b3Ddl)).as("bounding_boxes_3d")
      )
  }
}
