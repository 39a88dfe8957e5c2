package graft.vlm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mask-derived boxes (SURVEY G16/G17; taskonomy_processor.py:148-216,
  * :320-360): instance-segmentation raster + depth raster → per-instance 2D
  * pixel boxes and 3D camera-space boxes.
  *
  * Scale shape: the decode pass aggregates PER INSTANCE inside the
  * partition-local task (count, pixel extents, unprojected extents,
  * dominant semantic class) — a 1-megapixel frame contributes a handful of
  * instance rows to the shuffle, not 10⁶ pixel rows. The relational tail
  * (gates, category naming, box assembly) is plain column math.
  *
  * Semantics note: the 2D box is the instance's full pixel extent; the
  * reference takes `cv2.boundingRect` of the LARGEST contour (:337-342),
  * which differs only for instances split into multiple blobs.
  */
object MaskJobs {

  /** Per-(file, instance) single-pass aggregate emitted by the decode task. */
  final case class InstanceAgg(
      path: String, instance_id: Int,
      n_pixels: Long,
      u_min: Int, u_max: Int, v_min: Int, v_max: Int,
      n_valid_depth: Long,
      x_min: Double, x_max: Double,
      y_min: Double, y_max: Double,
      z_min: Double, z_max: Double,
      semantic_class: Option[Int])

  private def readGray(bytes: Array[Byte]): (Int, Int, (Int, Int) => Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable raster")
    val r = img.getRaster
    (r.getWidth, r.getHeight, (x, y) => r.getSample(x, y, 0))
  }

  /** Decode one frame's rasters into per-instance aggregates.
    * @param mask     instance-id raster (0 = background)
    * @param depth    16-bit millimeter depth raster (same size), optional
    * @param semantic semantic-class raster, optional (dominant class per
    *                 instance via bincount-argmax, :320-327 / A14)
    */
  def aggregateFrame(
      path: String,
      mask: Array[Byte],
      depth: Option[Array[Byte]],
      semantic: Option[Array[Byte]],
      fx: Double, fy: Double, cx: Double, cy: Double): Seq[InstanceAgg] = {
    val (w, h, m) = readGray(mask)
    val d = depth.map(readGray)
    d.foreach { case (dw, dh, _) => require(dw == w && dh == h, s"depth raster $dw x $dh != mask $w x $h") }
    val s = semantic.map(readGray)
    final case class Acc(
        var n: Long = 0L,
        var uMin: Int = Int.MaxValue, var uMax: Int = Int.MinValue,
        var vMin: Int = Int.MaxValue, var vMax: Int = Int.MinValue,
        var nValid: Long = 0L,
        var xMin: Double = Double.MaxValue, var xMax: Double = Double.MinValue,
        var yMin: Double = Double.MaxValue, var yMax: Double = Double.MinValue,
        var zMin: Double = Double.MaxValue, var zMax: Double = Double.MinValue,
        val classCounts: scala.collection.mutable.Map[Int, Long] = scala.collection.mutable.Map.empty)
    val accs = scala.collection.mutable.LinkedHashMap.empty[Int, Acc]
    var v = 0
    while (v < h) {
      var u = 0
      while (u < w) {
        val id = m(u, v)
        if (id > 0) { // background excluded (:329-330)
          val a = accs.getOrElseUpdate(id, Acc())
          a.n += 1
          if (u < a.uMin) a.uMin = u
          if (u > a.uMax) a.uMax = u
          if (v < a.vMin) a.vMin = v
          if (v > a.vMax) a.vMax = v
          s.foreach { case (_, _, sm) =>
            val c = sm(u, v)
            a.classCounts(c) = a.classCounts.getOrElse(c, 0L) + 1
          }
          d.foreach { case (_, _, dm) =>
            val z = dm(u, v) / 1000.0 // mm → m
            if (z > 0 && z < 100) { // valid-depth gate (:175, F7)
              a.nValid += 1
              val x = (u - cx) * z / fx // unprojection (:194-197, G15)
              val y = (v - cy) * z / fy
              if (x < a.xMin) a.xMin = x
              if (x > a.xMax) a.xMax = x
              if (y < a.yMin) a.yMin = y
              if (y > a.yMax) a.yMax = y
              if (z < a.zMin) a.zMin = z
              if (z > a.zMax) a.zMax = z
            }
          }
        }
        u += 1
      }
      v += 1
    }
    accs.iterator.map { case (id, a) =>
      InstanceAgg(
        path, id, a.n, a.uMin, a.uMax, a.vMin, a.vMax,
        a.nValid, a.xMin, a.xMax, a.yMin, a.yMax, a.zMin, a.zMax,
        // dominant semantic class = bincount-argmax, ties to the smaller id
        if (a.classCounts.isEmpty) None
        else Some(a.classCounts.toSeq.maxBy { case (c, n) => (n, -c) }._1)
      )
    }.toSeq
  }

  /** View key: filename stem with any `_domain_<domain>` suffix stripped, so
    * Taskonomy's per-domain files (`point_P_view_V_domain_segment_unsup25d`
    * vs `..._domain_depth_euclidean`) pair on `point_P_view_V` while plain
    * same-stem layouts pair on the stem itself. Taskonomy point/view
    * numbering restarts per location, so paths under `/taskonomy/<loc>/`
    * get the location prefixed — otherwise a multi-location root would
    * cross-match `loc_a`'s mask with `loc_b`'s depth.
    */
  private[vlm] def viewKey(path: Column): Column = {
    val stem = regexp_replace(regexp_extract(path, "([^/]+)\\.[^.]+$", 1), "_domain_.*$", "")
    val loc = taskonomyLocation(path)
    concat_ws("/", when(loc =!= "", loc), stem) // concat_ws skips the null
  }

  /** Taskonomy location of a file at `.../taskonomy/<location>/<file>`: the
    * directory holding the file, when its parent is named `taskonomy`; ""
    * otherwise. Anchored at the file, so a root whose own path contains a
    * `taskonomy` segment (a landing root named `taskonomy`) still yields the
    * location, not the domain directory.
    */
  private[vlm] def taskonomyLocation(path: Column): Column =
    regexp_extract(path, "/taskonomy/([^/]+)/[^/]*$", 1)

  private def pairedScans(
      spark: SparkSession,
      maskDir: String,
      depthDir: Option[String],
      semanticDir: Option[String]): DataFrame = {
    def scan(dir: String): DataFrame =
      spark.read.format("binaryFile").load(dir)
        .select(col("path"), viewKey(col("path")).as("view"), col("content"))
    val masks = scan(maskDir)
    val withDepth = depthDir match {
      case Some(dd) => masks.join(
        scan(dd).select(col("view"), col("content").as("depth_content")), Seq("view"), "left")
      case None => masks.withColumn("depth_content", lit(null).cast("binary"))
    }
    semanticDir match {
      case Some(sd) => withDepth.join(
        scan(sd).select(col("view"), col("content").as("sem_content")), Seq("view"), "left")
      case None => withDepth.withColumn("sem_content", lit(null).cast("binary"))
    }
  }

  private def decodePaired(paired: DataFrame): DataFrame = {
    val spark = paired.sparkSession
    import spark.implicits._
    paired
      .select(col("path"), col("content"), col("depth_content"), col("sem_content"),
        col("fx"), col("fy"), col("cx"), col("cy"))
      .as[(String, Array[Byte], Array[Byte], Array[Byte], Double, Double, Double, Double)]
      .flatMap { case (path, mask, depth, sem, fx, fy, cx, cy) =>
        // per-file fault isolation (the reference's per-view try/except,
        // taskonomy_processor.py:408-411): a corrupt raster skips the view
        try aggregateFrame(path, mask, Option(depth), Option(sem), fx, fy, cx, cy)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[mask] skipping undecodable $path: ${e.getMessage}")
          Seq.empty
        }
      }
      .toDF()
  }

  /** Whole-directory job with one shared camera: mask PNGs (+ optionally
    * paired depth and semantic PNGs) → per-instance aggregate rows. File
    * pairing is a metadata-scale join on the view key; decode is
    * partition-local.
    */
  def instanceAggregates(
      spark: SparkSession,
      maskDir: String,
      depthDir: Option[String],
      semanticDir: Option[String],
      fx: Double, fy: Double, cx: Double, cy: Double): DataFrame =
    decodePaired(pairedScans(spark, maskDir, depthDir, semanticDir)
      .withColumn("fx", lit(fx)).withColumn("fy", lit(fy))
      .withColumn("cx", lit(cx)).withColumn("cy", lit(cy)))

  /** Per-view camera variant: `intrinsics` provides
    * `(view, fx, fy, cx, cy)` rows (e.g. from Taskonomy point_info JSONs);
    * views without intrinsics are dropped by the inner join.
    */
  def instanceAggregatesWith(
      spark: SparkSession,
      maskDir: String,
      depthDir: Option[String],
      semanticDir: Option[String],
      intrinsics: DataFrame): DataFrame =
    decodePaired(pairedScans(spark, maskDir, depthDir, semanticDir)
      .join(intrinsics.select(col("view"), col("fx"), col("fy"), col("cx"), col("cy")), Seq("view")))

  /** G17: precise 2D boxes from the pixel extent, with the reference's
    * `w > 5 && h > 5` noise gate (:345-356). x_max/y_max exclusive, like
    * `cv2.boundingRect`'s x + w.
    */
  def boxes2d(aggs: DataFrame): DataFrame =
    aggs
      .withColumn("bb_w", col("u_max") - col("u_min") + 1)
      .withColumn("bb_h", col("v_max") - col("v_min") + 1)
      .filter(col("bb_w") > 5 && col("bb_h") > 5)
      .select(
        col("path"), col("instance_id"), col("semantic_class"),
        col("u_min").as("x_min"), col("v_min").as("y_min"),
        (col("u_max") + 1).as("x_max"), (col("v_max") + 1).as("y_max"),
        (col("bb_w") * col("bb_h")).as("area")
      )

  /** G16: axis-aligned camera-space 3D boxes from unprojected extents, with
    * the reference's gates — ≥ 10 valid-depth points (:178-179), every
    * dimension in [0.05, 50] m (:209-211). Category naming per
    * get_instance_category (:218-236): `<class>_<instance>` when a
    * semantic class is known, else `object_<instance>`.
    */
  def boxes3d(aggs: DataFrame, semanticClasses: Seq[String] = Seq.empty): DataFrame = {
    val classNames: Column =
      if (semanticClasses.isEmpty) lit(null).cast("array<string>")
      else array(semanticClasses.map(lit): _*)
    aggs
      .filter(col("n_valid_depth") >= 10)
      .withColumn("xl", col("x_max") - col("x_min"))
      .withColumn("yl", col("y_max") - col("y_min"))
      .withColumn("zl", col("z_max") - col("z_min"))
      .filter(
        col("xl").between(0.05, 50) &&
          col("yl").between(0.05, 50) &&
          col("zl").between(0.05, 50))
      .select(
        col("path"), col("instance_id"),
        concat_ws("_",
          coalesce(
            when(col("semantic_class").isNotNull && col("semantic_class") >= 0,
              try_element_at(classNames, col("semantic_class") + 1)),
            lit("object")),
          col("instance_id").cast("string")
        ).as("category"),
        ((col("x_min") + col("x_max")) / 2).as("x"),
        ((col("y_min") + col("y_max")) / 2).as("y"),
        ((col("z_min") + col("z_max")) / 2).as("z"),
        col("xl"), col("yl"), col("zl"),
        lit(0.0).as("pitch"), lit(0.0).as("yaw"), lit(0.0).as("roll")
      )
  }
}
