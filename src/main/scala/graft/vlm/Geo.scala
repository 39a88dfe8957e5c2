package graft.vlm

/** Pure-Scala 3D geometry kernels — the computational core of the QA engine.
  * No Spark imports: these are plain functions over small fixed-size arrays,
  * unit-tested directly and wrapped as column functions in [[GeoFunctions]].
  *
  * Semantics follow the reference implementation (citations per function into
  * /root/reference/); notably the QA tasks pass *normalized* angles in [-1,1]
  * straight into the rotation kernels (which nominally take radians) — a
  * behavior-defining quirk we preserve (see SURVEY.md §7.3).
  */
object Geo {

  type Vec3 = Array[Double]
  type Mat3 = Array[Array[Double]] // row-major 3x3
  type Mat4 = Array[Array[Double]] // row-major 4x4

  /** Normalize degrees to [-180, 180], then divide by 180 → [-1, 1].
    * Ref: data_processing/utils.py:28-43.
    */
  def normalizeAngle(angleDeg: Double): Double = {
    var a = angleDeg % 360
    if (a < 0) a += 360 // Python-style modulo: [0, 360)
    if (a > 180) a -= 360 // (-180, 180]
    a / 180.0
  }

  /** Rotation matrix Rz(roll) · Ry(yaw) · Rx(pitch), angles in radians.
    * Ref: QA_generation/utils/geometry.py:25-57.
    */
  def rotationMatrix(pitch: Double, yaw: Double, roll: Double): Mat3 = {
    val (cp, sp) = (math.cos(pitch), math.sin(pitch))
    val (cy, sy) = (math.cos(yaw), math.sin(yaw))
    val (cr, sr) = (math.cos(roll), math.sin(roll))
    // Rz·Ry·Rx expanded
    Array(
      Array(cr * cy, cr * sy * sp - sr * cp, cr * sy * cp + sr * sp),
      Array(sr * cy, sr * sy * sp + cr * cp, sr * sy * cp - cr * sp),
      Array(-sy, cy * sp, cy * cp)
    )
  }

  /** 8 vertices of an oriented 3D box: half-dims → rotate → translate.
    * Vertex order matches the reference's local corner enumeration.
    * Ref: QA_generation/utils/geometry.py:60-95.
    */
  def bboxVertices(
      x: Double, y: Double, z: Double,
      xl: Double, yl: Double, zl: Double,
      pitch: Double, yaw: Double, roll: Double): Array[Vec3] = {
    val (dx, dy, dz) = (xl / 2, yl / 2, zl / 2)
    val local = Array(
      Array(-dx, -dy, -dz), Array(dx, -dy, -dz), Array(dx, dy, -dz), Array(-dx, dy, -dz),
      Array(-dx, -dy, dz), Array(dx, -dy, dz), Array(dx, dy, dz), Array(-dx, dy, dz)
    )
    val r = rotationMatrix(pitch, yaw, roll)
    local.map { v =>
      Array(
        r(0)(0) * v(0) + r(0)(1) * v(1) + r(0)(2) * v(2) + x,
        r(1)(0) * v(0) + r(1)(1) * v(1) + r(1)(2) * v(2) + y,
        r(2)(0) * v(0) + r(2)(1) * v(1) + r(2)(2) * v(2) + z
      )
    }
  }

  private def norm3(a: Vec3): Double = math.sqrt(a(0) * a(0) + a(1) * a(1) + a(2) * a(2))

  private def dist3(a: Vec3, b: Vec3): Double = {
    val (d0, d1, d2) = (a(0) - b(0), a(1) - b(1), a(2) - b(2))
    math.sqrt(d0 * d0 + d1 * d1 + d2 * d2)
  }

  /** Min pairwise distance over the 8×8 vertex pairs of two oriented boxes.
    * Ref: QA_generation/utils/geometry.py:98-118.
    */
  def minDistanceBetweenBoxes(v1: Array[Vec3], v2: Array[Vec3]): Double = {
    var min = Double.PositiveInfinity
    var i = 0
    while (i < v1.length) {
      var j = 0
      while (j < v2.length) {
        val d = dist3(v1(i), v2(j))
        if (d < min) min = d
        j += 1
      }
      i += 1
    }
    min
  }

  /** Min distance from a point (camera) to any box vertex.
    * Ref: QA_generation/utils/geometry.py:165-189.
    */
  def distanceCameraToBox(cam: Vec3, vertices: Array[Vec3]): Double =
    vertices.map(v => dist3(cam, v)).min

  /** Camera-space distance of a box already in camera frame = ‖center‖.
    * Ref: QA_generation/utils/geometry.py:401-421 ("CRITICAL FIX" comment).
    */
  def centerDistance(x: Double, y: Double, z: Double): Double =
    math.sqrt(x * x + y * y + z * z)

  /** Camera position from a 4×4 camera-to-world extrinsics: E[:3, 3].
    * Ref: QA_generation/utils/geometry.py:135-162. Returns None unless 4×4.
    */
  def cameraPosition(extrinsics: Array[Array[Double]]): Option[Vec3] =
    if (extrinsics == null || extrinsics.length != 4 || extrinsics.exists(_.length != 4)) None
    else Some(Array(extrinsics(0)(3), extrinsics(1)(3), extrinsics(2)(3)))

  /** G8: camera orientation basis vectors from a 4×4 camera-to-world
    * extrinsics — the rotation's columns in the OpenCV convention (X right,
    * Y down, Z forward). Returns (right, down, up, forward, back) world
    * vectors, None unless 4×4. Ref: QA_generation/utils/geometry.py:367-398.
    */
  def cameraOrientation(extrinsics: Array[Array[Double]]): Option[Map[String, Vec3]] =
    if (extrinsics == null || extrinsics.length != 4 || extrinsics.exists(_.length != 4)) None
    else {
      def column(j: Int): Vec3 = Array(extrinsics(0)(j), extrinsics(1)(j), extrinsics(2)(j))
      val right = column(0)
      val down = column(1)
      val forward = column(2)
      Some(Map(
        "right" -> right,
        "down" -> down,
        "up" -> down.map(-_),
        "forward" -> forward,
        "back" -> forward.map(-_)
      ))
    }

  /** Rigid inverse of a 4×4 homogeneous transform: [Rᵀ | -Rᵀt].
    * The reference uses a general np.linalg.inv (geometry.py:192-219); for
    * valid extrinsics (orthonormal R) the rigid inverse is identical and
    * exact.
    */
  def invertRigid(m: Mat4): Mat4 = {
    val out = Array.ofDim[Double](4, 4)
    var i = 0
    while (i < 3) {
      var j = 0
      while (j < 3) { out(i)(j) = m(j)(i); j += 1 }
      out(i)(3) = -(m(0)(i) * m(0)(3) + m(1)(i) * m(1)(3) + m(2)(i) * m(2)(3))
      i += 1
    }
    out(3)(3) = 1.0
    out
  }

  /** Apply a 4×4 homogeneous transform to 3D points.
    * Ref: QA_generation/utils/geometry.py:192-219, 339-364.
    */
  def transformPoints(m: Mat4, pts: Array[Vec3]): Array[Vec3] =
    pts.map { p =>
      Array(
        m(0)(0) * p(0) + m(0)(1) * p(1) + m(0)(2) * p(2) + m(0)(3),
        m(1)(0) * p(0) + m(1)(1) * p(1) + m(1)(2) * p(2) + m(1)(3),
        m(2)(0) * p(0) + m(2)(1) * p(1) + m(2)(2) * p(2) + m(2)(3)
      )
    }

  /** Enhanced relative position of box1 w.r.t. box2 in camera frame: center
    * diffs on each axis with a 0.1 m threshold, plus the center distance.
    * Ref: QA_generation/utils/geometry.py:424-495.
    *
    * Returns (depthRel, horizontalRel, verticalRel, centerDistance) with
    * relations in the reference's vocabulary ("Nearer"/"Farther"/"Same
    * depth", "Left"/"Right"/..., "Above"/"Below"/...). Callers that need the
    * min box distance compute it separately ([[MinBoxDistance]]).
    */
  def enhancedRelativePosition(
      v1: Array[Vec3], v2: Array[Vec3],
      threshold: Double = 0.1): (String, String, String, Double) =
    relativePositionOfCenters(centroid(v1), centroid(v2), threshold)

  /** Mean vertex: per-axis sum in vertex order from 0.0, divided by the
    * vertex count — the order [[graft.functions.RelativePosition]] repeats
    * over ArrayData.
    */
  def centroid(vs: Array[Vec3]): Vec3 = {
    val c = Array(0.0, 0.0, 0.0)
    vs.foreach { v => c(0) += v(0); c(1) += v(1); c(2) += v(2) }
    c.map(_ / vs.length)
  }

  /** The classification half of [[enhancedRelativePosition]], from the two
    * centers.
    */
  def relativePositionOfCenters(c1: Vec3, c2: Vec3, threshold: Double): (String, String, String, Double) = {
    val centerDist = dist3(c1, c2)
    val dz = c1(2) - c2(2)
    val depth =
      if (math.abs(dz) < threshold) "Same depth" else if (dz < 0) "Nearer" else "Farther"
    val dx = c1(0) - c2(0)
    val horiz =
      if (math.abs(dx) < threshold) "Same horizontal position" else if (dx < 0) "Left" else "Right"
    val dy = c1(1) - c2(1)
    val vert =
      if (math.abs(dy) < threshold) "Same vertical position" else if (dy < 0) "Above" else "Below"
    (depth, horiz, vert, centerDist)
  }

  /** G10 legacy variant: relative position by VERTEX EXTREMES in the camera
    * frame. Box1 gets a relation on an axis only when its extents are
    * STRICTLY separated from box2's beyond the threshold — e.g. 'Near' iff
    * max(z₁) < min(z₂) − t — otherwise the relation is None (overlapping or
    * touching extents give no answer, unlike the center-diff variant which
    * always answers). Axes in the camera convention: +X right, +Y down,
    * +Z forward, so X → Left/Right, Y → Up/Down, Z → Near/Far.
    * Ref: QA_generation/utils/geometry.py:222-269
    * (get_relative_position_2d); the reference keeps this alongside the
    * enhanced center-diff classifier (geometry.py:424-495) that
    * obj_obj_rel_pos tasks call.
    */
  def vertexExtremesRelativePosition(
      v1: Array[Vec3], v2: Array[Vec3],
      threshold: Double = 0.1): (Option[String], Option[String], Option[String]) = {
    def extent(vs: Array[Vec3], axis: Int): (Double, Double) = {
      var lo = Double.PositiveInfinity
      var hi = Double.NegativeInfinity
      vs.foreach { v => if (v(axis) < lo) lo = v(axis); if (v(axis) > hi) hi = v(axis) }
      (lo, hi)
    }
    def relate(a: (Double, Double), b: (Double, Double), neg: String, pos: String): Option[String] =
      if (a._2 < b._1 - threshold) Some(neg)
      else if (a._1 > b._2 + threshold) Some(pos)
      else None
    val depth = relate(extent(v1, 2), extent(v2, 2), "Near", "Far")
    val horiz = relate(extent(v1, 0), extent(v2, 0), "Left", "Right")
    val vert = relate(extent(v1, 1), extent(v2, 1), "Up", "Down") // +Y is down
    (depth, horiz, vert)
  }

  /** Quaternion (x, y, z, w) → rotation matrix. */
  def quatToMatrix(qx: Double, qy: Double, qz: Double, qw: Double): Mat3 = {
    val n = math.sqrt(qx * qx + qy * qy + qz * qz + qw * qw)
    val (x, y, z, w) = (qx / n, qy / n, qz / n, qw / n)
    Array(
      Array(1 - 2 * (y * y + z * z), 2 * (x * y - z * w), 2 * (x * z + y * w)),
      Array(2 * (x * y + z * w), 1 - 2 * (x * x + z * z), 2 * (y * z - x * w)),
      Array(2 * (x * z - y * w), 2 * (y * z + x * w), 1 - 2 * (x * x + y * y))
    )
  }

  /** Rotation matrix → extrinsic-xyz Euler angles (degrees), the
    * decomposition scipy's `as_euler('xyz')` performs (R = Rz·Ry·Rx), with
    * the reference's singularity guard.
    * Ref: data_processing/utils.py:13-25; hypersim_processor.py:166-184.
    */
  def matrixToEulerXYZDeg(r: Mat3): (Double, Double, Double) = {
    val sy = -r(2)(0)
    if (math.abs(sy) < 1.0 - 1e-9) {
      val pitch = math.atan2(r(2)(1), r(2)(2))
      val yaw = math.asin(sy)
      val roll = math.atan2(r(1)(0), r(0)(0))
      (math.toDegrees(pitch), math.toDegrees(yaw), math.toDegrees(roll))
    } else {
      // gimbal lock: roll indeterminate, set to 0
      val yaw = if (sy > 0) math.Pi / 2 else -math.Pi / 2
      val pitch = math.atan2(-r(0)(1), r(1)(1))
      (math.toDegrees(pitch), math.toDegrees(yaw), 0.0)
    }
  }

  /** Rotation matrix → (pitch, yaw, roll) in RADIANS, the ZYX extraction
    * Hypersim's bbox orientations use (hypersim_processor.py:166-186):
    * pitch = atan2(R₂₁, R₂₂), yaw = atan2(−R₂₀, √(R₀₀²+R₁₀²)),
    * roll = atan2(R₁₀, R₀₀), with the singular-case fallback.
    */
  def matrixToEulerZYXRad(r: Mat3): (Double, Double, Double) = {
    val sy = math.sqrt(r(0)(0) * r(0)(0) + r(1)(0) * r(1)(0))
    if (sy >= 1e-6) {
      (math.atan2(r(2)(1), r(2)(2)), math.atan2(-r(2)(0), sy), math.atan2(r(1)(0), r(0)(0)))
    } else {
      (math.atan2(-r(1)(2), r(1)(1)), math.atan2(-r(2)(0), sy), 0.0)
    }
  }

  /** Quaternion (x, y, z, w) → Euler (pitch, yaw, roll) degrees.
    * Ref: data_processing/utils.py:13-25 (scipy 'xyz').
    */
  def quaternionToEulerDeg(qx: Double, qy: Double, qz: Double, qw: Double): (Double, Double, Double) =
    matrixToEulerXYZDeg(quatToMatrix(qx, qy, qz, qw))

  /** Horizontal-FOV → focal length: fx = w / (2·tan(fov/2)).
    * Ref: hypersim_processor.py:187-213; taskonomy_processor.py:69-80.
    */
  def fovToFocal(imageSize: Double, fovRad: Double): Double =
    imageSize / (2.0 * math.tan(fovRad / 2.0))

  /** `class_N` → readable name with the reference's fallback chain: unknown
    * ids resolve to `object_N`; non-`class_` categories pass through.
    * Ref: QA_generation/utils/class_mapping.py:68-103. We carry no static
    * 300-word codebook (it is data, not semantics); `classNames` can be
    * supplied at session level and defaults to empty, so every id takes the
    * documented `object_N` fallback path.
    */
  def parseClassCategory(category: String, classNames: Map[Int, String] = Map.empty): String =
    if (category != null && category.startsWith("class_")) {
      category.split("_", 2)(1).toIntOption match {
        case Some(id) => classNames.getOrElse(id, s"object_$id")
        case None => category
      }
    } else category

  /** 3D→2D projection of box vertices through intrinsics (perspective
    * divide), clipped to the image; returns (xMin, yMin, xMax, yMax) or None
    * if entirely behind the camera.
    * Ref: data_processing/build_label_codebook_fast.py:238-280.
    */
  def projectTo2d(
      vertices: Array[Vec3],
      fx: Double, fy: Double, cx: Double, cy: Double,
      width: Int, height: Int): Option[(Double, Double, Double, Double)] = {
    val pts = vertices.filter(_(2) > 1e-6).map { v =>
      (fx * v(0) / v(2) + cx, fy * v(1) / v(2) + cy)
    }
    if (pts.isEmpty) None
    else {
      val xMin = math.max(0.0, pts.map(_._1).min)
      val yMin = math.max(0.0, pts.map(_._2).min)
      val xMax = math.min(width.toDouble, pts.map(_._1).max)
      val yMax = math.min(height.toDouble, pts.map(_._2).max)
      if (xMax <= xMin || yMax <= yMin) None else Some((xMin, yMin, xMax, yMax))
    }
  }

  /** Pinhole inverse: pixel (u, v) at depth d → camera-frame point.
    * Ref: taskonomy_processor.py:110-145 (G15 core).
    */
  def unprojectPoint(u: Double, v: Double, depth: Double,
                     fx: Double, fy: Double, cx: Double, cy: Double): Vec3 =
    Array((u - cx) * depth / fx, (v - cy) * depth / fy, depth)

  /** Extrinsics (camera-to-world 4×4) from camera position + Euler angles
    * in degrees. Ref: taskonomy_processor.py:83-107 (G14).
    */
  def extrinsicsFromPositionEuler(
      px: Double, py: Double, pz: Double,
      pitchDeg: Double, yawDeg: Double, rollDeg: Double): Mat4 = {
    val r = rotationMatrix(math.toRadians(pitchDeg), math.toRadians(yawDeg), math.toRadians(rollDeg))
    Array(
      Array(r(0)(0), r(0)(1), r(0)(2), px),
      Array(r(1)(0), r(1)(1), r(1)(2), py),
      Array(r(2)(0), r(2)(1), r(2)(2), pz),
      Array(0.0, 0.0, 0.0, 1.0)
    )
  }

  /** 2D→3D box lift from ROI depth statistics — the COCO pseudo-3D path
    * (coco_processor.py:121-232, G19): focal estimated as 0.7·image size,
    * center unprojected at the median ROI depth, X/Y extents from the
    * projected corners, depth extent from max(0.8·min(w,h), 2·depth std),
    * rejected when the median depth or any dimension falls outside sanity
    * bounds. Returns (center, dims) — zero rotation by construction.
    */
  def lift2dTo3d(
      x: Double, y: Double, w: Double, h: Double,
      medianDepth: Double, depthStd: Double,
      imageWidth: Int, imageHeight: Int): Option[(Vec3, Vec3)] = {
    if (medianDepth < 0.5 || medianDepth > 50.0) return None
    val fx = imageWidth * 0.7
    val fy = imageHeight * 0.7
    val cx = imageWidth / 2.0
    val cy = imageHeight / 2.0
    val center = unprojectPoint(x + w / 2.0, y + h / 2.0, medianDepth, fx, fy, cx, cy)
    val w3 = math.abs((x + w - cx) * medianDepth / fx - (x - cx) * medianDepth / fx)
    val h3 = math.abs((y + h - cy) * medianDepth / fy - (y - cy) * medianDepth / fy)
    val d3 = math.max(math.min(w3, h3) * 0.8, depthStd * 2.0)
    val minSize = 0.05
    if (w3 < minSize || h3 < minSize || d3 < minSize) None
    else Some((center, Array(w3, h3, d3)))
  }
}
