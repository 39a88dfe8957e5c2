package graft.vlm

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants for the geometry kernels (SURVEY §5 test plan
  * item a): rotation orthonormality, angle-normalization range/periodicity,
  * vertex symmetry, distance symmetry, projection/unprojection inverses.
  */
object GeoProps extends Properties("Geo") {

  private val angle = Gen.choose(-720.0, 720.0)
  private val coord = Gen.choose(-50.0, 50.0)
  private val dim = Gen.choose(0.05, 10.0)
  private val depth = Gen.choose(0.5, 50.0)

  private def approx(a: Double, b: Double, eps: Double = 1e-9) = math.abs(a - b) <= eps

  private val triple = Gen.zip(coord, coord, coord)
  private val dims3 = Gen.zip(dim, dim, dim)
  private val angles3 = Gen.zip(angle, angle, angle)

  property("normalizeAngle stays in [-1, 1]") = forAll(angle) { a =>
    val n = Geo.normalizeAngle(a)
    n >= -1.0 && n <= 1.0
  }

  property("normalizeAngle is 360-periodic") = forAll(Gen.choose(-360.0, 360.0)) { a =>
    approx(Geo.normalizeAngle(a), Geo.normalizeAngle(a + 360.0), 1e-9)
  }

  property("rotationMatrix is orthonormal (R·Rt = I)") =
    forAll(angle, angle, angle) { (p, y, r) =>
      val m = Geo.rotationMatrix(math.toRadians(p), math.toRadians(y), math.toRadians(r))
      val errs = for (i <- 0 until 3; j <- 0 until 3) yield {
        val dot = (0 until 3).map(k => m(i)(k) * m(j)(k)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0))
      }
      errs.max < 1e-9
    }

  property("bboxVertices: centroid of the 8 vertices is the box center") =
    forAll(triple, dims3, angles3) { case ((x, y, z), (xl, yl, zl), (p, yw, r)) =>
      val np = Geo.normalizeAngle(p); val ny = Geo.normalizeAngle(yw); val nr = Geo.normalizeAngle(r)
      val v = Geo.bboxVertices(x, y, z, xl, yl, zl, np, ny, nr)
      v.length == 8 &&
        approx(v.map(_(0)).sum / 8, x, 1e-6) &&
        approx(v.map(_(1)).sum / 8, y, 1e-6) &&
        approx(v.map(_(2)).sum / 8, z, 1e-6)
    }

  property("bboxVertices: main diagonal is rotation-invariant") =
    forAll(dims3, angles3) { case ((xl, yl, zl), (p, yw, r)) =>
      val v = Geo.bboxVertices(0, 0, 0, xl, yl, zl,
        Geo.normalizeAngle(p), Geo.normalizeAngle(yw), Geo.normalizeAngle(r))
      val diag = (for (i <- 0 until 8; j <- i + 1 until 8) yield
        math.sqrt((0 until 3).map(k => math.pow(v(i)(k) - v(j)(k), 2)).sum)).max
      approx(diag, math.sqrt(xl * xl + yl * yl + zl * zl), 1e-6)
    }

  property("minDistanceBetweenBoxes is symmetric, nonnegative, zero on self") =
    forAll(triple, triple) { case ((x1, y1, z1), (x2, y2, z2)) =>
      val a = Geo.bboxVertices(x1, y1, z1, 1, 1, 1, 0, 0, 0)
      val b = Geo.bboxVertices(x2, y2, z2, 1, 1, 1, 0, 0, 0)
      val ab = Geo.minDistanceBetweenBoxes(a, b)
      val ba = Geo.minDistanceBetweenBoxes(b, a)
      approx(ab, ba, 1e-9) && ab >= 0.0 && approx(Geo.minDistanceBetweenBoxes(a, a), 0.0)
    }

  property("invertRigid: M · M⁻¹ maps points to themselves") =
    forAll(angles3, triple, triple) { case ((p, yw, r), (tx, ty, tz), (px, py, pz)) =>
      val m = Geo.extrinsicsFromPositionEuler(tx, ty, tz, p, yw, r)
      val inv = Geo.invertRigid(m)
      val pt = Array(Array(px, py, pz))
      val back = Geo.transformPoints(inv, Geo.transformPoints(m, pt))
      (0 until 3).forall(k => approx(back(0)(k), pt(0)(k), 1e-6))
    }

  property("unprojectPoint inverts the pinhole projection") =
    forAll(Gen.choose(0.0, 640.0), Gen.choose(0.0, 480.0), depth) { (u, v, d) =>
      val pt = Geo.unprojectPoint(u, v, d, 500, 480, 320, 240)
      approx(500 * pt(0) / pt(2) + 320, u, 1e-6) && approx(480 * pt(1) / pt(2) + 240, v, 1e-6)
    }

  property("quaternion→euler→matrix round-trips the rotation") =
    forAll(Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(-1.0, 1.0)), Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(-1.0, 1.0))) { case ((qx, qy), (qz, qw)) =>
      val n = math.sqrt(qx * qx + qy * qy + qz * qz + qw * qw)
      (n < 1e-6) || {
        val (x, y, z, w) = (qx / n, qy / n, qz / n, qw / n)
        val m1 = Geo.quatToMatrix(x, y, z, w)
        val (p, yw, r) = Geo.matrixToEulerXYZDeg(m1)
        // gimbal-lock rows are excluded: the euler decomposition is not
        // unique there, so only compare away from |pitch| = 90°
        val nearLock = math.abs(math.abs(m1(2)(0)) - 1.0) < 1e-3
        nearLock || {
          val m2 = Geo.rotationMatrix(math.toRadians(p), math.toRadians(yw), math.toRadians(r))
          (for (i <- 0 until 3; j <- 0 until 3) yield math.abs(m1(i)(j) - m2(i)(j))).max < 1e-6
        }
      }
    }

  // ---- relative position: the native expression against the Geo kernel
  private val vertsType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  private val relPos = graft.functions.RelativePosition(
    BoundReference(0, vertsType, nullable = false), BoundReference(1, vertsType, nullable = false), 0.1)
  private val relPosCodegen = GenerateUnsafeProjection.generate(Seq(relPos))

  /** Center offsets on, just off and far from the 0.1 threshold. */
  private val offset: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(0.1, -0.1, 0.0),
    3 -> Gen.zip(Gen.oneOf(0.1, -0.1), Gen.choose(-3, 3)).map { case (d, k) => d + k * math.ulp(d) },
    2 -> Gen.choose(-0.2, 0.2),
    2 -> Gen.choose(-20.0, 20.0))

  property("RelativePosition expression equals enhancedRelativePosition, at the 0.1 threshold too") =
    forAll(triple, dims3, angles3, Gen.zip(offset, offset, offset), Gen.oneOf(true, false)) {
      case ((x, y, z), (xl, yl, zl), (p, yw, r), (dx, dy, dz), rotated) =>
        val (np, ny, nr) =
          if (rotated) (Geo.normalizeAngle(p), Geo.normalizeAngle(yw), Geo.normalizeAngle(r)) else (0.0, 0.0, 0.0)
        // box 2 is box 1 moved by the offsets: its center differences sit at
        // |Δ| ≈ 0.1, where rounding decides the side of the threshold
        val a = Geo.bboxVertices(x, y, z, xl, yl, zl, np, ny, nr)
        val b = a.map(v => Array(v(0) + dx, v(1) + dy, v(2) + dz))
        relPosMatches(b, a)
    }

  property("RelativePosition expression equals enhancedRelativePosition at |Δ| = 0.1 exactly") =
    forAll(Gen.oneOf(0, 1, 2), Gen.oneOf(0.1, -0.1, math.nextUp(0.1), math.nextDown(0.1), math.nextDown(-0.1))) { (axis, d) =>
      // one-vertex sets: the centroid is the vertex, so Δ is d itself
      val a = Array(Array(0.0, 0.0, 0.0))
      val b = Array(Array.tabulate(3)(k => if (k == axis) d else 0.0))
      val relation = Geo.enhancedRelativePosition(b, a).productElement(Seq(1, 2, 0)(axis)).toString
      relPosMatches(b, a) && relation.startsWith("Same") == (math.abs(d) < 0.1)
    }

  /** The expression, interpreted and generated, against the Geo kernel. */
  private def relPosMatches(b: Array[Array[Double]], a: Array[Array[Double]]): Boolean = {
    val (d, h, v, cd) = Geo.enhancedRelativePosition(b, a)
    def arrayData(vs: Array[Array[Double]]) = new GenericArrayData(vs.map(p => new GenericArrayData(p): AnyRef))
    val input = InternalRow(arrayData(b), arrayData(a))
    Seq(relPos.eval(input).asInstanceOf[InternalRow], relPosCodegen(input).getStruct(0, 4)).forall { out =>
      out.getUTF8String(0).toString == d && out.getUTF8String(1).toString == h &&
        out.getUTF8String(2).toString == v && out.getDouble(3) == cd
    }
  }
}
