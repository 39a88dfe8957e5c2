package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded input generators. Everything is synthesised here in the formats
  * the library's processors read; nothing is downloaded. Each generator
  * returns what it planted, per dataset, so the output checks can compare
  * against it.
  */
final case class Planted(frames: Int, boxes: Long, files: Int, imageIds: Seq[String])

/** Zipf(s) over 1..n by inverse CDF on a cumulative table. */
final class Zipf(n: Int, s: Double, rng: Random) {
  private val cdf = {
    val w = (1 to n).map(k => math.pow(k.toDouble, -s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def at(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).min(n - 1) + 1
  }
  def next(): Int = at(rng.nextDouble())

  /** `count` draws, one from each of `count` equal-probability strata, in
    * seeded order: the histogram barely moves between seeds, so run time
    * does not swing with how many tail values a seed happens to draw.
    */
  def stratified(count: Int): () => Int = {
    val it = rng.shuffle((0 until count).map(i => at((i + rng.nextDouble()) / count))).iterator
    () => it.next()
  }
}

object Inputs {

  val Categories: IndexedSeq[String] = IndexedSeq(
    "chair", "table", "sofa", "bed", "lamp", "desk", "cabinet", "pillow", "door",
    "window", "shelf", "monitor", "plant", "toilet", "sink", "bathtub", "picture",
    "counter", "dresser", "box")

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  private def writeBytes(p: Path, b: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, b)
  }

  /** Grey PNG, 8- or 16-bit, from a per-pixel sample function. */
  def writeGray(p: Path, w: Int, h: Int, sixteenBit: Boolean)(sample: (Int, Int) => Int): Unit = {
    val img = new BufferedImage(w, h,
      if (sixteenBit) BufferedImage.TYPE_USHORT_GRAY else BufferedImage.TYPE_BYTE_GRAY)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { px(y * w + x) = sample(x, y); x += 1 }; y += 1 }
    img.getRaster.setSamples(0, 0, w, h, 0, px)
    Files.createDirectories(p.getParent)
    require(javax.imageio.ImageIO.write(img, "png", p.toFile), s"no PNG writer for $p")
  }

  /** Single float32 dataset named `dataset`, contiguous layout, in an HDF5
    * file with a version-0 superblock: the subset of the HDF5 File Format
    * Specification that `graft.vlm.Hdf5Lite` reads.
    */
  def hdf5Floats(dims: Seq[Long], vals: Array[Float]): Array[Byte] = {
    val name = "dataset"
    val undef = -1L
    val (heapData, treeAddr, snodAddr, dsetHdr) = (168, 200, 248, 296)
    def pad8(n: Int) = (n + 7) / 8 * 8
    val dsBody = pad8(8 + 8 * dims.length)
    val dtBody = pad8(8 + 12)
    val layBody = pad8(18)
    val hdrSize = (8 + dsBody) + (8 + dtBody) + (8 + layBody)
    val dataAddr = dsetHdr + 16 + hdrSize
    val total = dataAddr + vals.length * 4
    val b = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    b.put(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte))
    b.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0))
    b.putShort(4); b.putShort(16); b.putInt(0)
    b.putLong(0); b.putLong(undef); b.putLong(total.toLong); b.putLong(undef)
    b.putLong(0); b.putLong(96); b.putInt(0); b.putInt(0); b.putLong(0); b.putLong(0)
    // root object header: one symbol-table message
    b.position(96)
    b.put(1.toByte); b.put(0.toByte); b.putShort(1); b.putInt(1); b.putInt(24); b.putInt(0)
    b.putShort(0x0011); b.putShort(16); b.putInt(0)
    b.putLong(treeAddr.toLong); b.putLong(136L)
    // local heap holding the dataset name at offset 8
    b.position(136)
    b.put("HEAP".getBytes(UTF_8)); b.putInt(0)
    b.putLong(32); b.putLong(8L + name.length + 1); b.putLong(heapData.toLong)
    b.position(heapData + 8); b.put(name.getBytes(UTF_8)); b.put(0.toByte)
    // group B-tree with one symbol node, one entry
    b.position(treeAddr)
    b.put("TREE".getBytes(UTF_8)); b.put(0.toByte); b.put(0.toByte); b.putShort(1)
    b.putLong(undef); b.putLong(undef); b.putLong(8); b.putLong(snodAddr.toLong); b.putLong(8)
    b.position(snodAddr)
    b.put("SNOD".getBytes(UTF_8)); b.put(1.toByte); b.put(0.toByte); b.putShort(1)
    b.putLong(8); b.putLong(dsetHdr.toLong); b.putInt(0); b.putInt(0); b.putLong(0); b.putLong(0)
    // dataset header: dataspace, float32 datatype, contiguous layout
    b.position(dsetHdr)
    b.put(1.toByte); b.put(0.toByte); b.putShort(3); b.putInt(1); b.putInt(hdrSize); b.putInt(0)
    def msg(tpe: Int, declared: Int)(body: => Unit): Unit = {
      b.putShort(tpe.toShort); b.putShort(declared.toShort); b.putInt(0)
      val start = b.position()
      body
      while (b.position() < start + declared) b.put(0.toByte)
    }
    msg(0x0001, dsBody) {
      b.put(1.toByte); b.put(dims.length.toByte); b.put(Array.fill(6)(0.toByte))
      dims.foreach(b.putLong)
    }
    msg(0x0003, dtBody) {
      b.put(((1 << 4) | 1).toByte); b.put(Array[Byte](0, 0, 0)); b.putInt(4)
      b.putShort(0); b.putShort(32); b.put(23.toByte); b.put(8.toByte)
      b.put(0.toByte); b.put(23.toByte); b.putInt(127)
    }
    msg(0x0008, layBody) {
      b.put(3.toByte); b.put(1.toByte); b.putLong(dataAddr.toLong); b.putLong(vals.length * 4L)
    }
    b.position(dataAddr)
    vals.foreach(b.putFloat)
    b.array()
  }

  // ---- protobuf wire format, for Objectron .pbdata ------------------------

  private final class Pb {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): Pb = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def tag(field: Int, wire: Int): Pb = varint((field.toLong << 3) | wire)
    def f32(f: Float): Pb = {
      val bits = java.lang.Float.floatToIntBits(f)
      (0 until 4).foreach(i => out.write((bits >>> (8 * i)) & 0xff)); this
    }
    def f64(d: Double): Pb = {
      val bits = java.lang.Double.doubleToLongBits(d)
      (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt)); this
    }
    def msg(field: Int)(body: Pb => Unit): Pb = {
      val inner = new Pb; body(inner)
      tag(field, 2).varint(inner.out.size().toLong); inner.out.writeTo(out); this
    }
    def packed(field: Int, vs: Seq[Float]): Pb = msg(field)(b => vs.foreach(b.f32))
    def bytes: Array[Byte] = out.toByteArray
  }

  // ---- the six-dataset landing zone ----------------------------------------

  /** Landing-zone sizes. Rasters carry most of the decode work. */
  final case class LandingScale(
      sunScenes: Int, sunW: Int, sunH: Int,
      cocoImages: Int,
      mpFrames: Int,
      objVideos: Int, objFramesPerVideo: Int,
      hsScenes: Int, hsCams: Int, hsFrames: Int, hsW: Int, hsH: Int,
      tkLocations: Int, tkViews: Int, tkRes: Int)

  /** Writes `root/<dataset>/...` for all six datasets. */
  def landingZone(root: Path, seed: Long, sc: LandingScale): Map[String, Planted] = {
    val rng = new Random(seed)
    val boxesPer = new Zipf(12, 1.1, rng)
    def cat(): String = Categories(rng.nextInt(Categories.length))
    Map(
      "sunrgbd" -> sunrgbd(root.resolve("sunrgbd"), rng, sc, boxesPer.stratified(sc.sunScenes), () => cat()),
      "coco" -> coco(root.resolve("coco"), rng, sc, boxesPer.stratified(sc.cocoImages)),
      "matterport" -> matterport(root.resolve("matterport"), rng, sc, boxesPer.stratified(sc.mpFrames)),
      "objectron" -> objectron(root.resolve("objectron/chair"), rng, sc, boxesPer.stratified(sc.objVideos)),
      "hypersim" -> hypersim(root.resolve("hypersim"), rng, sc, () => cat()),
      // Omnidata's starter-set root name. A root named `taskonomy` pairs no
      // views: the processor keys views on the first `/taskonomy/` segment
      "taskonomy" -> taskonomy(root.resolve("omnidata"), rng, sc))
  }

  private def sunrgbd(root: Path, rng: Random, sc: LandingScale, nBoxes: () => Int,
      cat: () => String): Planted = {
    val sensors = Seq("kv1/NYUdata", "kv2/kinect2data", "realsense/lg")
    var boxes = 0L
    val ids = (0 until sc.sunScenes).map { i =>
      val id = f"sun_$i%05d"
      val scene = root.resolve(s"${sensors(i % sensors.length)}/$id")
      val fx = 500 + rng.nextInt(60)
      write(scene.resolve("intrinsics.txt"),
        s"$fx 0 ${sc.sunW / 2}\n0 $fx ${sc.sunH / 2}\n0 0 1\n")
      val t = Seq.fill(3)(f"${rng.nextGaussian()}%.4f")
      write(scene.resolve("extrinsics/20150101000000.txt"),
        s"1 0 0 ${t(0)}\n0 1 0 ${t(1)}\n0 0 1 ${t(2)}\n")
      val k = nBoxes()
      boxes += k
      val objs = (0 until k).map { _ =>
        val (x0, z0) = (rng.nextDouble() * 4 - 2, 1 + rng.nextDouble() * 4)
        val (dx, dz) = (0.2 + rng.nextDouble(), 0.2 + rng.nextDouble())
        val y0 = -1 + rng.nextDouble()
        val name = cat() + (if (rng.nextInt(4) == 0) ":occluded" else "")
        f"""{"name": "$name", "polygon": [{"rectangle": true, "X": [$x0%.4f, ${x0 + dx}%.4f, ${x0 + dx}%.4f, $x0%.4f], "Z": [$z0%.4f, $z0%.4f, ${z0 + dz}%.4f, ${z0 + dz}%.4f], "Ymin": $y0%.4f, "Ymax": ${y0 + 0.3 + rng.nextDouble()}%.4f}]}"""
      }
      write(scene.resolve("annotation3Dfinal/index.json"), objs.mkString("{\"objects\": [", ",\n", "]}"))
      val (base, slope) = (800 + rng.nextInt(2000), 1 + rng.nextInt(6))
      writeGray(scene.resolve("depth/depth.png"), sc.sunW, sc.sunH, sixteenBit = true) { (x, y) =>
        if ((x * 7 + y * 13) % 97 == 0) 0 else base + slope * (x + y) + (x * y) % 31
      }
      id
    }
    Planted(ids.length, boxes, ids.length * 4, ids)
  }

  private def coco(root: Path, rng: Random, sc: LandingScale, nBoxes: () => Int): Planted = {
    val images = new StringBuilder
    val anns = new StringBuilder
    var annId = 0L
    (0 until sc.cocoImages).foreach { i =>
      val (w, h) = (320 + 32 * rng.nextInt(11), 240 + 24 * rng.nextInt(11))
      if (i > 0) images.append(",\n")
      images.append(s"""{"id": ${100000 + i}, "file_name": "${100000 + i}.jpg", "width": $w, "height": $h}""")
      (1 until nBoxes()).foreach { _ =>
        val (bw, bh) = (4 + rng.nextInt(w / 3), 4 + rng.nextInt(h / 3))
        val (bx, by) = (rng.nextInt(w - bw), rng.nextInt(h - bh))
        if (annId > 0) anns.append(",\n")
        anns.append(s"""{"id": $annId, "image_id": ${100000 + i}, "category_id": ${1 + rng.nextInt(Categories.length)}, "bbox": [$bx, $by, $bw, $bh], "area": ${bw * bh}.0, "iscrowd": 0}""")
        annId += 1
      }
    }
    val cats = Categories.zipWithIndex.map { case (n, i) => s"""{"id": ${i + 1}, "name": "$n"}""" }
    write(root.resolve("labels.json"),
      s"""{"images": [$images],\n"annotations": [$anns],\n"categories": [${cats.mkString(", ")}]}""")
    Planted(sc.cocoImages, annId, 1, (0 until sc.cocoImages).map(i => (100000 + i).toString))
  }

  private def matterport(root: Path, rng: Random, sc: LandingScale, nBoxes: () => Int): Planted = {
    val perScene = 20
    val scenes = (sc.mpFrames + perScene - 1) / perScene
    val nInstances = 30
    val instances = Parquet.writer(root.resolve("instances.parquet"),
      "required binary scene_id (STRING); required binary sample_idx (STRING); required int64 bbox_id; " +
        "required double cx; required double cy; required double cz; required double dx; " +
        "required double dy; required double dz; required double rx; required double ry; " +
        "required double rz; required int64 label_id;")
    for (s <- 0 until scenes; b <- 0 until nInstances) {
      def d() = 0.2 + rng.nextDouble() * 2
      def a() = (rng.nextDouble() * 2 - 1) * math.Pi
      instances.write(instances.row("scene_id", f"mp_$s%03d", "sample_idx", f"matterport3d/mp_$s%03d/region0",
        "bbox_id", b.toLong, "cx", rng.nextGaussian() * 3, "cy", rng.nextGaussian() * 3, "cz", rng.nextGaussian(),
        "dx", d(), "dy", d(), "dz", d(), "rx", a(), "ry", a(), "rz", a(),
        // ids past the codebook fall back to class_<id>
        "label_id", 1L + rng.nextInt(Categories.length + 5)))
    }
    instances.close()
    val images = Parquet.writer(root.resolve("images.parquet"),
      "required binary scene_id (STRING); required binary sample_idx (STRING); required binary frame_id (STRING); " +
        "required binary img_path (STRING); " +
        "required group visible_instance_ids (LIST) { repeated group list { required int64 element; } }")
    var boxes = 0L
    val ids = (0 until sc.mpFrames).map { i =>
      val s = i / perScene
      val visible = rng.shuffle((0L until nInstances.toLong).toList).take(nBoxes())
      boxes += visible.length
      val g = images.row("scene_id", f"mp_$s%03d", "sample_idx", f"matterport3d/mp_$s%03d/region0",
        "frame_id", f"f_$i%05d", "img_path", f"matterport3d/mp_$s%03d/matterport_color_images/f_$i%05d.jpg")
      val list = g.addGroup("visible_instance_ids")
      visible.foreach(v => list.addGroup("list").append("element", v))
      images.write(g)
      f"mp_$s%03d_f_$i%05d"
    }
    images.close()
    val categories = Parquet.writer(root.resolve("categories.parquet"),
      "required int64 label_id; required binary name (STRING);")
    Categories.zipWithIndex.foreach { case (n, i) =>
      categories.write(categories.row("label_id", i + 1L, "name", n))
    }
    categories.close()
    Planted(ids.length, boxes, 3, ids)
  }

  private def objectron(dir: Path, rng: Random, sc: LandingScale, nObjs: () => Int): Planted = {
    val sampleRate = 10
    var boxes = 0L
    val ids = (0 until sc.objVideos).flatMap { v =>
      val video = f"chair_batch-$v%03d"
      val pb = new Pb
      val objs = nObjs().min(4)
      val kept = (0 until sc.objFramesPerVideo by sampleRate).length
      boxes += kept.toLong * objs
      (0 until sc.objFramesPerVideo).foreach { f =>
        pb.msg(2) { fr =>
          fr.tag(1, 0).varint(f.toLong)
          (0 until objs).foreach { o =>
            val (cx, cy, cz) = (o * 0.7f + rng.nextFloat() * 0.1f, rng.nextFloat(), -1.5f - o * 0.5f)
            val (w, h, d) = (0.3f + rng.nextFloat(), 0.3f + rng.nextFloat(), 0.3f + rng.nextFloat())
            fr.msg(2) { b =>
              b.tag(1, 0).varint(o.toLong)
              def point(x: Float, y: Float, z: Float): Unit =
                b.msg(2)(kp => kp.msg(2)(p => p.tag(1, 5).f32(x).tag(2, 5).f32(y).tag(3, 5).f32(z)))
              point(cx, cy, cz)
              for (i <- 0 until 8)
                point(cx + (if ((i & 1) != 0) w else 0f), cy + (if ((i & 4) != 0) h else 0f),
                  cz + (if ((i & 2) != 0) d else 0f))
              b.tag(3, 5).f32(0.5f + rng.nextFloat() / 2)
            }
          }
          fr.msg(3) { cam =>
            cam.tag(5, 0).varint(1440).tag(6, 0).varint(1920)
            cam.packed(7, Seq(1500f, 0f, 720f, 0f, 1500f, 960f, 0f, 0f, 1f))
            cam.packed(9, Seq(1f, 0f, 0f, rng.nextFloat(), 0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f, 1f))
          }
          fr.tag(4, 1).f64(f / 30.0)
        }
      }
      writeBytes(dir.resolve(s"$video.pbdata"), pb.bytes)
      (0 until kept).map(k => f"${video}_frame_$k%04d")
    }
    Planted(ids.length, boxes, sc.objVideos, ids)
  }

  private def hypersim(root: Path, rng: Random, sc: LandingScale, cat: () => String): Planted = {
    val nBoxes = 24
    var boxes = 0L
    val ids = (0 until sc.hsScenes).flatMap { s =>
      val scene = f"ai_$s%03d_001"
      val detail = root.resolve(s"$scene/_detail")
      def h5(p: Path, dims: Seq[Long], v: Array[Float]): Unit = writeBytes(p, hdf5Floats(dims, v))
      val mesh = detail.resolve("mesh/metadata_semantic_instance_bounding_box_object_aligned_2d_")
      h5(Path.of(mesh + "positions.hdf5"), Seq(nBoxes.toLong, 3L),
        Array.fill(nBoxes * 3)((rng.nextGaussian() * 2).toFloat))
      h5(Path.of(mesh + "extents.hdf5"), Seq(nBoxes.toLong, 3L),
        Array.fill(nBoxes * 3)(0.2f + rng.nextFloat() * 2))
      h5(Path.of(mesh + "orientations.hdf5"), Seq(nBoxes.toLong, 3L, 3L),
        (0 until nBoxes).toArray.flatMap { _ =>
          val a = (rng.nextDouble() - 0.5) * math.Pi
          val (c, si) = (math.cos(a).toFloat, math.sin(a).toFloat)
          Array(c, -si, 0f, si, c, 0f, 0f, 0f, 1f)
        })
      write(detail.resolve("metadata_nodes.csv"),
        (0 until nBoxes).map(i => s"$i,node$i,${cat()},obj$i").mkString("node_id,node_name,object_name,object_id\n", "\n", "\n"))
      (0 until sc.hsCams).flatMap { c =>
        val cam = f"cam_$c%02d"
        val keyframes = (0 until sc.hsFrames by 4).map(_.toFloat).toArray
        h5(detail.resolve(s"$cam/camera_keyframe_frame_indices.hdf5"), Seq(keyframes.length.toLong), keyframes)
        h5(detail.resolve(s"$cam/camera_keyframe_positions.hdf5"), Seq(keyframes.length.toLong, 3L),
          Array.fill(keyframes.length * 3)((rng.nextGaussian() * 0.5).toFloat))
        h5(detail.resolve(s"$cam/camera_keyframe_orientations.hdf5"), Seq(keyframes.length.toLong, 3L, 3L),
          Array.fill(keyframes.length)(Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)).flatten)
        val geo = root.resolve(s"$scene/images/scene_${cam}_geometry_hdf5")
        (0 until sc.hsFrames).map { f =>
          val (w, h) = (sc.hsW, sc.hsH)
          val base = 1f + rng.nextFloat() * 3
          val depth = Array.tabulate(w * h) { i =>
            if (i % 53 == 0) 0f else base + (i % w) * 0.01f + (i / w) * 0.005f
          }
          // instance raster: a grid of blocks, -1 where nothing is visible
          val visible = rng.shuffle((0 until nBoxes).toList).take(3 + rng.nextInt(6)).toArray
          boxes += visible.length
          val sem = Array.tabulate(w * h) { i =>
            val cell = ((i / w) * 4 / h) * 4 + (i % w) * 4 / w
            if (cell < visible.length) visible(cell).toFloat else -1f
          }
          h5(geo.resolve(f"frame.$f%04d.depth_meters.hdf5"), Seq(h.toLong, w.toLong), depth)
          h5(geo.resolve(f"frame.$f%04d.semantic_instance.hdf5"), Seq(h.toLong, w.toLong), sem)
          f"${scene}_${cam}_frame_$f%04d"
        }
      }
    }
    val files = sc.hsScenes * (4 + sc.hsCams * (3 + 2 * sc.hsFrames))
    Planted(ids.length, boxes, files, ids)
  }

  private def taskonomy(root: Path, rng: Random, sc: LandingScale): Planted = {
    val r = sc.tkRes
    val ids = (0 until sc.tkLocations).flatMap { l =>
      val loc = f"loc_$l%02d"
      def dir(domain: String) = root.resolve(s"$domain/taskonomy/$loc")
      (0 until sc.tkViews).map { v =>
        val view = s"point_${v}_view_0"
        val fov = 0.9 + rng.nextDouble() * 0.3
        val p = Seq.fill(3)(f"${rng.nextGaussian()}%.4f").mkString(", ")
        val rot = Seq.fill(3)(f"${rng.nextDouble() - 0.5}%.4f").mkString(", ")
        write(dir("point_info").resolve(s"${view}_domain_point_info.json"),
          s"""{"resolution": $r, "field_of_view_rads": $fov, "camera_location": [$p], "camera_rotation_final": [$rot]}""")
        // instances: a 3×3 grid of blocks; block k carries instance k + 1
        val n = 2 + rng.nextInt(7)
        def block(x: Int, y: Int): Int = {
          val (bx, by) = (x * 3 / r, y * 3 / r)
          val k = by * 3 + bx
          val inner = x % (r / 3) > 2 && y % (r / 3) > 2
          if (k < n && inner) k + 1 else 0
        }
        writeGray(dir("segment_unsup25d").resolve(s"${view}_domain_segment_unsup25d.png"), r, r,
          sixteenBit = false)(block)
        writeGray(dir("segment_semantic").resolve(s"${view}_domain_segmentsemantic.png"), r, r,
          sixteenBit = false)((x, y) => if (block(x, y) == 0) 0 else 1 + block(x, y) % 5)
        val base = 1000 + rng.nextInt(1500)
        writeGray(dir("depth_euclidean").resolve(s"${view}_domain_depth_euclidean.png"), r, r,
          sixteenBit = true)((x, y) => base + 8 * x + 3 * y)
        s"${loc}_$view"
      }
    }
    Planted(ids.length, -1L, ids.length * 4, ids)
  }

  // ---- the Zipf frame corpus for QA-only runs -------------------------------

  /** Unified-JSON frames, one JSON document per line, spread over per-scene
    * files. Boxes per frame follow Zipf(1.1) over 1..`maxBoxes`, so the tail
    * passes the pair tasks' box cap; categories are Zipf too and mix real
    * names with `class_N`/`object_N` labels.
    */
  def frameCorpus(root: Path, seed: Long, nFrames: Int, maxBoxes: Int, framesPerFile: Int): Planted = {
    val rng = new Random(seed)
    val boxesPer = new Zipf(maxBoxes, 1.1, rng).stratified(nFrames)
    val vocab = Categories ++ (1 to 20).map(i => s"class_$i") ++ (1 to 20).map(i => s"object_$i")
    val catZipf = new Zipf(vocab.length, 1.1, rng)
    var boxes = 0L
    def num(d: Double) = f"$d%.4f"
    val ids = (0 until nFrames).map(i => f"zf_$i%06d")
    ids.grouped(framesPerFile).zipWithIndex.foreach { case (group, g) =>
      val sb = new StringBuilder
      group.foreach { id =>
        val k = boxesPer()
        boxes += k
        val b3 = (0 until k).map { _ =>
          s"""{"x":${num(rng.nextGaussian() * 2)},"y":${num(rng.nextGaussian() * 0.5)},"z":${num(1 + rng.nextDouble() * 6)},""" +
            s""""xl":${num(0.1 + rng.nextDouble() * 2)},"yl":${num(0.1 + rng.nextDouble() * 2)},"zl":${num(0.1 + rng.nextDouble() * 2)},""" +
            s""""pitch":0.0,"yaw":${num(rng.nextDouble() - 0.5)},"roll":0.0,"category":"${vocab(catZipf.next() - 1)}"}"""
        }
        val b2 = if (rng.nextBoolean()) Seq.empty[String] else (0 until (k / 2).min(16)).map { _ =>
          val (x, y, w, h) = (rng.nextInt(500), rng.nextInt(380), 5 + rng.nextInt(120), 5 + rng.nextInt(90))
          s"""{"x":$x.0,"y":$y.0,"w":$w.0,"h":$h.0,"area":${w * h}.0,"category":"${vocab(catZipf.next() - 1)}"}"""
        }
        val t = Seq.fill(3)(num(rng.nextGaussian() * 0.3))
        sb.append(s"""{"dataset":"zipf","split":"train","image_id":"$id","scene_id":"scene_$g","frame_id":"$id",""")
        sb.append(""""depth_type":"none","camera":{"fx":525.0,"fy":525.0,"cx":320.0,"cy":240.0,"image_width":640,"image_height":480,""")
        sb.append(""""intrinsics":[[525.0,0.0,320.0],[0.0,525.0,240.0],[0.0,0.0,1.0]],""")
        sb.append(s""""extrinsics":[[1.0,0.0,0.0,${t(0)}],[0.0,1.0,0.0,${t(1)}],[0.0,0.0,1.0,${t(2)}],[0.0,0.0,0.0,1.0]]},""")
        sb.append(s""""bounding_boxes_2d":[${b2.mkString(",")}],"bounding_boxes_3d":[${b3.mkString(",")}]}""")
        sb.append('\n')
      }
      write(root.resolve(f"zipf/scene_$g%04d/frames.json"), sb.toString)
    }
    Planted(nFrames, boxes, (nFrames + framesPerFile - 1) / framesPerFile, ids)
  }
}

/** Single-file parquet tables through parquet-mr's example Group writer, so
  * generation needs no Spark session (the timed session must be the first).
  */
object Parquet {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.MessageTypeParser

  final class Writer(w: ParquetWriter[Group], factory: SimpleGroupFactory) {
    /** A row from alternating field names and values. */
    def row(kv: Any*): Group = {
      val g = factory.newGroup()
      kv.grouped(2).foreach {
        case Seq(k: String, v: String) => g.append(k, v)
        case Seq(k: String, v: Long) => g.append(k, v)
        case Seq(k: String, v: Double) => g.append(k, v)
        case other => sys.error(s"unsupported parquet field $other")
      }
      g
    }
    def write(g: Group): Unit = w.write(g)
    def close(): Unit = w.close()
  }

  def writer(file: Path, fields: String): Writer = {
    Files.createDirectories(file)
    val schema = MessageTypeParser.parseMessageType(s"message m { $fields }")
    val out = new org.apache.hadoop.fs.Path(file.resolve("part-00000.parquet").toUri)
    val w = ExampleParquetWriter.builder(out).withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    new Writer(w, new SimpleGroupFactory(schema))
  }
}
