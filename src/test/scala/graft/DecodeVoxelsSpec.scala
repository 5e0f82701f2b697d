package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.functions.{DecodeVoxelsExec, DecodeVoxelsStrategy}
import graft.sources.PrecomputedIO

/** Differential spec for the DecodeVoxels cutout generator: for every
  * encoding it dispatches, cutout rows equal a brute-force decode of
  * every chunk object (core codecs, no Spark) followed by a scalar clip.
  * The layers have edge chunks smaller than chunk_size and a non-zero
  * voxel offset; boxes are unaligned, reach past the volume, cover only
  * an edge chunk, or miss most chunks of an unpruned scan entirely.
  * Buffering consumers (sort, cache, union) pin that the generator's
  * reused row is copied before anything holds it. The cutouts run on
  * DecodeVoxelsExec; a differential pins its rows to the GenerateExec
  * fallback, and its SQL metrics to the rows it emitted.
  */
class DecodeVoxelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root: Path = Files.createTempDirectory("graft_decode_voxels")

  // 3 x 2 x 2 chunks; edge chunks are 4 x 4 x 3 (x and y stay multiples
  // of 4 for compresso)
  private val offset = Vec3(3, 1, 2)
  private val size = Vec3(20, 12, 7)
  private val chunk = Vec3(8, 8, 4)
  private val bounds = Bbox(offset, offset + size)

  private val boxes = Seq(
    "whole volume" -> bounds,
    "unaligned interior" -> Bbox(offset + Vec3(2, 1, 1), offset + Vec3(17, 10, 6)),
    "reaches past the volume" ->
      Bbox(offset - Vec3(5, 5, 5), offset + Vec3(9, 3, 2)),
    "edge chunk only" -> Bbox(bounds.maxpt - Vec3(3, 2, 2), bounds.maxpt + Vec3(4, 4, 4)))

  /** Hashed, piecewise-constant labels (2x2x2 cells), masked to `bits`. */
  private def value(x: Long, y: Long, z: Long, bits: Int): Long = {
    var h = (x / 2) * 0x9E3779B97F4A7C15L ^ (y / 2) * 0xC2B2AE3D27D4EB4FL ^
      (z / 2) * 0x165667B19E3779F9L
    h ^= h >>> 29
    if (bits == 64) h else h & ((1L << bits) - 1)
  }

  /** One fixture layer: its info, how a chunk's F-order voxels encode,
    * and the brute-force core-codec decode of one chunk object. */
  private case class Layer(name: String, dataType: String, encoding: String,
      bits: Int, encode: (Array[Long], Vec3) => Array[Byte],
      decode: (Array[Byte], Vec3) => Array[Long],
      csegBlock: Option[Vec3] = None) {
    val dir: String = root.resolve(name).toString
    val dtb: Int = VolumeMeta(dataType = dataType, layerType = "segmentation",
      numChannels = 1, scales = Nil).dtypeBytes
    val scale: ScaleMeta = ScaleMeta(key = "1_1_1", encoding = encoding,
      resolution = Seq(1, 1, 1), chunkSize = chunk, size = size,
      voxelOffset = offset, csegBlockSize = csegBlock)
  }

  private def raw(dt: String, bits: Int, dtb: Int) =
    Layer(s"raw_$dt", dt, "raw", bits,
      (v, _) => Codec.encodeRawFromLongs(v, dtb),
      (p, _) => Codec.decodeRawToLongs(p, dtb))

  private val layers = Seq(
    raw("uint8", 8, 1), raw("uint16", 16, 2), raw("uint32", 32, 4),
    raw("uint64", 64, 8),
    Layer("cseg_u32", "uint32", "compressed_segmentation", 32,
      (v, s) => Cseg.encode(v, s, Vec3(4, 4, 2), 4),
      (p, s) => Cseg.decode(p, s, Vec3(4, 4, 2), 4), Some(Vec3(4, 4, 2))),
    Layer("cseg_u64", "uint64", "compressed_segmentation", 64,
      (v, s) => Cseg.encode(v, s, Vec3(8, 8, 8), 8),
      (p, s) => Cseg.decode(p, s, Vec3(8, 8, 8), 8)),
    Layer("compresso", "uint32", "compresso", 24,
      (v, s) => Compresso.encode(v, s), (p, _) => Compresso.decode(p)._2),
    Layer("png8", "uint8", "png", 8,
      (v, s) => Codec.encodePng(v.map(_.toByte), s.x.toInt),
      (p, _) => Codec.decodePng(p).map(_ & 0xffL)),
    Layer("png16", "uint16", "png", 16,
      (v, s) => Codec.encodePng16(v, s.x.toInt), (p, _) => Codec.decodePng16(p)),
    Layer("npz", "uint32", "npz", 32,
      (v, s) => Codec.encodeNpz(v, s, 4), (p, _) => Codec.decodeNpz(p)._2))

  private val f32 = raw("float32", 32, 4).copy(name = "float32")
  private val rgb = raw("uint8", 8, 1).copy(name = "rgb")

  // missing chunk object of the fill_missing layer
  private val missingGrid = Vec3(1, 0, 1)
  private val missing = raw("uint32", 32, 4).copy(name = "missing_bg")
  private val Background = 77L

  private def meta(l: Layer, nc: Int = 1) = VolumeMeta(layerType = "segmentation",
    dataType = l.dataType, numChannels = nc, scales = Seq(l.scale))

  private def grid: Seq[Vec3] = Geom.gridpoints(bounds, bounds, chunk)

  private def chunkVoxels(cb: Bbox, bits: Int, channel: Int = 0): Array[Long] = {
    val s = cb.size
    Array.tabulate((s.x * s.y * s.z).toInt) { i =>
      val x = cb.minpt.x + i % s.x
      val y = cb.minpt.y + (i / s.x) % s.y
      val z = cb.minpt.z + i / (s.x * s.y)
      value(x + 31 * channel, y, z, bits)
    }
  }

  private def write(l: Layer, nc: Int = 1)(
      payload: Bbox => Array[Byte]): Unit = {
    PrecomputedIO.writeInfo(l.dir, meta(l, nc))
    Files.createDirectories(root.resolve(l.name).resolve(l.scale.key))
    for (g <- grid)
      Files.write(PrecomputedIO.chunkPath(l.dir, l.scale, g),
        payload(Geom.chunkBbox(g, bounds, chunk)))
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (l <- layers :+ missing)
      write(l)(cb => l.encode(chunkVoxels(cb, l.bits), cb.size))
    Files.delete(PrecomputedIO.chunkPath(missing.dir, missing.scale, missingGrid))
    write(f32)(cb => Codec.encodeRawFloatsFromDoubles(
      chunkVoxels(cb, 16).map(_ * 0.25 - 7.5), 4))
    write(rgb, nc = 3)(cb => Codec.encodeRawFromLongs(
      (0 until 3).toArray.flatMap(c => chunkVoxels(cb, 8, c)), 1))
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  /** Dense (x, y, z) -> value map from decoding every chunk object with
    * the core codecs; a missing object reads as `bg`. */
  private def bruteForce(l: Layer, bg: Long = 0L): Map[(Long, Long, Long), Long] =
    grid.flatMap { g =>
      val cb = Geom.chunkBbox(g, bounds, chunk)
      val s = cb.size
      val vox = PrecomputedIO.readChunkBytes(l.dir, l.scale, g)
        .map(l.decode(_, s))
        .getOrElse(Array.fill((s.x * s.y * s.z).toInt)(bg))
      for (z <- cb.minpt.z until cb.maxpt.z; y <- cb.minpt.y until cb.maxpt.y;
           x <- cb.minpt.x until cb.maxpt.x)
        yield (x, y, z) -> vox(((x - cb.minpt.x) +
          s.x * ((y - cb.minpt.y) + s.y * (z - cb.minpt.z))).toInt)
    }.toMap

  private def clip(dense: Map[(Long, Long, Long), Long],
      box: Bbox): Seq[(Long, Long, Long, Long)] =
    dense.collect { case ((x, y, z), v)
        if x >= box.minpt.x && x < box.maxpt.x && y >= box.minpt.y &&
          y < box.maxpt.y && z >= box.minpt.z && z < box.maxpt.z =>
      (x, y, z, v)
    }.toSeq.sorted

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq.sorted

  for (l <- layers) test(s"${l.name}: cutout rows match brute-force decode + clip") {
    assert(Seq("x", "y", "z", "label") ==
      PrecomputedIO.cutoutVoxels(spark, l.dir, bounds).columns.toSeq)
    val dense = bruteForce(l)
    assert(dense.size == size.x * size.y * size.z)
    for ((what, box) <- boxes) {
      val want = clip(dense, box)
      assert(want.nonEmpty, s"$what selects no voxel")
      assert(rows(PrecomputedIO.cutoutVoxels(spark, l.dir, box)) == want,
        s"${l.name} / $what")
    }
  }

  test("null payload (fill_missing) emits the non-zero background") {
    val dense = bruteForce(missing, Background)
    val missingBox = Geom.chunkBbox(missingGrid, bounds, chunk)
    assert(clip(dense, missingBox).forall(_._4 == Background))
    for ((what, box) <- boxes :+ ("missing chunk" -> missingBox)) {
      val got = rows(PrecomputedIO.cutoutVoxels(spark, missing.dir, box,
        fillMissing = true, background = Background))
      assert(got == clip(dense, box), s"missing_bg / $what")
    }
  }

  test("chunks whose intersection with the box is empty emit no rows") {
    // an unpruned scan hands the generator all 12 chunks; only the one
    // holding the box may emit
    val l = layers.find(_.name == "cseg_u32").get
    val box = Bbox(offset + Vec3(9, 2, 1), offset + Vec3(11, 5, 3))
    val df = PrecomputedIO.decodeToVoxels(
      PrecomputedIO.readChunks(spark, l.dir), box, l.scale, l.dtb)
    assert(rows(df) == clip(bruteForce(l), box))
    assert(rows(df).size == 2 * 3 * 2)
  }

  test("float and multi-channel cutouts share the clip iterator") {
    val box = boxes(1)._2
    val inBox = for (x <- box.minpt.x until box.maxpt.x;
      y <- box.minpt.y until box.maxpt.y; z <- box.minpt.z until box.maxpt.z)
      yield (x, y, z)

    val fl = PrecomputedIO.cutoutVoxelsFloat(spark, f32.dir, box)
    assert(fl.columns.toSeq == Seq("x", "y", "z", "value"))
    assert(fl.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    val gotF = fl.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(gotF == inBox.map { case (x, y, z) =>
      (x, y, z, value(x, y, z, 16) * 0.25 - 7.5) })

    val ch = PrecomputedIO.cutoutVoxelsChannels(spark, rgb.dir, box, Seq(2, 0))
    assert(ch.columns.toSeq == Seq("x", "y", "z", "c", "value"))
    val gotC = ch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(gotC == inBox.flatMap { case (x, y, z) =>
      Seq(0L, 2L).map(c => (x, y, z, c, value(x + 31 * c, y, z, 8))) }.sorted)

    // the integer cutout still accepts the longer channel-major payload
    // and reads channel 0
    assert(rows(PrecomputedIO.cutoutVoxels(spark, rgb.dir, box)) ==
      inBox.map { case (x, y, z) => (x, y, z, value(x, y, z, 8)) })
  }

  test("buffering consumers copy the reused row (sort, cache, union)") {
    val l = layers.find(_.name == "cseg_u32").get
    val box = boxes(1)._2
    val want = clip(bruteForce(l), box)
    val df = PrecomputedIO.cutoutVoxels(spark, l.dir, box)

    val sorted = df.orderBy(col("x"), col("y"), col("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(sorted == want)

    val cached = df.cache()
    try {
      assert(cached.count() == want.size)
      assert(rows(cached) == want)
      assert(rows(cached) == want)
    } finally cached.unpersist()

    assert(rows(df.union(df)) == (want ++ want).sorted)
    assert(df.union(df).distinct().count() == want.size)
  }

  private def decodeExecs(plan: SparkPlan): Seq[DecodeVoxelsExec] =
    plan.collect { case e: DecodeVoxelsExec => e }

  private def generates(plan: SparkPlan): Int =
    plan.collect { case g: GenerateExec => g }.size

  /** Run `f` with the decode strategy removed from the session's
    * experimental strategies, then put them back. */
  private def withoutStrategy[T](f: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == DecodeVoxelsStrategy)
    try f finally spark.experimental.extraStrategies = saved
  }

  test("a plain session executes cutouts through DecodeVoxelsExec") {
    // the suite's session has no extensions and never calls install:
    // building the cutout installs the strategy
    val l = layers.find(_.name == "cseg_u32").get
    val df = PrecomputedIO.cutoutVoxels(spark, l.dir, boxes(1)._2)
    val plan = df.queryExecution.executedPlan
    assert(decodeExecs(plan).size == 1, plan)
    assert(generates(plan) == 0, plan)
    assert(rows(df) == clip(bruteForce(l), boxes(1)._2))
  }

  test("GenerateExec fallback returns the same rows for every encoding") {
    def strings(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val cutouts: Seq[(String, Bbox => DataFrame)] =
      layers.map(l => l.name -> ((b: Bbox) =>
        PrecomputedIO.cutoutVoxels(spark, l.dir, b))) ++ Seq(
        "missing_bg" -> ((b: Bbox) => PrecomputedIO.cutoutVoxels(spark,
          missing.dir, b, fillMissing = true, background = Background)),
        "float32" -> ((b: Bbox) => PrecomputedIO.cutoutVoxelsFloat(spark, f32.dir, b)),
        "rgb channels" -> ((b: Bbox) =>
          PrecomputedIO.cutoutVoxelsChannels(spark, rgb.dir, b, Seq(2, 0))))
    for ((name, cutout) <- cutouts; (what, box) <- boxes) {
      val viaExec = cutout(box)
      val viaGenerate = cutout(box)
      assert(decodeExecs(viaExec.queryExecution.executedPlan).size == 1)
      val want = strings(viaExec)
      assert(want.nonEmpty, s"$name / $what")
      val got = withoutStrategy {
        val plan = viaGenerate.queryExecution.executedPlan
        assert(generates(plan) == 1 && decodeExecs(plan).isEmpty, plan)
        strings(viaGenerate)
      }
      assert(got == want, s"$name / $what")
    }
  }

  test("SQL metrics: output rows, chunks decoded and decode time") {
    val l = layers.find(_.name == "cseg_u32").get
    val box = boxes(1)._2
    val df = PrecomputedIO.cutoutVoxels(spark, l.dir, box)
    val n = df.collect().length
    val m = decodeExecs(df.queryExecution.executedPlan).head.metrics
    assert(n == box.intersection(bounds).volume)
    assert(m("numOutputRows").value == n)
    assert(m("numChunks").value ==
      grid.count(g => Geom.chunkBbox(g, bounds, chunk).intersects(box)))
    assert(m("decodeTime").value > 0)
    // channels: one row per voxel and requested channel
    val ch = PrecomputedIO.cutoutVoxelsChannels(spark, rgb.dir, box, Seq(2, 0))
    assert(ch.collect().length == 2 * n)
    assert(decodeExecs(ch.queryExecution.executedPlan).head
      .metrics("numOutputRows").value == 2 * n)
  }

  test("an out-of-ROI box outside the volume on two axes returns no rows") {
    // 16^3 raw layer with one ROI; the ROI short-circuit must size its
    // background buffer by the clipped volume, not by a product in which
    // two negative extents cancel
    val dir = root.resolve("roi").toString
    val scale = ScaleMeta(key = "1_1_1", encoding = "raw",
      resolution = Seq(1, 1, 1), chunkSize = Vec3(8, 8, 8),
      size = Vec3(16, 16, 16), voxelOffset = Vec3(0, 0, 0),
      rois = Some(Seq(Bbox(Vec3(0, 0, 0), Vec3(4, 4, 4)))))
    PrecomputedIO.writeInfo(dir, VolumeMeta(layerType = "segmentation",
      dataType = "uint8", numChannels = 1, scales = Seq(scale)))
    val outside = Bbox(Vec3(-100, -100, 0), Vec3(-50, -50, 10))
    assert(PrecomputedIO.cutoutVoxels(spark, dir, outside).count() == 0)
    // an in-volume box outside the ROI is still a background buffer
    val bg = PrecomputedIO.cutoutVoxels(spark, dir,
      Bbox(Vec3(8, 8, 8), Vec3(12, 12, 20)), background = 3L)
    assert(rows(bg) == (for (x <- 8L until 12L; y <- 8L until 12L;
      z <- 8L until 16L) yield (x, y, z, 3L)).sorted)
  }
}
