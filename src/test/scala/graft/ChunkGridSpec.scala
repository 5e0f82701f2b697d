package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core._
import graft.sources.{N5IO, ScanSizing, Zarr2IO, Zarr3IO}
import graft.sources.Zarr3IO.Zarr3Meta

/** Differential contract of every Zarr2 / Zarr3 / N5 cutout entry
  * point: the rows of an unaligned box that spans several chunks, runs
  * past the volume edge and covers a never-written chunk key equal a
  * brute-force clip of the voxels that were written (fill value where
  * nothing was), with no duplicate and no missing (x, y, z). Chunks
  * are padded with junk past the volume so a clip that trusts the
  * chunk extent shows up as extra rows.
  *
  * The plan-shape tests pin the shared scan: no exchange, the
  * ScanSizing task count, and key i (grid order) read by task i mod n.
  */
class ChunkGridSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = Files.createTempDirectory("chunk_grid_spec").toString

  private val shape = Vec3(10, 7, 5)
  private val bounds = Bbox(Vec3(0, 0, 0), shape)
  private val cs = Vec3(4, 3, 2) // grid 3 x 3 x 3, clamped edge chunks
  private val box = Bbox(Vec3(1, 2, 1), Vec3(12, 7, 4))
  private val gone = Vec3(1, 1, 1) // inside `box`, never written
  private val fill = 9999L
  private val junk = 65535L // chunk padding past the volume

  private def v(x: Long, y: Long, z: Long, salt: Long = 0L): Long =
    (x + 17 * y + 301 * z + 7919 * salt) % 60000 + 1

  private def gridOf(p: Vec3, c: Vec3): Vec3 =
    Vec3(p.x / c.x, p.y / c.y, p.z / c.z)

  private def allGrid(c: Vec3): Seq[Vec3] = Geom.gridpoints(bounds, bounds, c)

  /** Chunk `g` of extent `c`, x fastest; voxels past the volume are
    * `junk` when `full` (zarr pads), absent otherwise (n5 clamps). */
  private def chunk(g: Vec3, c: Vec3, full: Boolean)(
      f: (Long, Long, Long) => Long): Seq[Long] = {
    val lo = g * c
    val hi = if (full) lo + c else (lo + c).min(shape)
    for (z <- lo.z until hi.z; y <- lo.y until hi.y; x <- lo.x until hi.x)
      yield if (bounds.contains(Vec3(x, y, z))) f(x, y, z) else junk
  }

  /** What `box` must read: `truth` at every in-volume voxel. */
  private def expected(truth: (Long, Long, Long) => Long)
      : Map[(Long, Long, Long), Long] = {
    val c = box.intersection(bounds)
    (for (z <- c.minpt.z until c.maxpt.z; y <- c.minpt.y until c.maxpt.y;
         x <- c.minpt.x until c.maxpt.x)
      yield (x, y, z) -> truth(x, y, z)).toMap
  }

  /** `v` where written, `fill` in the never-written chunk `gone`. */
  private def withGone(salt: Long, missing: Long = fill)(x: Long, y: Long,
      z: Long): Long =
    if (gridOf(Vec3(x, y, z), cs) == gone) missing else v(x, y, z, salt)

  private def check(df: DataFrame,
      want: Map[(Long, Long, Long), Long]): Unit = {
    assert(df.columns.toSeq == Seq("x", "y", "z", "label"))
    assert(df.schema.forall(f => !f.nullable))
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
    assert(rows.length == want.size, "duplicate or missing rows")
    val got = rows.toMap
    assert(got.size == want.size, "duplicate (x, y, z)")
    val bad = want.filter { case (k, w) => !got.get(k).contains(w) }
    assert(bad.isEmpty, s"${bad.size} wrong voxels, e.g. " +
      bad.take(3).map { case (k, w) => s"$k want $w read ${got.get(k)}" })
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // size tasks by the parallelism cap, not the bytes floor, so the
    // tiny fixtures below still split over several tasks
    spark.conf.set(ScanSizing.MinBytesPerTaskKey, "1")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  // ---- fixtures -----------------------------------------------------

  private def zarr2(order: String, dtype: String): String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr2_${order}_${dtype.head == '>'}"
    val m = Zarr2IO.Zarr2Meta(shape = shape, chunkShape = cs, dtype = dtype,
      fillValue = fill, compressor = "zlib", order = order)
    Zarr2IO.writeMeta(dir, m)
    Zarr2IO.writeChunks(allGrid(cs).filter(_ != gone)
      .map(g => (g.x, g.y, g.z, chunk(g, cs, full = true)(v(_, _, _))))
      .toDF("gx", "gy", "gz", "vox"), dir, m)
    dir
  }

  private lazy val zarr2Ome: String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr2_ome"
    val o = Zarr2IO.Zarr2Ome(
      Zarr2IO.Zarr2Meta(shape = shape, chunkShape = cs, dtype = "<u2",
        fillValue = fill, compressor = "zstd"),
      timeFrames = Some(2L), channels = Some(3L))
    Zarr2IO.writeMetaOme(dir, o)
    val rows = for (t <- 0L until 2L; c <- 0L until 3L;
        g <- allGrid(cs) if g != gone)
      yield (t, c, g.x, g.y, g.z,
        chunk(g, cs, full = true)(v(_, _, _, 3 * t + c)))
    Zarr2IO.writeChunksOme(rows.toDF("tc", "cc", "gx", "gy", "gz", "vox"),
      dir, o)
    dir
  }

  private def zarr3(name: String, spatialOrder: String): String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr3_$name"
    val m = Zarr3Meta(shape = shape, chunkShape = cs, dataType = "uint16",
      fillValue = fill, compressor = "gzip", spatialOrder = spatialOrder)
    Zarr3IO.writeMeta(dir, m)
    Zarr3IO.writeChunks(allGrid(cs).filter(_ != gone)
      .map(g => (g.x, g.y, g.z, chunk(g, cs, full = true)(v(_, _, _))))
      .toDF("gx", "gy", "gz", "vox"), dir, m)
    dir
  }

  /** t axis of 3 frames, 2 per chunk object: t = 1 is the SECOND frame
    * of object tc = 0, and the last object's second frame is junk. */
  private lazy val zarr3T: String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr3_t"
    val m = Zarr3Meta(shape = shape, chunkShape = cs, dataType = "uint16",
      fillValue = fill, compressor = "zstd", timeFrames = Some(3L),
      timeChunk = 2L)
    Zarr3IO.writeMeta(dir, m)
    val rows = for (tc <- 0L until 2L; g <- allGrid(cs) if g != gone)
      yield (tc, g.x, g.y, g.z, (0L until 2L).flatMap(f =>
        chunk(g, cs, full = true)((x, y, z) =>
          if (tc * 2 + f < 3) v(x, y, z, tc * 2 + f) else junk)): Seq[Long])
    Zarr3IO.writeChunksT(rows.toDF("tc", "gx", "gy", "gz", "vox"), dir, m)
    dir
  }

  /** t (2 frames, 1 per object) and c (3 channels, 2 per object). */
  private lazy val zarr3TC: String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr3_tc"
    val m = Zarr3Meta(shape = shape, chunkShape = cs, dataType = "uint16",
      fillValue = fill, compressor = "none", timeFrames = Some(2L),
      timeChunk = 1L, channels = Some(3L), channelChunk = 2L)
    Zarr3IO.writeMeta(dir, m)
    val rows = for (t <- 0L until 2L; cc <- 0L until 2L;
        g <- allGrid(cs) if g != gone)
      yield (t, cc, g.x, g.y, g.z, (0L until 2L).flatMap { f =>
        val c = cc * 2 + f
        chunk(g, cs, full = true)((x, y, z) =>
          if (c < 3) v(x, y, z, 3 * t + c) else junk)
      }: Seq[Long])
    Zarr3IO.writeChunksTC(rows.toDF("tc", "cc", "gx", "gy", "gz", "vox"),
      dir, m)
    dir
  }

  // sharded: shards 8x6x4 of 4x3x2 inner chunks; shard (1,0,0) is
  // never written, and inner chunk (1,0,0) of shard (0,0,0) is all
  // fill_value, so its index slot is Missing
  private val shardShape = Vec3(8, 6, 4)
  private val absentShard = Vec3(1, 0, 0)
  private val elided = Bbox(Vec3(4, 0, 0), Vec3(8, 3, 2))

  private def shardTruth(x: Long, y: Long, z: Long): Long =
    if (gridOf(Vec3(x, y, z), shardShape) == absentShard ||
        elided.contains(Vec3(x, y, z))) fill
    else v(x, y, z)

  private lazy val zarr3Sharded: String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/zarr3_sharded"
    val m = Zarr3Meta(shape = shape, chunkShape = shardShape,
      dataType = "uint16", fillValue = fill, compressor = "gzip",
      innerChunkShape = Some(cs))
    Zarr3IO.writeMeta(dir, m)
    Zarr3IO.writeShards(allGrid(shardShape).filter(_ != absentShard)
      .map(g => (g.x, g.y, g.z,
        chunk(g, shardShape, full = true)(shardTruth)))
      .toDF("sx", "sy", "sz", "vox"), dir, m)
    dir
  }

  private def n5(withGone: Boolean): String = {
    val s = spark
    import s.implicits._
    val dir = s"$root/n5_$withGone"
    val m = N5IO.N5Meta(dimensions = shape, blockSize = cs,
      dataType = "uint16", compression = "gzip")
    N5IO.writeMeta(dir, m)
    N5IO.writeBlocks(allGrid(cs).filter(g => !withGone || g != gone)
      .map(g => (g.x, g.y, g.z, chunk(g, cs, full = false)(v(_, _, _))))
      .toDF("gx", "gy", "gz", "vox"), dir, m)
    dir
  }

  // ---- differential, one test per entry point ------------------------

  test("zarr2 C order, little-endian: rows equal the written voxels") {
    check(Zarr2IO.cutoutVoxels(spark, zarr2("C", "<u2"), box),
      expected(withGone(0)))
  }

  test("zarr2 F order and big-endian: rows equal the written voxels") {
    check(Zarr2IO.cutoutVoxels(spark, zarr2("F", "<u2"), box),
      expected(withGone(0)))
    check(Zarr2IO.cutoutVoxels(spark, zarr2("C", ">u2"), box),
      expected(withGone(0)))
  }

  test("zarr2 OME (t, c): each (t, c) reads its own frame") {
    for ((t, c) <- Seq((0L, 0L), (1L, 2L)))
      check(Zarr2IO.cutoutVoxelsOmeAt(spark, zarr2Ome, box, t = t, c = c),
        expected(withGone(3 * t + c)))
  }

  test("zarr3 3-D, xyz and zyx: rows equal the written voxels") {
    check(Zarr3IO.cutoutVoxels(spark, zarr3("xyz", "xyz"), box),
      expected(withGone(0)))
    check(Zarr3IO.cutoutVoxels(spark, zarr3("zyx", "zyx"), box),
      expected(withGone(0)))
  }

  test("zarr3 t axis: frames sliced out of multi-frame objects") {
    for (t <- Seq(1L, 2L))
      check(Zarr3IO.cutoutVoxelsT(spark, zarr3T, box, t),
        expected(withGone(t)))
  }

  test("zarr3 t + c axes: frames sliced out of multi-channel objects") {
    for ((t, c) <- Seq((0L, 1L), (1L, 2L)))
      check(Zarr3IO.cutoutVoxelsAt(spark, zarr3TC, box, t, c),
        expected(withGone(3 * t + c)))
  }

  test("zarr3 sharded: Missing index slot and absent shard read fill") {
    check(Zarr3IO.cutoutVoxels(spark, zarr3Sharded, box),
      expected(shardTruth))
  }

  test("n5: edge blocks clip to the volume; fillMissing on and off") {
    check(N5IO.cutoutVoxels(spark, n5(withGone = false), box),
      expected(v(_, _, _)))
    val holed = n5(withGone = true)
    check(N5IO.cutoutVoxels(spark, holed, box, fillMissing = true),
      expected(withGone(0, missing = 0L)))
    val e = intercept[Exception](
      N5IO.cutoutVoxels(spark, holed, box).collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage.contains("missing N5 block")), e)
  }

  // ---- plan shape ----------------------------------------------------

  /** No exchange; ScanSizing's task count; every row of key i (grid
    * order, keys of extent `keyShape`) read by task i mod n. */
  private def checkPlan(df: DataFrame, keyShape: Vec3, estBytes: Long): Unit = {
    val plan = df.queryExecution.executedPlan.treeString
    assert(!plan.contains("Exchange"), plan)
    val keys = Geom.gridpoints(box, bounds, keyShape)
    val n = ScanSizing.partitions(spark, keys.size, estBytes)
    assert(n > 1, "fixture too small to split")
    val rdd = df.rdd
    assert(rdd.getNumPartitions == n)
    val seen = rdd.mapPartitionsWithIndex((p, it) =>
      it.map(r => (p, Vec3(r.getLong(0), r.getLong(1), r.getLong(2)))))
      .collect()
    assert(seen.nonEmpty)
    seen.foreach { case (p, xyz) =>
      val i = keys.indexOf(gridOf(xyz, keyShape))
      assert(i >= 0 && i % n == p, s"$xyz (key $i) read by task $p of $n")
    }
  }

  test("every entry point plans one exchange-free scan, keys dealt i mod n") {
    val est = cs.x * cs.y * cs.z * 2
    checkPlan(Zarr2IO.cutoutVoxels(spark, zarr2("C", "<u2"), box), cs, est)
    checkPlan(Zarr2IO.cutoutVoxelsOmeAt(spark, zarr2Ome, box, 1L, 1L), cs, est)
    checkPlan(Zarr3IO.cutoutVoxels(spark, zarr3("xyz", "xyz"), box), cs, est)
    checkPlan(Zarr3IO.cutoutVoxelsAt(spark, zarr3TC, box, 1L, 0L), cs, est)
    checkPlan(Zarr3IO.cutoutVoxels(spark, zarr3Sharded, box), shardShape,
      shardShape.x * shardShape.y * shardShape.z * 2)
    checkPlan(N5IO.cutoutVoxels(spark, n5(withGone = true), box,
      fillMissing = true), cs, est)
  }
}
