package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{Bbox, Codec, Geom, ScaleMeta, Vec3, VolumeMeta}
import graft.functions.ContainsGateRule
import graft.ops.RealLayerQueries
import graft.sources.PrecomputedIO

/** ContainsGateRule: the optimizer rule that rewrites
  * `cutout.filter(label === K)` to probe each encoded payload with a
  * codec contains() gate before the DecodeVoxels generator. Asserts
  * (a) results are byte-identical with the rule on and off, (b) the
  * gate actually lands in the optimized plan below Generate and in
  * EXPLAIN below DecodeVoxelsExec, (c) a no-match label returns empty
  * through the gated plan, (d) non-equality filters are untouched,
  * (e) `=`, IN and InSet on the flat label column all gate, (f) a
  * missing chunk is credited with the cutout's non-zero background,
  * (g) the rule is idempotent.
  */
class GateRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    RealLayerQueries.ensure(spark, sfDir)
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def cutoutFiltered(label: Long) =
    PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
        Bbox(Vec3(0, 0, 0),
          Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ)))
      .filter(col("label") === label)

  test("gate injects below the decode and preserves results") {
    val without = cutoutFiltered(7L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(without.nonEmpty, "label 7 must exist in the fixture")

    ContainsGateRule.install(spark)
    val df = cutoutFiltered(7L)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains(ContainsGateRule.GateName),
      s"gate missing from optimized plan:\n$plan")
    // the gate must sit BELOW the generate (gating chunk rows, not
    // voxel rows): it appears after the explode line in the plan tree
    val gateLine = plan.linesIterator.indexWhere(
      _.contains(ContainsGateRule.GateName))
    val genLine = plan.linesIterator.indexWhere(_.contains("Generate"))
    assert(genLine >= 0 && gateLine > genLine,
      s"gate not below Generate (gen=$genLine gate=$gateLine):\n$plan")

    val withRule = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(withRule == without)
  }

  test("no-match label returns empty through the gated plan") {
    ContainsGateRule.install(spark)
    assert(cutoutFiltered(999999L).count() == 0)
  }

  test("IN-list filters gate on any-of membership") {
    val base = PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
      Bbox(Vec3(0, 0, 0),
        Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ)))
    val without = base.filter(col("label").isin(7L, 9L, 999999L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    ContainsGateRule.install(spark)
    val df = base.filter(col("label").isin(7L, 9L, 999999L))
    assert(df.queryExecution.optimizedPlan.toString
      .contains(ContainsGateRule.GateName))
    val withRule = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(withRule == without && withRule.nonEmpty)
  }

  test("non-equality filters are left untouched") {
    ContainsGateRule.install(spark)
    val df = PrecomputedIO.cutoutVoxels(spark, RealLayerQueries.LayerCsegDir,
        Bbox(Vec3(0, 0, 0), Vec3(16, 16, 8)))
      .filter(col("label") > 3L)
    assert(!df.queryExecution.optimizedPlan.toString
      .contains(ContainsGateRule.GateName))
    assert(df.count() > 0)
  }

  private def rowSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  /** Rows of `df()` with the session's extra optimizer rules removed
    * (the rule off), then restored. */
  private def ruleOff(df: () => DataFrame): Set[(Long, Long, Long, Long)] = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try rowSet(df()) finally spark.experimental.extraOptimizations = saved
  }

  private def gates(df: DataFrame): Int =
    ContainsGateRule.GateName.r
      .findAllMatchIn(df.queryExecution.optimizedPlan.toString).size

  private def fullCutout = PrecomputedIO.cutoutVoxels(spark,
    RealLayerQueries.LayerCsegDir,
    Bbox(Vec3(0, 0, 0),
      Vec3(RealLayerQueries.SX, RealLayerQueries.SY, RealLayerQueries.SZ)))

  test("=, IN and InSet on the flat label column all gate") {
    val many = 7L +: (1000L to 1020L)
    val filters = Seq(
      "label = K" -> (col("label") === 7L),
      "K = label" -> (lit(7L) === col("label")),
      "IN" -> col("label").isin(7L, 9L),
      "InSet" -> col("label").isin(many: _*))
    ContainsGateRule.install(spark)
    for ((what, f) <- filters) {
      val want = ruleOff(() => fullCutout.filter(f))
      val df = fullCutout.filter(f)
      assert(gates(df) == 1, s"$what:\n${df.queryExecution.optimizedPlan}")
      assert(rowSet(df) == want && want.nonEmpty, what)
    }
    // the >10-literal list really is the InSet form by the time the
    // rule runs
    assert(fullCutout.filter(col("label").isin(many: _*))
      .queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[InSet])))
  }

  test("EXPLAIN shows graft_contains_gate below Generate") {
    ContainsGateRule.install(spark)
    val df = cutoutFiltered(7L)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(df.explain(extended = true))
    val physical = out.toString.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan ==")).toSeq
    val gen = physical.indexWhere(_.contains("DecodeVoxelsExec graft_decode_voxels"))
    val gate = physical.indexWhere(_.contains(ContainsGateRule.GateName))
    assert(gen > 0 && gate > gen, s"gate not below DecodeVoxelsExec:\n$out")
  }

  test("the rule is idempotent") {
    ContainsGateRule.install(spark)
    ContainsGateRule.install(spark)
    val df = cutoutFiltered(7L)
    val once = df.queryExecution.optimizedPlan
    assert(gates(df) == 1)
    assert(ContainsGateRule(once) fastEquals once)
    assert(ContainsGateRule(ContainsGateRule(once)) fastEquals once)
  }

  test("a missing chunk is credited with the non-zero background") {
    // raw uint32 layer, 2 x 1 x 1 chunks of 4^3; chunk (1,0,0) is
    // missing, so with fill_missing it reads back as `bg`
    val bg = 5L
    val dir = Files.createTempDirectory("graft_gate_bg").resolve("layer").toString
    val scale = ScaleMeta(key = "1_1_1", encoding = "raw",
      resolution = Seq(1, 1, 1), chunkSize = Vec3(4, 4, 4),
      size = Vec3(8, 4, 4), voxelOffset = Vec3(0, 0, 0))
    PrecomputedIO.writeInfo(dir, VolumeMeta(layerType = "segmentation",
      dataType = "uint32", numChannels = 1, scales = Seq(scale)))
    Files.createDirectories(java.nio.file.Paths.get(dir, scale.key))
    Files.write(PrecomputedIO.chunkPath(dir, scale, Vec3(0, 0, 0)),
      Codec.encodeRawFromLongs(Array.tabulate(64)(i => (i % 3).toLong), 4))
    val box = Bbox(Vec3(0, 0, 0), Vec3(8, 4, 4))
    def cutout(k: Long) = PrecomputedIO.cutoutVoxels(spark, dir, box,
      fillMissing = true, background = bg).filter(col("label") === k)
    ContainsGateRule.install(spark)
    val missingBox = Geom.chunkBbox(Vec3(1, 0, 0), scale.bounds, scale.chunkSize)
    for (k <- Seq(bg, 0L, 2L)) {
      val want = ruleOff(() => cutout(k))
      assert(gates(cutout(k)) == 1)
      assert(rowSet(cutout(k)) == want, s"label $k")
    }
    // the background label's rows are exactly the missing chunk's voxels
    assert(rowSet(cutout(bg)).map(r => (r._1, r._2, r._3)) ==
      (for (x <- missingBox.minpt.x until missingBox.maxpt.x; y <- 0L until 4L;
            z <- 0L until 4L) yield (x, y, z)).toSet)
  }
}
