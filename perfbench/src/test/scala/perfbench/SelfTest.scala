package perfbench

import java.nio.file.Files
import scala.collection.mutable
import graft.core._
import graft.sources.PrecomputedIO

/** Self-tests of the benchmark's pure helpers. Run with
  * `python3 perfbench/run.py --self-test`; exits 1 if any check fails. */
object SelfTest {
  private val failed = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else failed += name
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentiles()
    spans()
    json()
    generatorAgainstDecode()
    cellsPerBlock()
    println(s"$passed passed, ${failed.size} failed")
    sys.exit(if (failed.isEmpty) 0 else 1)
  }

  def percentiles(): Unit = {
    check("median of odd and even samples") {
      close(Stats.median(Seq(5.0, 1, 3)), 3) && close(Stats.median(Seq(4.0, 1, 3, 2)), 2.5)
    }
    check("p90 interpolates between ranks") {
      close(Stats.quantile((1 to 10).map(_.toDouble), 0.9), 9.1)
    }
    check("quantile of one sample is that sample") {
      close(Stats.quantile(Seq(7.0), 0.9), 7)
    }
    check("p90 needs 100 samples (10 beyond it)") {
      Stats.percentileAllowed(100, 0.9) && !Stats.percentileAllowed(99, 0.9) &&
        Stats.tailSamples(100, 0.9) == 10 && Stats.percentileAllowed(20, 0.5)
    }
    check("empty sample is refused") {
      try { Stats.median(Nil); false } catch { case _: IllegalArgumentException => true }
    }
  }

  def spans(): Unit = {
    check("union of overlapping, nested and disjoint intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (20L, 30L), (30L, 31L))) == 26
    }
    check("empty and inverted intervals cover nothing") {
      Stats.unionLength(Nil) == 0 && Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0
    }
    check("self time subtracts the children's covered part, clipped to the span") {
      Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60 &&
        Stats.selfTime((0L, 100L), Nil) == 100 &&
        Stats.selfTime((0L, 100L), Seq((-50L, 150L))) == 0
    }
    check("recorder self time follows the span tree") {
      val r = new Recorder
      val root = r.add(Span(1, 1, -1, "op", 0, 1000))
      r.add(Span(1, 2, 1, "call", 100, 400))
      r.add(Span(1, 3, 1, "job", 300, 900))
      r.add(Span(1, 4, 2, "plan", 150, 250))
      r.add(Span(2, 5, 1, "other op", 0, 1000))
      r.selfNs(root) == 200 && r.selfNs(r.all(1)) == 200
    }
  }

  def json(): Unit = {
    check("json renders nested maps, sequences, strings and numbers") {
      Stats.json(scala.collection.immutable.ListMap("a" -> 1.5, "b" -> Seq(1, 2L), "c" -> "x\"y", "d" -> true,
        "e" -> None, "f" -> 2.0)) == """{"a":1.5,"b":[1,2],"c":"x\"y","d":true,"e":null,"f":2}"""
    }
  }

  /** The closed-form checksum and label set of a tiny layer match a
    * brute-force decode of every chunk the fixture wrote. */
  def generatorAgainstDecode(): Unit = {
    val gen = Gen(seed = 7, dims = Vec3(40, 36, 20), chunk = 16, cell = 7)
    val dir = Files.createTempDirectory("perfbench-selftest")
    try {
      val (w, kept) = Fixture.write(gen, dir.toString, threads = 2, keep = true)
      val scale = Fixture.meta(gen).scale(0)
      val meta = PrecomputedIO.readInfo(dir.toString)
      val rows = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      gen.gridPoints.zipWithIndex.foreach { case (g, i) =>
        val b = gen.chunkBbox(g)
        val payload = PrecomputedIO.readChunkBytes(dir.toString, scale, g).get
        val vox = Cseg.decode(payload, b.size, Fixture.Block, Fixture.DtypeBytes)
        require(java.util.Arrays.equals(vox, kept(i)), s"chunk $g decodes to other voxels")
        var j = 0
        for (z <- b.minpt.z until b.maxpt.z; y <- b.minpt.y until b.maxpt.y;
             x <- b.minpt.x until b.maxpt.x) { rows += ((x, y, z, vox(j))); j += 1 }
      }
      def brute(b: Bbox) = {
        val in = rows.filter { case (x, y, z, _) =>
          x >= b.minpt.x && x < b.maxpt.x && y >= b.minpt.y && y < b.maxpt.y &&
            z >= b.minpt.z && z < b.maxpt.z }
        ((in.size.toLong, in.map { case (x, y, z, l) => Gen.rowHash(x, y, z, l) }.sum),
          in.map(_._4).toSet)
      }
      val boxes = Seq(gen.bounds, Bbox(Vec3(3, 5, 1), Vec3(29, 17, 19)),
        Bbox(Vec3(-4, 30, 10), Vec3(12, 50, 30)), Bbox(Vec3(15, 15, 15), Vec3(17, 16, 16)))
      check("fixture layout: info, 3x3x2 chunk objects with partial edge chunks") {
        meta.scale(0).encoding == "compressed_segmentation" && w.objects == 18 &&
          gen.chunkBbox(Vec3(2, 2, 1)).size == Vec3(8, 4, 4)
      }
      check("every voxel decodes to the generator's label, all nonzero uint32") {
        rows.size == gen.voxels && rows.forall { case (x, y, z, l) =>
          l == gen.label(x, y, z) && l > 0 && l <= 0xffffffffL }
      }
      boxes.foreach { b =>
        val (sum, labels) = brute(b)
        check(s"closed-form checksum of $b matches the decode") { gen.checksum(b) == sum }
        check(s"closed-form label set of $b matches the decode") { gen.labelsOf(b) == labels }
      }
      check("chunksOf lists exactly the chunks a box touches") {
        gen.chunksOf(Bbox(Vec3(15, 0, 0), Vec3(17, 1, 1))).map(_.x) == Seq(0L, 1L)
      }
      check("another seed gives another volume") {
        Gen(8, gen.dims, gen.chunk, gen.cell).checksum(gen.bounds) != gen.checksum(gen.bounds)
      }
    } finally VolBench.deleteTree(dir)
  }

  /** With 20-voxel cells, an 8^3 cseg block holds 1 to 8 labels. */
  def cellsPerBlock(): Unit = {
    val gen = Gen.standard(3)
    val rnd = new java.util.Random(3)
    val counts = (1 to 300).map { _ =>
      val lo = Vec3(rnd.nextInt(64) * 8L, rnd.nextInt(64) * 8L, rnd.nextInt(32) * 8L)
      gen.voxelsOf(Bbox(lo, lo + Fixture.Block)).toSet.size
    }
    check("standard layer blocks hold 1 to 8 labels, and both ends occur") {
      counts.min == 1 && counts.max <= 8 && counts.exists(_ > 1)
    }
    check("standard layer has about 10^4 distinct labels") {
      val n = gen.labelsOf(gen.bounds).size
      n > 5000 && n < 20000
    }
  }
}
