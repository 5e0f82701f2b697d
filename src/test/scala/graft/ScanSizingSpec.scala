package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sources.ScanSizing

/** `ScanSizing.listedNames`: the names of one directory, never another
  * directory's, and the name filter only ever sees regular files. */
class ScanSizingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("listedNames: directories with equal path hash codes keep their own names") {
    val tmp = Files.createTempDirectory("graft_listed")
    val aa = tmp.resolve("Aa")
    val bb = tmp.resolve("BB")
    assert(aa.toAbsolutePath.toString.hashCode ==
      bb.toAbsolutePath.toString.hashCode)
    Files.createDirectories(aa); Files.createDirectories(bb)
    Seq("1", "2").foreach(n => Files.write(aa.resolve(n), Array[Byte](1)))
    Seq("7").foreach(n => Files.write(bb.resolve(n), Array[Byte](1)))
    val a = ScanSizing.listedNames(spark, aa, _ => true, 1L)
    val b = ScanSizing.listedNames(spark, bb, _ => true, 1L)
    // both datasets are lazy: reading `a` after listing `bb` must
    // still return `aa`'s names
    assert(a.collect().sorted.toSeq == Seq("1", "2"))
    assert(b.collect().toSeq == Seq("7"))
  }

  test("listedNames: the filter never sees a subdirectory's name") {
    val dir = Files.createTempDirectory("graft_listed_sub")
    Files.createDirectories(dir.resolve("sub"))
    Seq("3", "9").foreach(n => Files.write(dir.resolve(n), Array[Byte](1)))
    val got = ScanSizing.listedNames(spark, dir, _.toLong < 8, 1L)
    assert(got.collect().toSeq == Seq("3"))
  }
}
