package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core._
import graft.sources.PrecomputedIO

/** Volume benchmark driver. One closed-loop client runs one workload
  * against a seeded compressed_segmentation layer through the
  * library's public API, checks every op against the generator, and
  * prints the end-to-end metrics (untraced run) or the per-layer
  * metrics (traced run) as the last stdout line. See perfbench/README.md.
  */
object VolBench {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, traceOut: Option[Path], gitHead: String)

  val Workloads = Seq("bulk_read", "random_read", "write", "label_scan")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace takes 0 or 1, not $trace")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace == "1",
      Paths.get(need("root")), m.get("trace-out").map(Paths.get(_)),
      m.getOrElse("git-head", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val a = parse(argv)
    val n = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg()
    Files.createDirectories(a.root)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionNs = System.nanoTime() - mainNs
    val code =
      try new Run(spark, a, n, mainNs, sessionNs, load0).execute()
      finally spark.stop()
    sys.exit(code)
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  def treeBytes(p: Path): (Int, Long) = {
    val st = Files.walk(p)
    try {
      val fs = st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      (fs.size, fs.map(Files.size).sum)
    } finally st.close()
  }
}

/** Decoded chunks the `write` workload re-encodes, shared with tasks of
  * the local-mode session. */
object WriteCache {
  @volatile var chunks: Array[Array[Long]] = Array.empty
  @volatile var sizes: Array[Vec3] = Array.empty
}

/** Spark-side functions of the ops and ladder rungs. */
object Udfs {
  private def size(x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long) =
    Vec3(x1 - x0, y1 - y0, z1 - z0)

  val labels = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
      p: Array[Byte]) => Cseg.labels(p, size(x0, y0, z0, x1, y1, z1), Fixture.Block,
      Fixture.DtypeBytes))

  val labelCount = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
      p: Array[Byte]) => Cseg.labels(p, size(x0, y0, z0, x1, y1, z1), Fixture.Block,
      Fixture.DtypeBytes).length.toLong)

  /** Decode only: no clip, no row emission; folds the labels so the
    * decode cannot be elided. */
  val decodeSum = udf((x0: Long, y0: Long, z0: Long, x1: Long, y1: Long, z1: Long,
      p: Array[Byte]) => {
    val v = Cseg.decode(p, size(x0, y0, z0, x1, y1, z1), Fixture.Block, Fixture.DtypeBytes)
    var s = 0L; var i = 0
    while (i < v.length) { s += v(i); i += 1 }
    s
  })

  val encode = udf((id: Long) =>
    Fixture.encode(WriteCache.chunks(id.toInt), WriteCache.sizes(id.toInt)))

  val encodedLength = udf((id: Long) =>
    Fixture.encode(WriteCache.chunks(id.toInt), WriteCache.sizes(id.toInt)).length.toLong)

  /** (rows, wrapping sum of Gen.rowHash) over (x, y, z, label) rows. */
  def rowChecksum(df: DataFrame): (Long, Long) = {
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r =>
        n += 1; s += Gen.rowHash(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      Iterator.single((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Sum of a single LONG column. */
  def longSum(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var s = 0L; it.foreach(r => s += r.getLong(0)); Iterator.single(s)
    }.collect().sum

  /** Sum of a single BINARY column's lengths. */
  def binaryBytes(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var s = 0L; it.foreach(r => s += r.getBinary(0).length); Iterator.single(s)
    }.collect().sum
}

/** What one op touches: the region whose chunks it reads or writes and
  * the uncompressed voxel bytes it returns, writes or scans. */
final case class OpSpec(region: Bbox, voxelBytes: Long)

/** What an op returned: cutout rows (count, checksum), a label set, or
  * the directory it wrote. */
sealed trait Result
final case class Rows(count: Long, sum: Long) extends Result
final case class Labels(values: Array[Long]) extends Result
final case class WroteTo(dir: Path) extends Result

/** Single-thread kernel times over an op's chunk set (no Spark). */
final case class Core(readNs: Long, gunzipNs: Long, decodeNs: Long, encodeNs: Long,
    gzipNs: Long, labelsNs: Long, storedBytes: Long, decodedSum: Long,
    labelsEmitted: Long, labelsDistinct: Long, roundTrip: Boolean,
    payloads: Seq[(Long, Long, Long, Array[Byte])])

final class Run(spark: SparkSession, a: VolBench.Args, n: Int, mainNs: Long,
    sessionNs: Long, load0: Double) {
  import VolBench._
  private val sc = spark.sparkContext
  private val gen = Gen.standard(a.seed)
  private val meta = Fixture.meta(gen)
  private val scale = meta.scale(0)
  private val rng = new java.util.Random(a.seed)
  private var layer: String = _
  private var written: Fixture.Written = _
  private var opSeq = 0

  private val chunkVoxels = gen.chunk * gen.chunk * gen.chunk
  private val voxelBytesAll = gen.voxels * Fixture.DtypeBytes

  // -- workloads ---------------------------------------------------------

  /** Offset of an unaligned box of extent `len` inside `dim`: never a
    * chunk multiple, so every box touches the same number of chunks. */
  private def unaligned(dim: Long, len: Long): Long = {
    val k = rng.nextInt(((dim - len) / gen.chunk).toInt)
    k * gen.chunk + 1 + rng.nextInt(gen.chunk.toInt - 1)
  }

  private def box(lo: Vec3, ext: Vec3): OpSpec =
    OpSpec(Bbox(lo, lo + ext), ext.x * ext.y * ext.z * Fixture.DtypeBytes)

  private def nextSpec(): OpSpec = a.workload match {
    case "bulk_read" =>
      val e = Vec3(256, 256, 64)
      box(Vec3(unaligned(gen.dims.x, e.x), unaligned(gen.dims.y, e.y),
        unaligned(gen.dims.z, e.z)), e)
    case "random_read" =>
      val e = Vec3(64, 64, 64)
      def pos(dim: Long) = rng.nextInt((dim - 64 + 1).toInt).toLong
      box(Vec3(pos(gen.dims.x), pos(gen.dims.y), pos(gen.dims.z)), e)
    case _ => OpSpec(gen.bounds, voxelBytesAll)
  }

  /** random_read runs 100 ops so its p90 rests on 10 samples. */
  private val minOps = if (a.workload == "random_read") 100 else 3
  /** After a first (cold) op, warm-up runs ops for at least this long,
    * so the JIT has compiled the hot planning and codec paths. */
  private val WarmupNs = 8000000000L

  // -- the full op -------------------------------------------------------

  /** Hooks the traced run uses to time the op's API calls and its query
    * planning (`planned` forces the physical plan the op then runs); the
    * untraced run passes [[Hooks.none]]. */
  trait Hooks {
    def call[T](name: String)(body: => T): T
    def planned(qe: QueryExecution, buildRdd: Boolean): Unit
  }
  object Hooks {
    val none: Hooks = new Hooks {
      def call[T](name: String)(body: => T): T = body
      def planned(qe: QueryExecution, buildRdd: Boolean): Unit = ()
    }
  }

  private def fullOp(spec: OpSpec, h: Hooks): Result = a.workload match {
    case "bulk_read" | "random_read" =>
      val df = h.call("sources.cutoutVoxels") {
        PrecomputedIO.cutoutVoxels(spark, layer, spec.region)
      }
      h.planned(df.queryExecution, buildRdd = true)
      val r = Udfs.rowChecksum(df)
      Rows(r._1, r._2)
    case "label_scan" =>
      val df = h.call("sources.readChunks") {
        PrecomputedIO.readChunks(spark, layer)
          .select(explode(Udfs.labels(col("x0"), col("y0"), col("z0"), col("x1"),
            col("y1"), col("z1"), col("payload"))).as("label"))
          .distinct()
      }
      // the adaptive plan runs its shuffle stage while building the RDD
      h.planned(df.queryExecution, buildRdd = false)
      Labels(df.queryExecution.toRdd.map(_.getLong(0)).collect())
    case "write" =>
      opSeq += 1
      val dst = a.root.resolve(s"write-$opSeq")
      h.call("sources.writeChunks") {
        PrecomputedIO.writeInfo(dst.toString, meta)
        PrecomputedIO.writeChunks(chunkIds(), dst.toString, meta, 0,
          codec = Some("gzip"))
      }
      WroteTo(dst)
  }

  private def chunkIds(): DataFrame = {
    val g = gen.grid
    spark.range(0, g.x * g.y * g.z, 1, n).select(
      (col("id") % g.x).as("gx"), ((col("id") / g.x).cast("long") % g.y).as("gy"),
      (col("id") / (g.x * g.y)).cast("long").as("gz"),
      Udfs.encode(col("id")).as("payload"))
  }

  /** Check an op's result against the generator; returns a mismatch
    * description, or None. Runs outside the timed window. */
  private def check(spec: OpSpec, r: Result): Option[String] = r match {
    case Rows(cnt, sum) =>
      val (ec, es) = gen.checksum(spec.region)
      if (cnt == ec && sum == es) None
      else Some(s"cutout ${spec.region}: rows $cnt sum $sum, expected $ec / $es")
    case Labels(vs) =>
      val want = gen.labelsOf(spec.region)
      if (vs.length == want.size && vs.toSet == want) None
      else Some(s"label set: ${vs.length} returned (${vs.toSet.size} distinct), " +
        s"expected ${want.size}")
    case WroteTo(dst) =>
      val pts = gen.gridPoints
      val bad = Par.map(pts.size, n) { i =>
        PrecomputedIO.readChunkBytes(dst.toString, scale, pts(i)) match {
          case None => true
          case Some(p) =>
            !java.util.Arrays.equals(Cseg.decode(p, WriteCache.sizes(i), Fixture.Block,
              Fixture.DtypeBytes), WriteCache.chunks(i))
        }
      }.count(identity)
      val (objs, _) = treeBytes(dst.resolve(scale.key))
      deleteTree(dst)
      if (bad == 0 && objs == pts.size) None
      else Some(s"write: $bad of ${pts.size} chunks differ, $objs objects stored")
  }

  // -- set-up ------------------------------------------------------------

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  /** Run, time and check one untraced op; returns its wall in ns, or
    * None when it failed. */
  private def timedOp(spec: OpSpec): Option[Long] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Right(fullOp(spec, Hooks.none))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = System.nanoTime() - t0
    r.flatMap(res => check(spec, res).toLeft(wall)) match {
      case Right(w) => Some(w)
      case Left(why) => failures += why; None
    }
  }

  private def setup(): Map[String, Double] = {
    val reps = (1 to 3).map { rep =>
      val dir = a.root.resolve(s"fixture-$rep").toString
      val t0 = System.nanoTime()
      val (w, kept) = Fixture.write(gen, dir, n, keep = a.workload == "write")
      if (a.workload == "write") {
        WriteCache.chunks = kept
        WriteCache.sizes = gen.gridPoints.map(g => gen.chunkBbox(g).size).toArray
      }
      val ns = System.nanoTime() - t0
      if (layer != null) deleteTree(Paths.get(layer))
      layer = dir; written = w
      ns
    }
    val w0 = System.nanoTime()
    timedOp(nextSpec())
    val w1 = System.nanoTime()
    var warmOps = 1
    while (System.nanoTime() - w1 < WarmupNs) { timedOp(nextSpec()); warmOps += 1 }
    val warmNs = System.nanoTime() - w0
    val fixtureNs = Stats.median(reps.map(_.toDouble))
    Map("session_s" -> sessionNs / 1e9, "fixture_s" -> fixtureNs / 1e9,
      "warmup_s" -> warmNs / 1e9, "warmup_ops" -> warmOps.toDouble,
      "setup_s" -> (sessionNs + fixtureNs + warmNs) / 1e9,
      "wall_to_first_op_s" -> (System.nanoTime() - mainNs) / 1e9)
  }

  // -- untraced (end-to-end) run ----------------------------------------

  private def measureE2E(): (Map[String, Double], Map[String, Any]) = {
    val walls = mutable.ArrayBuffer.empty[Long]
    var bytes = 0L
    val t0 = System.nanoTime()
    val budget = (a.seconds * 1e9).toLong
    val cap = math.max(4 * budget, 60L * 1000000000L)
    def elapsed = System.nanoTime() - t0
    while ((elapsed < budget || walls.size < minOps) && elapsed < cap) {
      val spec = nextSpec()
      timedOp(spec).foreach { w => walls += w; bytes += spec.voxelBytes }
    }
    require(walls.nonEmpty, s"no op succeeded: ${failures.headOption.getOrElse("")}")
    val ms = walls.map(_ / 1e6).toSeq
    // every op of a workload moves the same bytes, so throughput is the
    // bytes of one op over the median op wall
    val metrics = Map(
      "voxel_MBps" -> bytes / walls.size / 1e6 / (Stats.median(ms) / 1e3),
      "op_p50_ms" -> Stats.median(ms))
    val extra = mutable.LinkedHashMap[String, Any](
      "ops" -> walls.size, "op_ms" -> ms.map(v => math.rint(v * 1000) / 1000))
    extra("op_p90_ms") =
      if (Stats.percentileAllowed(ms.size, 0.9))
        Map("value" -> Stats.quantile(ms, 0.9), "samples" -> ms.size)
      else Map("value" -> None, "samples" -> ms.size,
        "why" -> s"needs ${Stats.MinTail} samples beyond it")
    (metrics, extra.toMap)
  }

  // -- traced (per-layer) run -------------------------------------------

  private val rec = new Recorder
  /** Listener times have millisecond resolution. */
  private val Slack = 2000000L

  /** Single-thread kernels over the op's chunk set, through the core
    * codecs only. */
  private def corePass(chunks: Seq[Vec3]): Core = {
    var read, gunzip, decode, encode, gz, labels, stored, sum, emitted = 0L
    val distinct = mutable.HashSet.empty[Long]
    var roundTrip = true
    val payloads = chunks.map { g =>
      val size = gen.chunkBbox(g).size
      def time[T](body: => T): (T, Long) = {
        val t = System.nanoTime(); val r = body; (r, System.nanoTime() - t)
      }
      val (obj, t1) = time(Files.readAllBytes(Fixture.objectPath(layer, gen, g)))
      val (raw, t2) = time(Codec.gunzip(obj))
      val (vox, t3) = time(Cseg.decode(raw, size, Fixture.Block, Fixture.DtypeBytes))
      val (enc, t4) = time(Fixture.encode(vox, size))
      val (z, t5) = time(Codec.gzip(enc))
      val (ls, t6) = time(Cseg.labels(raw, size, Fixture.Block, Fixture.DtypeBytes))
      read += t1; gunzip += t2; decode += t3; encode += t4; gz += t5; labels += t6
      stored += obj.length; emitted += ls.length; distinct ++= ls
      var i = 0
      while (i < vox.length) { sum += vox(i); i += 1 }
      if (z.isEmpty || !java.util.Arrays.equals(enc, raw)) roundTrip = false
      (g.x, g.y, g.z, raw)
    }
    Core(read, gunzip, decode, encode, gz, labels, stored, sum, emitted, distinct.size,
      roundTrip, payloads)
  }

  /** Traced ops: each iteration runs the L0 -> full ladder of one op, the
    * core kernels over the same chunks, and the op once untraced right
    * before its traced full rung. */
  private def measureTraced(): (Map[String, Double], Map[String, Any]) = {
    val listener = new JobListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        phases(qe, Set("analysis", "optimization", "planning")).foreach(plans.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def attach(): Unit = { sc.addSparkListener(listener); spark.listenerManager.register(qel) }
    def detach(): Unit = { sc.removeSparkListener(listener); spark.listenerManager.unregister(qel) }
    val rows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untraced = mutable.ArrayBuffer.empty[Double]
    var untracedBytes = 0L
    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val budget = (a.seconds * 1e9).toLong
    def elapsed = System.nanoTime() - t0
    while ((elapsed < budget || rows.size < 3) && elapsed < math.max(6 * budget, 90L * 1000000000L)) {
      val spec = nextSpec()
      def untracedOp(): Unit = {
        detach()
        try timedOp(spec).foreach { w => untraced += w / 1e6; untracedBytes += spec.voxelBytes }
        finally attach()
      }
      attach()
      try rows += tracedOp(spec, listener, plans, () => untracedOp())
      catch { case e: Exception =>
        attempted += 1; failures += s"traced op: ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally detach()
    }
    require(rows.nonEmpty && untraced.nonEmpty,
      s"no traced op succeeded: ${failures.headOption.getOrElse("")}")
    def med(k: String) = Stats.median(rows.map(_(k)).toSeq)
    def mean(k: String) = rows.map(_(k)).sum / rows.size
    val fullMed = med("full_ms")
    val untracedMed = Stats.median(untraced.toSeq)
    val untracedMBps = untracedBytes / 1e6 / (untraced.sum / 1e3)
    val kernelMBps = med("kernel_MBps_1t")
    val m = mutable.LinkedHashMap[String, Double](
      "spark.plan_ms" -> mean("plan_ms"),
      "spark.jobs" -> med("jobs"),
      "spark.stages" -> med("stages"),
      "spark.tasks" -> med("tasks"),
      "spark.in_job_ms" -> med("in_job_ms"),
      "spark.driver_gap_ms" -> med("gap_ms"),
      "spark.task_run_ms" -> med("task_run_ms"),
      "spark.task_cpu_ms" -> med("task_cpu_ms"),
      "spark.busy_ratio" -> med("task_run_ms") / (fullMed * n),
      "spark.shuffle_write_bytes" -> med("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> med("shuffle_read_bytes"),
      "sources.call_ms" -> med("call_ms"),
      "sources.list_ms" -> med("list_ms"),
      "sources.fetch_ms" -> med("fetch_ms"),
      "sources.emit_ms" -> med("emit_ms"),
      "sources.put_ms" -> med("put_ms"),
      "sources.chunks_per_op" -> med("chunks"),
      "sources.bytes_read_per_op" -> med("bytes_read"),
      "sources.useful_voxel_ratio" -> med("useful_ratio"),
      "sources.objects_written" -> med("objects_written"),
      "sources.bytes_stored_per_voxel_byte" -> med("stored_per_voxel_byte"),
      "core.read_ms" -> med("core_read_ms"),
      "core.gunzip_ms" -> med("core_gunzip_ms"),
      "core.cseg_decode_ms" -> med("core_decode_ms"),
      "core.cseg_encode_ms" -> med("core_encode_ms"),
      "core.gzip_ms" -> med("core_gzip_ms"),
      "core.cseg_labels_ms" -> med("core_labels_ms"),
      "core.kernel_MBps_1t" -> kernelMBps,
      "core.ceiling_ratio" -> kernelMBps * n / untracedMBps,
      "ops.labels_emitted" -> med("labels_emitted"),
      "ops.labels_distinct" -> med("labels_distinct"),
      "ops.dedup_ratio" -> med("labels_emitted") / med("labels_distinct"),
      "jvm.gc_ms" -> mean("gc_ms"),
      "jvm.heap_peak_MB" -> heap.peakMB(),
      "trace.covered_ratio" -> med("covered_ratio"),
      "trace.overhead_pct" -> (fullMed - untracedMed) / untracedMed * 100,
      "trace.ops" -> rows.size.toDouble)
    val extra = Map[String, Any]("untraced_op_p50_ms" -> untracedMed,
      "traced_full_op_p50_ms" -> fullMed, "untraced_voxel_MBps" -> untracedMBps,
      "spans" -> rec.all.size)
    (m.toMap, extra)
  }

  /** Planning phases of a query (millisecond timestamps). */
  private def phases(qe: QueryExecution, names: Set[String]): Seq[(Long, Long)] =
    qe.tracker.phases.filter(p => names(p._1)).values.toSeq.map(p =>
      (Clock.msToNano(p.startTimeMs), Clock.msToNano(p.endTimeMs)))

  /** Pruned chunk scan of a region: the scan every ladder rung shares. */
  private def scan(b: Bbox): DataFrame =
    PrecomputedIO.readChunks(spark, layer)
      .filter(col("x1") > b.minpt.x && col("x0") < b.maxpt.x &&
        col("y1") > b.minpt.y && col("y0") < b.maxpt.y &&
        col("z1") > b.minpt.z && col("z0") < b.maxpt.z)

  private def tracedOp(spec: OpSpec, listener: JobListener,
      plans: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)],
      untracedOp: () => Unit): Map[String, Double] = {
    val op = rec.newId()
    val root = rec.newId()
    val rootStart = System.nanoTime()
    val gc0 = gcMs()
    val chunks = gen.chunksOf(spec.region)
    def cols(names: String*) = names.map(col)
    val geo = cols("x0", "y0", "z0", "x1", "y1", "z1")

    /** One ladder rung: a child span of the op whose Spark jobs carry
      * the rung's tag. */
    def tagged[T](name: String)(body: => T): (T, Span, Seq[JobRec]) = {
      val tag = s"$op/$name"
      val (r, sp) = rec.span(op, root, name)(_ => JobListener.tagged(sc, tag)(body))
      org.apache.spark.perfbench.Drain(sc)
      (r, sp, listener.take(tag))
    }
    def jobSpan(j: JobRec, parent: Int) = Span(op, rec.newId(), parent, "spark.job",
      j.startNs, j.endNs, Map("job" -> j.jobId, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_run_ms" -> j.taskRunMs.toDouble, "task_cpu_ms" -> j.taskCpuMs,
        "task_gc_ms" -> j.taskGcMs.toDouble,
        "shuffle_write_bytes" -> j.shuffleWriteBytes.toDouble,
        "shuffle_read_bytes" -> j.shuffleReadBytes.toDouble))
    def rung[T](name: String)(body: => T): (T, Span) = {
      val (r, sp, jobs) = tagged(name)(body)
      jobs.foreach(j => rec.add(jobSpan(j, sp.id)))
      (r, sp)
    }

    val (nChunks, l0) = rung("ladder.L0_list")(scan(spec.region).select(cols("gx", "gy", "gz"): _*)
      .queryExecution.toRdd.count())
    val (payloadBytes, l2) = rung("ladder.L2_fetch")(Udfs.binaryBytes(
      scan(spec.region).select(col("payload"))))
    val (kernelOut, kr) = rung("ladder.kernel")(a.workload match {
      case "write" => Udfs.longSum(spark.range(0, chunks.size.toLong, 1, n)
        .select(Udfs.encodedLength(col("id"))))
      case "label_scan" => Udfs.longSum(scan(spec.region).select(
        Udfs.labelCount((geo :+ col("payload")): _*)))
      case _ => Udfs.longSum(scan(spec.region).select(
        Udfs.decodeSum((geo :+ col("payload")): _*)))
    })

    val core = {
      val t = System.nanoTime()
      val c = corePass(chunks)
      rec.add(Span(op, rec.newId(), root, "core.kernels", t, System.nanoTime(),
        Map("read_ms" -> c.readNs / 1e6,
        "gunzip_ms" -> c.gunzipNs / 1e6, "cseg_decode_ms" -> c.decodeNs / 1e6,
        "cseg_encode_ms" -> c.encodeNs / 1e6, "gzip_ms" -> c.gzipNs / 1e6,
        "cseg_labels_ms" -> c.labelsNs / 1e6)))
      c
    }

    val putDir = a.root.resolve(s"put-$op")
    val (_, put) = rung("ladder.put") {
      import spark.implicits._
      val df = core.payloads.toDF("gx", "gy", "gz", "payload")
      PrecomputedIO.writeChunks(df, putDir.toString, meta, 0, codec = Some("none"))
    }
    val (putObjects, _) = treeBytes(putDir)
    deleteTree(putDir)

    // the same op untraced, right before the traced one: the pair gives
    // the tracing overhead. Each starts from a collected heap, so neither
    // pays for the core pass's garbage.
    var notTracedGcMs = 0L
    def excludingGc(body: => Unit): Unit = {
      val g = gcMs(); body; notTracedGcMs += gcMs() - g
    }
    excludingGc(System.gc())
    excludingGc(untracedOp())
    excludingGc(System.gc())

    // the full op, with its API calls and planning phases as spans
    plans.clear()
    val calls = mutable.ArrayBuffer.empty[Span]
    var fullPlans = Seq.empty[(Long, Long)]
    val hooks = new Hooks {
      def call[T](name: String)(body: => T): T = {
        val t = System.nanoTime()
        val r = body
        calls += Span(op, rec.newId(), -1, name, t, System.nanoTime())
        r
      }
      def planned(qe: QueryExecution, buildRdd: Boolean): Unit = {
        // analysis ran eagerly inside the API call; optimization, physical
        // planning and the RDD build (code generation) run here
        val t = System.nanoTime()
        qe.executedPlan
        if (buildRdd) qe.toRdd
        fullPlans = phases(qe, Set("analysis")) :+ ((t, System.nanoTime()))
      }
    }
    val (result, full, fullJobs) = tagged("ladder.full")(fullOp(spec, hooks))
    fullPlans ++= plans.asScala
    // API calls hang under the full rung; a job or planning phase that ran
    // inside a call hangs under that call
    val callSpans = calls.map(c => rec.add(c.copy(parent = full.id)))
    def parentOf(s: Long, e: Long) = callSpans
      .find(c => c.startNs - Slack <= s && e <= c.endNs + Slack).map(_.id).getOrElse(full.id)
    val jobSpans = fullJobs.map(j => rec.add(jobSpan(j, parentOf(j.startNs, j.endNs))))
    fullPlans.foreach { case (s, e) =>
      rec.add(Span(op, rec.newId(), parentOf(s, e), "spark.plan", s, e))
    }
    rec.add(Span(op, root, -1, s"op.${a.workload}", rootStart, System.nanoTime(),
      Map("chunks" -> chunks.size)))

    val mismatch = check(spec, result).orElse {
      if (nChunks != chunks.size) Some(s"L0 listed $nChunks chunks, expected ${chunks.size}")
      else if (payloadBytes != core.payloads.map(_._4.length.toLong).sum)
        Some(s"L2 fetched $payloadBytes payload bytes, core read " +
          s"${core.payloads.map(_._4.length.toLong).sum}")
      else if (a.workload != "write" && a.workload != "label_scan" && kernelOut != core.decodedSum)
        Some("decode rung sum differs from the core decode")
      else if (putObjects != chunks.size) Some(s"put stored $putObjects objects")
      else if (!core.roundTrip) Some("a decoded chunk re-encodes to other bytes")
      else None
    }
    attempted += 1
    mismatch.foreach(failures += _)

    val ms = 1e6
    val jobs = jobSpans.map(_.attrs)
    def jsum(k: String) = jobs.map(_(k)).sum
    val inJob = Stats.unionLength(jobSpans.map(_.interval))
    val callSelf = callSpans.map(rec.selfNs).sum
    val gap = rec.selfNs(full)
    val kernelNs = a.workload match {
      case "write" => core.encodeNs + core.gzipNs
      case "label_scan" => core.readNs + core.gunzipNs + core.labelsNs
      case _ => core.readNs + core.gunzipNs + core.decodeNs
    }
    val decoded = chunks.size * chunkVoxels
    Map(
      "full_ms" -> full.durNs / ms,
      "plan_ms" -> fullPlans.map { case (s, e) => e - s }.sum / ms,
      "jobs" -> jobs.size.toDouble, "stages" -> jsum("stages"), "tasks" -> jsum("tasks"),
      "in_job_ms" -> inJob / ms, "gap_ms" -> gap / ms,
      "task_run_ms" -> jsum("task_run_ms"), "task_cpu_ms" -> jsum("task_cpu_ms"),
      "shuffle_write_bytes" -> jsum("shuffle_write_bytes"),
      "shuffle_read_bytes" -> jsum("shuffle_read_bytes"),
      "call_ms" -> callSelf / ms,
      "list_ms" -> l0.durNs / ms,
      "fetch_ms" -> (l2.durNs - l0.durNs) / ms,
      "emit_ms" -> (full.durNs - kr.durNs) / ms,
      "put_ms" -> put.durNs / ms,
      "chunks" -> chunks.size.toDouble,
      "bytes_read" -> core.storedBytes.toDouble,
      "useful_ratio" -> (if (a.workload.endsWith("_read"))
        spec.voxelBytes / Fixture.DtypeBytes / decoded.toDouble else 1.0),
      "objects_written" -> putObjects.toDouble,
      "stored_per_voxel_byte" -> core.storedBytes / (decoded * Fixture.DtypeBytes).toDouble,
      "core_read_ms" -> core.readNs / ms, "core_gunzip_ms" -> core.gunzipNs / ms,
      "core_decode_ms" -> core.decodeNs / ms, "core_encode_ms" -> core.encodeNs / ms,
      "core_gzip_ms" -> core.gzipNs / ms, "core_labels_ms" -> core.labelsNs / ms,
      "kernel_MBps_1t" -> spec.voxelBytes / 1e6 / (kernelNs / 1e9),
      "labels_emitted" -> core.labelsEmitted.toDouble,
      "labels_distinct" -> core.labelsDistinct.toDouble,
      "gc_ms" -> (gcMs() - gc0 - notTracedGcMs).toDouble,
      "covered_ratio" -> (1.0 - gap.toDouble / full.durNs))
  }

  // -- run ---------------------------------------------------------------

  def execute(): Int = {
    val setupM = setup()
    val (metrics, extra) =
      if (a.trace) {
        val (m, x) = measureTraced()
        (m, x ++ Map("setup" -> setupM))
      } else {
        val (m, x) = measureE2E()
        (m + ("setup_s" -> setupM("setup_s")), x ++ Map("setup" -> setupM))
      }
    a.traceOut.foreach(p => if (a.trace) rec.dump(p))
    val load1 = loadAvg()
    val failed = failures.size
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cores" -> n, "clients" -> 1, "loop" -> "closed",
      "git_head" -> a.gitHead, "java" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.version")),
      "spark" -> spark.version, "load_avg_start" -> load0, "load_avg_end" -> load1,
      "fixture" -> Map("voxels" -> gen.voxels, "voxel_bytes" -> voxelBytesAll,
        "dims" -> Seq(gen.dims.x, gen.dims.y, gen.dims.z), "chunk" -> gen.chunk,
        "encoding" -> "compressed_segmentation+gzip", "objects" -> written.objects,
        "compressed_bytes" -> written.compressedBytes),
      "storage" -> ("local filesystem; the layer fits in the OS page cache and " +
        "the library has no read cache, so reads measure CPU, not the device"),
      "error_rate" -> failed.toDouble / attempted, "failures" -> failures.take(5),
      "attempted" -> attempted, "details" -> extra,
      "metrics" -> metrics)
    println("perfbench-report " + Stats.json(report))
    val out = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Units.of(k)) }.toMap)
    println(Stats.json(out))
    if (failed == 0) 0 else 1
  }
}

/** Units of every reported metric. */
object Units {
  def of(name: String): String = name match {
    case "setup_s" => "s"
    case "voxel_MBps" => "MB/s"
    case "jvm.heap_peak_MB" => "MB"
    case "core.kernel_MBps_1t" => "MB/s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") || n.endsWith("_per_op") && n.contains("bytes") => "bytes"
    case n if n.endsWith("_pct") => "%"
    case n if n.endsWith("_ratio") || n.endsWith("_per_voxel_byte") => "ratio"
    case _ => "count"
  }
}

/** Peak heap in use right after a collection (the live set plus garbage
  * the collector kept), from GC notifications. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def peakMB(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    // no collection ran: the heap in use now is the peak seen
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1e6
  }
}
