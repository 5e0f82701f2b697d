package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, UnsafeRowWriter}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.core.{Bbox, Codec, Compresso, Cseg, Vec3}

/** What one emitted voxel row carries after (x, y, z). */
sealed trait VoxelValue extends Serializable

object VoxelValue {
  /** `label: LONG` — integer layers; the shape ContainsGateRule gates. */
  case object Label extends VoxelValue
  /** `value: DOUBLE` — raw float32/float64 layers. */
  case object Real extends VoxelValue
  /** `(c: LONG, value: LONG)` per requested channel of an `nc`-channel
    * chunk stored channel-slowest (planar F-order). */
  final case class Channels(slice: Seq[Int], nc: Int) extends VoxelValue
}

/** Cutout decode + clip + row emission as one typed Catalyst generator.
  *
  * Children are a chunk row's `x0, y0, z0, x1, y1, z1, payload`; the
  * codec parameters (`enc`, dtype bytes, cseg block size, the fill
  * value for missing chunks) and the requested `bbox` are plain fields,
  * so optimizer rules read them by type (ContainsGateRule) instead of
  * parsing them back out of a name.
  *
  * `clip` decodes the chunk once into its primitive array, then returns
  * a [[ClipIterator]] that walks the chunk ∩ bbox box in z/y/x order
  * and writes each voxel into ONE reused `UnsafeRow`: no tuples, no
  * boxed longs, no array-of-struct, no per-row projection. Cutout plans
  * run on [[DecodeVoxelsExec]] (planned by [[DecodeVoxelsStrategy]],
  * which every cutout entry point installs), and the exec hands those rows
  * straight to its consumer. Reuse is safe under Spark's physical-row
  * contract, the one every scan and project output relies on: an
  * operator that keeps a row past the next `next()` copies it first
  * (sort and exchange serialize its bytes, cache builds column batches,
  * collect writes the bytes out). On a session without the strategy,
  * `eval` is the plain Generator contract and GenerateExec projects
  * every row as usual.
  *
  * A decoded array shorter than the chunk's declared voxel count
  * (truncated or mis-sized object) fails as an IllegalArgumentException
  * naming the chunk; a longer one (channel-major multi-channel payload
  * read as channel 0) is accepted.
  */
case class DecodeVoxels(children: Seq[Expression], enc: String, dtb: Int,
    csegBlock: Vec3, background: Long, bbox: Bbox,
    value: VoxelValue = VoxelValue.Label)
    extends Generator with CodegenFallback {

  require(children.length == 7,
    s"graft_decode_voxels takes (x0, y0, z0, x1, y1, z1, payload), got ${children.length}")

  override def prettyName: String = "graft_decode_voxels"

  override def elementSchema: StructType = {
    def f(n: String, t: org.apache.spark.sql.types.DataType) =
      StructField(n, t, nullable = false)
    val xyz = Seq(f("x", LongType), f("y", LongType), f("z", LongType))
    StructType(xyz ++ (value match {
      case VoxelValue.Label => Seq(f("label", LongType))
      case VoxelValue.Real => Seq(f("value", DoubleType))
      case _: VoxelValue.Channels => Seq(f("c", LongType), f("value", LongType))
    }))
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val it = clip(input)
    if (it == null) Iterator.empty else it
  }

  /** Decode the chunk in `input` and return the iterator over its voxels
    * inside `bbox`, or null when the chunk misses the box (nothing is
    * decoded then). */
  def clip(input: InternalRow): ClipIterator = {
    def long(i: Int) = children(i).eval(input).asInstanceOf[Long]
    val x0 = long(0); val y0 = long(1); val z0 = long(2)
    val x1 = long(3); val y1 = long(4); val z1 = long(5)
    val cell = Bbox(Vec3(x0, y0, z0), Vec3(x1, y1, z1))
    if (!cell.intersects(bbox)) return null
    val size = cell.size
    val payload = children(6).eval(input).asInstanceOf[Array[Byte]]
    val plane = size.x * size.y * size.z
    val need = value match {
      case VoxelValue.Channels(_, nc) => plane * nc
      case _ => plane
    }
    val (longs, reals) = value match {
      case VoxelValue.Real => (null, if (payload == null)
        Array.fill(need.toInt)(background.toDouble)
        else Codec.decodeRawFloatsToDoubles(payload, dtb))
      case _ => (decodeLongs(payload, size, need.toInt), null)
    }
    val decoded = if (longs != null) longs.length else reals.length
    require(decoded >= need,
      s"$prettyName: chunk [$x0,$y0,$z0..$x1,$y1,$z1] declares $need " +
        s"voxels but payload decodes $decoded (truncated or mis-sized " +
        "chunk object)")
    val channels = value match {
      case VoxelValue.Channels(slice, _) => slice.map(_.toLong).toArray
      case _ => null
    }
    ClipIterator.of(cell, size, bbox, longs, reals, channels)
  }

  /** One chunk payload as longs, dispatching on the encoding; a null
    * payload (fill_missing) reads as `n` background voxels. */
  private def decodeLongs(payload: Array[Byte], size: Vec3, n: Int): Array[Long] =
    if (payload == null) Array.fill(n)(background)
    else enc match {
      case "compressed_segmentation" => Cseg.decode(payload, size, csegBlock, dtb)
      case "compresso" => Compresso.decode(payload)._2
      case "png" => value match {
        case VoxelValue.Channels(_, nc) => Codec.decodePngChannelsToLongs(payload, nc)
        case _ if dtb == 2 => Codec.decodePng16(payload)
        case _ => Codec.decodeRawToLongs(Codec.decodePng(payload), 1)
      }
      case "jpeg" => Codec.decodeJpegChannelsToLongs(payload)
      case "npz" => Codec.decodeNpz(payload)._2
      case _ => Codec.decodeRawToLongs(payload, dtb)
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DecodeVoxels =
    copy(children = newChildren)
}

/** Walks the clipped box [lo, hi) of a chunk whose first voxel is
  * `origin` and whose extent is `size`, in z/y/x order, writing each
  * voxel's fields straight into one reused `UnsafeRow` (every field is
  * fixed-width and non-null, so nothing is ever re-laid out). Exactly
  * one of `longs` / `reals` is set; with `channels` set, every voxel
  * emits one (c, longs(i + plane * c)) row per requested channel.
  *
  * Built through [[ClipIterator.of]] by its two callers: the
  * precomputed cutout generator ([[DecodeVoxels.clip]]) and the
  * Zarr2 / Zarr3 / N5 chunk-grid cutout (`graft.sources.ChunkGrid`).
  */
final class ClipIterator private (origin: Vec3, size: Vec3,
    lo: Vec3, hi: Vec3, longs: Array[Long], reals: Array[Double],
    channels: Array[Long]) extends Iterator[InternalRow] {

  private val writer =
    new UnsafeRowWriter(if (channels == null) 4 else 5)
  writer.resetRowWriter()
  private val row = writer.getRow
  private val sx = size.x
  private val sy = size.y
  private val plane = size.x * size.y * size.z
  private val lox = lo.x
  private val loy = lo.y
  private val hix = hi.x
  private val hiy = hi.y
  private val hiz = hi.z
  private var x = lo.x
  private var y = lo.y
  private var z = lo.z
  private var ci = 0
  // flat index of (origin.x, y, z): x-fastest F-order
  private var base = rowBase()

  /** Rows this iterator emits in total: clip volume x channels. */
  val rows: Long = (hix - lox) * (hiy - loy) * (hiz - lo.z) *
    (if (channels == null) 1 else channels.length)

  private def rowBase(): Long =
    sx * ((y - origin.y) + sy * (z - origin.z)) - origin.x

  override def hasNext: Boolean = z < hiz

  override def next(): InternalRow = {
    if (z >= hiz) throw new NoSuchElementException("clip box exhausted")
    val i = base + x
    writer.write(0, x); writer.write(1, y); writer.write(2, z)
    if (reals != null) writer.write(3, reals(i.toInt))
    else if (channels == null) writer.write(3, longs(i.toInt))
    else {
      val c = channels(ci)
      writer.write(3, c)
      writer.write(4, longs((i + plane * c).toInt))
      ci += 1
    }
    if (channels == null || ci == channels.length) {
      ci = 0
      x += 1
      if (x == hix) {
        x = lox; y += 1
        if (y == hiy) { y = loy; z += 1 }
        base = rowBase()
      }
    }
    row
  }
}

object ClipIterator {
  /** The rows of `cell` ∩ `bbox` of a decoded chunk whose voxels lie
    * x-fastest from `cell.minpt` with extent `dims` (`dims` may exceed
    * `cell.size` where a format pads its edge chunks), or null when
    * the box misses the cell.
    */
  def of(cell: Bbox, dims: Vec3, bbox: Bbox, longs: Array[Long],
      reals: Array[Double] = null, channels: Array[Long] = null)
      : ClipIterator = {
    val hit = cell.intersection(bbox)
    if (hit.isEmpty) null
    else new ClipIterator(cell.minpt, dims, hit.minpt, hit.maxpt, longs,
      reals, channels)
  }
}
