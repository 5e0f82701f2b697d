package graft.sources

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.FrameShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Bbox, Vec3}
import graft.functions.ClipIterator

/** The one chunk-grid cutout scan behind the Zarr2, Zarr3 and N5
  * readers. A format supplies its grid keys and a `read` that turns one
  * key into decoded chunks (path layout, codec chain, byte order and
  * C→F transpose, fill value, shard index lookup); this object owns
  * everything after that, the same for every format:
  *
  *  - task split: [[ScanSizing.partitions]] tasks, key i dealt to task
  *    i mod n (the neuroglancer scan's dealing), from one `parallelize`
  *    — no exchange in the plan;
  *  - one shape check per decoded chunk;
  *  - clip to the box and emit through [[ClipIterator]] (one reused
  *    `UnsafeRow` per chunk) into a DataFrame of non-null LONG
  *    `(x, y, z, label)`.
  */
object ChunkGrid {

  /** One decoded chunk: `vox` holds `dims` voxels, x fastest, the first
    * at `cell.minpt`; `cell` is the part of the volume the chunk covers
    * (clamped to the volume bounds), so `dims` exceeds `cell.size`
    * where a format pads its edge chunks.
    */
  final case class Decoded(cell: Bbox, dims: Vec3, vox: Array[Long])

  private val Schema: StructType = StructType(Seq("x", "y", "z", "label")
    .map(StructField(_, LongType, nullable = false)))

  /** Cutout `bbox` from the chunks `read` decodes for `keys`;
    * `estBytes` is the decoded size of one key's work for the
    * scan-sizing rule.
    */
  def cutout[K: ClassTag](spark: SparkSession, keys: Seq[K], bbox: Bbox,
      estBytes: Long)(read: K => Iterator[Decoded]): DataFrame = {
    val ks = keys.toIndexedSeq
    val n = ScanSizing.partitions(spark, ks.size, estBytes)
    val dealt = Seq.tabulate(n)(p => (p until ks.size by n).map(ks).toArray)
    // ClipIterator hands out one reused row per chunk; the LogicalRDD
    // scan projects every row into its own buffer before any consumer
    val rows = spark.sparkContext.parallelize(dealt, n)
      .flatMap(_.iterator.flatMap(read).flatMap(clip(_, bbox)))
    FrameShim.fromInternalRows(spark, rows, Schema)
  }

  /** The rows of `d` inside `bbox`, after checking that the chunk holds
    * exactly `dims` voxels and that `dims` covers its whole cell. */
  private def clip(d: Decoded, bbox: Bbox): Iterator[InternalRow] = {
    val c = d.cell.size
    val dims = d.dims
    require(d.vox.length.toLong == dims.x * dims.y * dims.z,
      s"corrupt chunk ${d.cell.toFilename}: ${d.vox.length} voxels " +
        s"decoded for a $dims layout")
    require(dims.x >= c.x && dims.y >= c.y && dims.z >= c.z,
      s"corrupt chunk ${d.cell.toFilename}: a $dims layout does not " +
        s"cover the $c cell")
    val it = ClipIterator.of(d.cell, dims, bbox, d.vox)
    if (it == null) Iterator.empty else it
  }
}
