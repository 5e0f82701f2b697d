package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.core._
import graft.sources.PrecomputedIO

/** Closed-form seeded segmentation volume.
  *
  * Labels are hashed "cells": axis-aligned boxes of `cell` voxels per
  * side whose grid is phase-shifted by the seed, so an 8^3
  * compressed_segmentation block holds 1 to 8 labels, as real EM
  * segmentation does. Every label is a nonzero uint32. Any voxel's
  * label, any box's row checksum and any box's label set follow from
  * the seed alone, which is how every benchmark op is checked.
  */
final case class Gen(seed: Long, dims: Vec3, chunk: Long, cell: Int) {
  private val phase: Array[Long] =
    Array.tabulate(3)(i => Math.floorMod(Gen.mix64(seed * 31 + i + 1), cell.toLong))
  private val salt = Gen.mix64(seed ^ 0x5851F42D4C957F2DL)

  val bounds: Bbox = Bbox(Vec3(0, 0, 0), dims)
  val chunkSize: Vec3 = Vec3(chunk, chunk, chunk)
  val grid: Vec3 = Vec3(Geom.ceilDiv(dims.x, chunk), Geom.ceilDiv(dims.y, chunk),
    Geom.ceilDiv(dims.z, chunk))
  def voxels: Long = dims.x * dims.y * dims.z

  private def cellLabel(cx: Long, cy: Long, cz: Long): Long = {
    val l = Gen.mix64(salt ^ ((cx << 42) | (cy << 21) | cz)) & 0xffffffffL
    if (l == 0L) 1L else l
  }

  def label(x: Long, y: Long, z: Long): Long =
    cellLabel((x + phase(0)) / cell, (y + phase(1)) / cell, (z + phase(2)) / cell)

  /** All chunk grid points, x fastest. */
  def gridPoints: IndexedSeq[Vec3] =
    for (gz <- 0L until grid.z; gy <- 0L until grid.y; gx <- 0L until grid.x)
      yield Vec3(gx, gy, gz)

  def chunkBbox(g: Vec3): Bbox = Geom.chunkBbox(g, bounds, chunkSize)

  /** Grid points of the chunks a box touches. */
  def chunksOf(b: Bbox): IndexedSeq[Vec3] =
    Geom.gridpoints(b, bounds, chunkSize).toIndexedSeq

  /** F-order (x fastest) voxels of box `b`. */
  def voxelsOf(b: Bbox): Array[Long] = {
    val s = b.size
    val out = new Array[Long]((s.x * s.y * s.z).toInt)
    var i = 0
    var z = b.minpt.z
    while (z < b.maxpt.z) {
      var y = b.minpt.y
      while (y < b.maxpt.y) {
        var x = b.minpt.x
        while (x < b.maxpt.x) { out(i) = label(x, y, z); i += 1; x += 1 }
        y += 1
      }
      z += 1
    }
    out
  }

  /** (row count, wrapping sum of [[Gen.rowHash]]) over the voxels of
    * `b` clipped to the volume: what a correct cutout of `b` returns. */
  def checksum(b: Bbox): (Long, Long) = {
    val c = b.intersection(bounds)
    if (c.isEmpty) return (0L, 0L)
    var sum = 0L
    var z = c.minpt.z
    while (z < c.maxpt.z) {
      var y = c.minpt.y
      while (y < c.maxpt.y) {
        var x = c.minpt.x
        while (x < c.maxpt.x) { sum += Gen.rowHash(x, y, z, label(x, y, z)); x += 1 }
        y += 1
      }
      z += 1
    }
    (c.volume, sum)
  }

  /** Exact label set of the voxels of `b` clipped to the volume: the
    * labels of every cell the box overlaps. */
  def labelsOf(b: Bbox): Set[Long] = {
    val c = b.intersection(bounds)
    if (c.isEmpty) return Set.empty
    def range(i: Int, lo: Long, hi: Long) =
      ((lo + phase(i)) / cell) to ((hi - 1 + phase(i)) / cell)
    (for {
      cx <- range(0, c.minpt.x, c.maxpt.x)
      cy <- range(1, c.minpt.y, c.maxpt.y)
      cz <- range(2, c.minpt.z, c.maxpt.z)
    } yield cellLabel(cx, cy, cz)).toSet
  }
}

object Gen {
  /** SplitMix64 finalizer. */
  def mix64(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Order-independent checksum term of one (x, y, z, label) row.
    * Coordinates below 2^16 pack injectively. */
  def rowHash(x: Long, y: Long, z: Long, label: Long): Long =
    mix64(((x << 32) | (y << 16) | z) ^ (label * 0xD6E8FEB86659FD93L))

  /** The benchmark layer: 512 x 512 x 256 uint32 voxels (268 voxel-MB),
    * 64^3 chunks, cells of about 20 voxels per side. */
  def standard(seed: Long): Gen = Gen(seed, Vec3(512, 512, 256), 64, 20)
}

/** Writes a [[Gen]] volume as a precomputed layer: uint32
  * compressed_segmentation (8^3 blocks) chunks, gzip second stage. */
object Fixture {
  val Block: Vec3 = Vec3(8, 8, 8)
  val DtypeBytes = 4

  def meta(gen: Gen): VolumeMeta = VolumeMeta("segmentation", "uint32", 1,
    Seq(ScaleMeta("8_8_8", "compressed_segmentation", Seq(8.0, 8.0, 8.0),
      gen.chunkSize, gen.dims, Vec3(0, 0, 0), Some(Block))))

  final case class Written(objects: Int, compressedBytes: Long)

  def encode(vox: Array[Long], size: Vec3): Array[Byte] =
    Cseg.encode(vox, size, Block, DtypeBytes)

  /** Path of a chunk's stored object (the `.gz` the layer holds). */
  def objectPath(layer: String, gen: Gen, g: Vec3): Path =
    Paths.get(PrecomputedIO.chunkPath(layer, meta(gen).scale(0), g).toString + ".gz")

  /** Write the layer under `layer` using up to `threads` threads. With
    * `keep`, the decoded chunk arrays are returned in grid order. */
  def write(gen: Gen, layer: String, threads: Int, keep: Boolean)
      : (Written, Array[Array[Long]]) = {
    PrecomputedIO.writeInfo(layer, meta(gen))
    Files.createDirectories(Paths.get(layer, meta(gen).scale(0).key))
    val pts = gen.gridPoints
    val kept = new Array[Array[Long]](if (keep) pts.size else 0)
    val sizes = Par.map(pts.size, threads) { i =>
      val b = gen.chunkBbox(pts(i))
      val vox = gen.voxelsOf(b)
      if (keep) kept(i) = vox
      val gz = Codec.gzip(encode(vox, b.size))
      Files.write(objectPath(layer, gen, pts(i)), gz)
      gz.length.toLong
    }
    (Written(pts.size, sizes.sum), kept)
  }
}

/** Minimal fixed-width parallel map over indices (no shared pool). */
object Par {
  def map[T: scala.reflect.ClassTag](n: Int, threads: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val workers = (0 until math.max(1, math.min(threads, n))).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && errors.isEmpty) {
          try out(i) = f(i) catch { case e: Throwable => errors.add(e) }
          i = next.getAndIncrement()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    workers.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    out
  }
}
