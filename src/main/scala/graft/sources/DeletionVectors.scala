package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

import graft.sources.SnapshotTable.Dv

/** The on-disk deletion-vector format: one `data/dv-<uuid>.bin` file
  * per DV commit, holding the vectors of the data files that commit
  * touched (Delta's deletion-vector layout, minus its UUID/inline
  * variants):
  *
  *  - byte 0: [[FormatVersion]];
  *  - then, per vector, its portable Roaring serialization followed by
  *    the big-endian CRC32 of those bytes.
  *
  * A manifest entry's [[Dv]] pointer records the vector's exact byte
  * range (`offset`, `size`, the CRC excluded) and its cardinality, so
  * a reader loads one file's vector with one open and one range read,
  * and every check — header, CRC, cardinality — refuses loudly:
  * a vector that silently read as fewer positions would resurrect
  * deleted rows. Positions are file-absolute row indexes, stored as
  * ints; a file reaching 2^31 rows refuses at write.
  */
private[graft] object DeletionVectors {

  val FormatVersion: Byte = 1

  def serialize(b: RoaringBitmap): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.serializedSizeInBytes())
    b.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte], off: Int = 0, len: Int = -1): RoaringBitmap = {
    val b = new RoaringBitmap()
    b.deserialize(new DataInputStream(new ByteArrayInputStream(bytes, off,
      if (len < 0) bytes.length - off else len)))
    b
  }

  private def crcOf(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32()
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  /** A row position as a vector member: refuses what an int cannot
    * key (the mask probes `contains(pos.toInt)`). */
  def member(pos: Long, file: String): Int = {
    if (pos < 0 || pos > Int.MaxValue) throw new IllegalStateException(
      s"row position $pos of $file is outside a deletion vector's " +
        "int range (a file must stay under 2^31 rows)")
    pos.toInt
  }

  /** Publish `vectors` as one DV file at `dir/relPath` — written to a
    * `.dv-<uuid>` temp name (vacuum reclaims a torn one) and renamed
    * into place — and return each vector's (offset, size). */
  def write(fs: FileSystem, dir: String, relPath: String,
            vectors: Seq[RoaringBitmap]): Seq[(Long, Int)] = {
    val tmp = new Path(dir, s".dv-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    val ptrs = try {
      out.writeByte(FormatVersion)
      vectors.map { b =>
        val bytes = serialize(b)
        val off = out.getPos
        out.write(bytes)
        out.writeInt(crcOf(bytes, 0, bytes.length))
        (off, bytes.length)
      }
    } catch {
      case t: Throwable => out.close(); fs.delete(tmp, false); throw t
    }
    out.close()
    val target = new Path(dir, relPath)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not publish $target")
    }
    ptrs
  }

  /** The vector `dv` points at (its `path` already resolved). */
  def read(conf: Configuration, dv: Dv): RoaringBitmap = readAll(conf, Seq(dv)).head

  /** The vectors `dvs` point at (paths already resolved), through one
    * open per distinct DV file: its header byte, then each vector's
    * range. Reads are sequential — a positioned read on a checksummed
    * local file opens it again. Refuses on an unknown format, a CRC
    * mismatch or a cardinality that differs from the pointer's `rows`. */
  def readAll(conf: Configuration, dvs: Seq[Dv]): Seq[RoaringBitmap] = {
    val loaded = dvs.distinct.groupBy(_.path).flatMap { case (path, ds) =>
      val p = new Path(path)
      val in = p.getFileSystem(conf).open(p)
      try {
        val version = in.read()
        if (version != FormatVersion) throw new IllegalStateException(
          s"deletion-vector file $path has format version $version; " +
            s"this reader knows $FormatVersion")
        ds.sortBy(_.offset).map { d =>
          val buf = new Array[Byte](d.size + 4)
          in.seek(d.offset)
          in.readFully(buf)
          d -> decode(d, buf)
        }
      } finally in.close()
    }
    dvs.map(loaded)
  }

  private def decode(dv: Dv, buf: Array[Byte]): RoaringBitmap = {
    val stored = java.nio.ByteBuffer.wrap(buf, dv.size, 4).getInt
    if (stored != crcOf(buf, 0, dv.size)) throw new IllegalStateException(
      s"deletion vector at ${dv.path}@${dv.offset} fails its CRC32 check " +
        "(the file is corrupt); refusing to read rows it may mask")
    val b = deserialize(buf, 0, dv.size)
    if (b.getLongCardinality != dv.rows) throw new IllegalStateException(
      s"deletion vector at ${dv.path}@${dv.offset} holds " +
        s"${b.getLongCardinality} positions; the manifest records ${dv.rows}")
    b
  }

  /** The refusal for an entry still pointing at a retired consolidated
    * (file, pos) sidecar. */
  def legacyRefusal(dir: String, file: String): IllegalStateException =
    new IllegalStateException(
      s"$file of $dir carries a deletion vector in the retired (file, pos) " +
        "sidecar format: run CALL <catalog>.system.upgrade('<table>') or " +
        "SnapshotTable.upgrade(spark, dir) once, then retry")
}
