package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side metadata and state-swap IO for the lake sinks
  * ([[graft.sinks.UpsertSink]], [[graft.sinks.HistorySink]]), routed
  * through the Hadoop `FileSystem` of each path's URI — local disk in the
  * sandbox, HDFS or an object store on a cluster. `java.nio` would treat a
  * `file:`/`hdfs:` scheme as path characters and cannot address shared
  * storage at all, which made the lake sinks the one remaining local-FS
  * seam (every other storage touchpoint already rides
  * [[graft.sources.PbBinlogFile.fsFor]]).
  *
  * All callers are driver-side (checkpoint markers, bucket-directory
  * swaps), so the session's Hadoop configuration is resolved at call time —
  * no conf shipping needed. */
object MetaFs {

  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs(path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def readString(path: String): String = {
    val f = fs(path); val p = new Path(path)
    val len = f.getFileStatus(p).getLen
    // every caller reads metadata markers; a >2 GiB file would silently
    // truncate through toInt — refuse loudly instead
    require(len <= (1L << 20), s"$path is $len bytes — not a metadata marker")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0L, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  /** Torn-write-safe marker write: the bytes land whole in a `.tmp` sibling
    * and move into place, so a crash mid-write can never leave a HALF-WRITTEN
    * marker to wedge the sinks' checkpoint parsers. The delete-then-rename
    * pair (Hadoop rename does not replace an existing file) leaves only the
    * benign window: a crash between them loses the marker entirely, which
    * costs one idempotent batch replay — the guarantee class the sinks
    * document. */
  def writeString(path: String, s: String): Unit = {
    val f = fs(path)
    // the marker's bytes go through the checksummed filesystem's raw one:
    // no `.crc` sidecar per marker, and the shared cached instance keeps its
    // checksum flag. The rename is raw too, so a sidecar a crashed writer
    // left beside the temp never moves onto the marker
    val raw = f match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val tmp = new Path(path + ".tmp")
    val out = raw.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    f.delete(new Path(path), false)
    if (!raw.rename(tmp, new Path(path)))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  /** Child names of a directory; a missing path lists empty. */
  def listNames(path: String): Seq[String] = {
    val f = fs(path); val p = new Path(path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName).toSeq
  }

  def mkdirs(path: String): Unit = { fs(path).mkdirs(new Path(path)); () }

  /** Recursive delete; a missing path is a no-op. */
  def delete(path: String): Unit = { fs(path).delete(new Path(path), true); () }

  /** Rename with a vacated destination as the caller's precondition: Hadoop
    * moves a source INTO an existing destination directory instead of
    * replacing it, so swap sequences must move the old destination aside
    * first ([[swapDir]] does exactly that). */
  def rename(src: String, dst: String): Unit =
    if (!fs(dst).rename(new Path(src), new Path(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Replace directory `dst` by `src` — the lake sinks' one swap protocol:
    * vacate (`dst` → `old`), promote (`src` → `dst`), then delete `old`.
    * The aside name `old` is deterministic per `dst` and the old copy goes
    * only AFTER the promote, so a crash at ANY point leaves a state
    * [[healSwap]] rolls back or finishes; a leftover `old` is healed first
    * (never vacate INTO it). A missing `src` leaves `dst` vacated. */
  def swapDir(src: String, dst: String, old: String): Unit = {
    healSwap(dst, old)
    if (exists(dst)) rename(dst, old)
    if (exists(src)) rename(src, dst)
    delete(old)
  }

  /** Roll back (or finish) a [[swapDir]] a crash interrupted: `old`
    * present with `dst` missing means the crash hit between the renames and
    * `old` holds the only copy — restore it; both present means the promote
    * landed and only the final delete was lost — drop the stale copy. */
  def healSwap(dst: String, old: String): Unit =
    if (exists(old)) {
      if (!exists(dst)) rename(old, dst)
      else delete(old)
    }
}
