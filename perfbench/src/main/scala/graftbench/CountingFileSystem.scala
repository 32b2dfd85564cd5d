package graftbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.sources.NioLocalFileSystem

/** `file://` filesystem of the traced run: graft's own local filesystem
  * with every metadata call counted and timed, and every byte read
  * classified as table metadata (logs, manifests, checksums) or data.
  * Installed through the session's `fs.file.impl` conf, never in the
  * untraced run. Counters are process-wide: ops run one at a time, so
  * the difference of two snapshots is one op's share. */
class CountingFileSystem extends NioLocalFileSystem {
  import CountingFileSystem._

  private def timed[T](c: AtomicLong)(body: => T): T = {
    c.incrementAndGet()
    val t0 = System.nanoTime()
    try body finally metaNs.addAndGet(System.nanoTime() - t0)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = timed(opens)(super.open(f, bufferSize))
    new FSDataInputStream(new Counted(in, if (isMeta(f)) metaBytesRead else dataBytesRead))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed(creates)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    timed(creates)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    timed(renames)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    timed(deletes)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    timed(lists)(super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    timed(statuses)(super.getFileStatus(f))
}

object CountingFileSystem {
  val opens, creates, renames, deletes, lists, statuses = new AtomicLong
  val metaBytesRead, dataBytesRead, metaNs = new AtomicLong

  /** Counter name → the AtomicLong behind it, in reporting order. */
  val counters: Seq[(String, AtomicLong)] = Seq(
    "sources.fs.open" -> opens, "sources.fs.create" -> creates,
    "sources.fs.rename" -> renames, "sources.fs.delete" -> deletes,
    "sources.fs.list" -> lists, "sources.fs.status" -> statuses,
    "sources.fs.meta_bytes_read" -> metaBytesRead,
    "sources.fs.data_bytes_read" -> dataBytesRead,
    "sources.fs.meta_call_ns" -> metaNs)

  def snapshot(): Array[Long] = counters.map(_._2.get()).toArray

  /** Table metadata: transaction logs, Iceberg metadata and manifests,
    * graft commit records and checksum sidecars. Everything else
    * (parquet data files, deletion vectors) is data. */
  def isMeta(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.contains("/_delta_log/") || s.contains("/metadata/") ||
      s.contains("/_graft_log/") || s.endsWith(".crc") ||
      s.endsWith(".json") || s.endsWith(".avro")
  }

  private final class Counted(in: FSDataInputStream, bytes: AtomicLong)
      extends FSInputStream {
    private def add(n: Int): Int = { if (n > 0) bytes.addAndGet(n.toLong); n }
    override def read(): Int = { val b = in.read(); if (b >= 0) bytes.incrementAndGet(); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = add(in.read(buf, off, len))
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
      add(in.read(pos, buf, off, len))
    override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, buf, off, len); bytes.addAndGet(len.toLong)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
