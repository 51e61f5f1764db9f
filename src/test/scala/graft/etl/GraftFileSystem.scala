package graft.etl

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A non-`file:` Hadoop filesystem for the object-store contract test:
  * local storage served under the `graftfs://` scheme. Registered as
  * `fs.graftfs.impl`, it proves the engine's glob, partition
  * discovery/pruning, planned-vs-read file audit, warehouse writes and
  * compaction all run through the FileSystem API with no hard-coded
  * `file:` assumptions — the reference reads `s3://` directly
  * (reference src/sources/aws_cur.py:60-66), so scheme-portability is
  * part of its contract.
  *
  * It also injects crashes: every mutating call (`create`, `rename`,
  * `delete`, `mkdirs`) is counted in [[GraftFileSystem.calls]], and once
  * [[GraftFileSystem.arm]]ed at N, call N and every later one throw
  * before touching the disk — a process that died just before call N. */
class GraftFileSystem extends RawLocalFileSystem {
  import GraftFileSystem.step
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { step("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f)
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { step("mkdirs", f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object GraftFileSystem {
  /** Mutating calls since the last [[arm]]. */
  val calls = new AtomicLong
  @volatile private var failAt = Long.MaxValue

  /** Restart the count; call `n` and every later one then throw. The
    * default never throws, for counting a clean run. */
  def arm(n: Long = Long.MaxValue): Unit = { calls.set(0); failAt = n }

  def disarm(): Unit = failAt = Long.MaxValue

  private def step(op: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    if (n >= failAt) throw new java.io.IOException(s"injected crash at mutating call $n: $op $p")
  }
}

/** Local-backed stand-in registered as `fs.s3a.impl` for the OFFLINE
  * s3a contract test (no hadoop-aws jar / no egress in this
  * environment): proves the `s3a://` URI surface — EngineConfig's
  * `fs.s3a.*` conf plumbing, CurSource scans, sync, and the manifest
  * compaction commit — without a live store. Risk left uncovered is exactly the
  * real S3AFileSystem's own behavior, which is the hadoop-aws project's
  * contract, not this engine's. */
class S3aStubFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create("s3a:///")

  /** Spark lists `s3a` paths through the recursive `FileSystem.listFiles`
    * fast path (`spark.sql.sources.useListFilesFileSystemList`, default
    * includes s3a), whose default implementation recurses through THIS
    * method and materializes `LocatedFileStatus` — which triggers
    * RawLocalFileSystem's lazy permission load, and that does
    * `new java.io.File(uri)` on a non-`file` URI. Pre-materialize the
    * permission (object stores have no POSIX permissions anyway) so the
    * engine exercises the same listing path it would on real s3a. */
  override def listLocatedStatus(
      f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
    val it = listStatus(f).iterator
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): LocatedFileStatus = {
        val s = it.next()
        val plain = new FileStatus(s.getLen, s.isDirectory, s.getReplication,
          s.getBlockSize, s.getModificationTime, s.getAccessTime,
          org.apache.hadoop.fs.permission.FsPermission.getFileDefault, "", "",
          s.getPath)
        new LocatedFileStatus(plain, Array.empty)
      }
    }
  }
}
