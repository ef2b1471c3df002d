package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault-injecting Hadoop FileSystem for crash-point sweeps: the
  * local disk under a `crashfs` scheme, built on [[MockS3FileSystem]]
  * (register with `fs.crashfs.impl=graft.CrashFileSystem`;
  * `crashfs://<any>/abs/path` is the local file `/abs/path`).
  *
  * Once [[CrashFileSystem.arm]]ed with k, the k-th mutating call made
  * on the driver fails, and so does every later one there, as if the
  * process had died:
  *  - `rename`, `delete` and `mkdirs` throw before they act;
  *  - `create` returns a stream that keeps the first half of the
  *    bytes written and throws on `close`.
  * Driver calls are those of every thread but Spark's executor task
  * threads: the caller's own, and the query-stage threads that set up
  * and commit a Spark write's job. Task threads write part files in
  * parallel, so they are not counted; that keeps the numbering of
  * crash points fixed. A call nested inside a counted one
  * (RawLocalFileSystem's create makes its parent dirs) counts once. */
class CrashFileSystem extends MockS3FileSystem {
  import CrashFileSystem._

  override def getScheme: String = "crashfs"

  override def rename(src: Path, dst: Path): Boolean =
    mutate(_ => throw crash(s"rename $src"))(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate(_ => throw crash(s"delete $f"))(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean =
    mutate(_ => throw crash(s"mkdirs $f"))(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate(_ => throw crash(s"mkdirs $f"))(super.mkdirs(f, permission))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutate(halfWrite(f, _))(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutate(halfWrite(f, _))(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  /** The faulted create: buffer everything, and on close write only
    * the first half of it to the file (straight to disk, not through
    * this FileSystem, which is already "dead"), then fail. A create
    * after the crash fails before it acts. */
  private def halfWrite(f: Path, first: Boolean): FSDataOutputStream = {
    if (!first) throw crash(s"create $f")
    val file = new java.io.File(f.toUri.getPath)
    val out = new java.io.ByteArrayOutputStream() {
      override def close(): Unit = {
        file.getParentFile.mkdirs()
        java.nio.file.Files.write(file.toPath,
          java.util.Arrays.copyOf(buf, count / 2))
        throw crash(s"close $f")
      }
    }
    new FSDataOutputStream(out, null)
  }
}

object CrashFileSystem {
  final class Crash(what: String)
      extends java.io.IOException(s"injected crash: $what")
  private def crash(what: String) = new Crash(what)

  @volatile private var armed = false
  private var k = 0
  private var calls = 0
  private var dead = false
  private val nested =
    new ThreadLocal[Int] { override def initialValue = 0 }

  /** Fail the k-th driver mutating call (1-based) made from now on,
    * and every later one. */
  def arm(k: Int): Unit = synchronized {
    this.k = k; calls = 0; dead = false
    armed = true
  }

  /** Stop injecting; returns (mutating calls seen, whether the fault
    * fired). */
  def disarm(): (Int, Boolean) = synchronized {
    armed = false
    (calls, dead)
  }

  /** Run `act`, or `fault(firstFault)` when this call is at or past
    * the armed crash point. */
  private def mutate[T](fault: Boolean => T)(act: => T): T = {
    val counted = armed && nested.get == 0 &&
      !Thread.currentThread.getName.startsWith("Executor task launch")
    val fire = if (!counted) None else synchronized {
      calls += 1
      if (calls >= k) dead = true
      if (dead) Some(calls == k) else None
    }
    if (fire.isDefined) fault(fire.get)
    else {
      nested.set(nested.get + 1)
      try act finally nested.set(nested.get - 1)
    }
  }
}
