package graft.store

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `faulty:` scheme, which can fail a sink's
  * commit. Once [[FaultyFileSystem.armed]], it fails the first publish of a
  * file that carries no rows, then disarms: a `create`, or the rename of a
  * file, onto a visible name that is not a parquet file, not Spark's
  * `_SUCCESS` marker and not under a `_temporary` directory. Data files
  * and the directory moves of Spark's output committer go through, so the
  * failure lands after a batch's rows are on disk and before the batch is
  * published. Register with `fs.faulty.impl`.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = FaultyFileSystem.Uri

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = {
    FaultyFileSystem.check(f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (pathToFile(src).isFile) FaultyFileSystem.check(dst)
    super.rename(src, dst)
  }
}

object FaultyFileSystem {
  val Uri: URI = URI.create("faulty:///")
  val armed = new AtomicBoolean(false)

  private def publishes(p: Path): Boolean = {
    val name = p.getName
    !name.startsWith(".") && !name.endsWith(".parquet") && name != "_SUCCESS" &&
      !p.toUri.getPath.contains("/_temporary/")
  }

  private def check(p: Path): Unit =
    if (publishes(p) && armed.compareAndSet(true, false))
      throw new java.io.IOException(s"injected failure publishing $p")
}
