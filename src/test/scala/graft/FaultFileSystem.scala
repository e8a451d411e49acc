package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under its own `faultfs:` scheme, failing the
  * file creations a spec arms with [[FaultFileSystem.failCreate]] and
  * refusing the renames it arms with [[FaultFileSystem.failRename]]. A
  * separate scheme leaves the suite's cached `file:` filesystem
  * untouched: only tables opened at a `faultfs://` path see faults.
  */
class FaultFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFileSystem.check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean =
    !FaultFileSystem.failRename(src) && super.rename(src, dst)
}

object FaultFileSystem {
  /** Which created paths fail with an IOException; none by default. */
  @volatile var failCreate: Path => Boolean = _ => false

  /** Which renamed source paths return false, as a filesystem refusing
    * a rename does; none by default.
    */
  @volatile var failRename: Path => Boolean = _ => false

  def check(f: Path): Unit =
    if (failCreate(f)) throw new java.io.IOException(s"injected fault: create $f")

  /** Binds the `faultfs:` scheme in the session's Hadoop conf and
    * returns `localDir` as a `faultfs:` path.
    */
  def bind(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[FaultFileSystem].getName)
    "faultfs://" + localDir
  }
}
