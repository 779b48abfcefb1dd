package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Test-only local filesystem with two switchable faults:
  *   - `failTmpDelete`: deleting a temp manifest (`_commits/.tmp-*`)
  *     throws, the shape of a flaky cleanup after a published commit;
  *   - `onRenameInto`: a callback run after a staged file is renamed
  *     into a table under a name with the given prefix, on the driver
  *     thread, so a spec can land a racing commit between a write's
  *     staging and its commit.
  * Installed through `fs.file.impl` with the FileSystem cache off, so
  * every `getFileSystem` call sees it; [[FaultyLocalFs.installed]]
  * restores the previous configuration afterwards.
  */
class FaultyLocalFs extends LocalFileSystem {
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (FaultyLocalFs.failTmpDelete && p.getName.startsWith(".tmp-") &&
        p.getParent != null && p.getParent.getName == "_commits")
      throw new java.io.IOException(s"injected delete failure on $p")
    super.delete(p, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    FaultyLocalFs.onRenameInto.foreach { case (prefix, hook) =>
      if (dst.getName.startsWith(prefix)) hook()
    }
    ok
  }
}

object FaultyLocalFs {
  @volatile var failTmpDelete = false
  @volatile var onRenameInto: Option[(String, () => Unit)] = None

  private val Keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")

  def installed[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = Keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[FaultyLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      failTmpDelete = false
      onRenameInto = None
      prev.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
