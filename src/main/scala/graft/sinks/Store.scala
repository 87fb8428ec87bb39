package graft.sinks

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The files under `dir` through the Hadoop `FileSystem` its path names,
  * resolved from the Hadoop conf Spark writes data with: a dir on any
  * scheme that conf knows (`s3a://`, …) holds the program's own files
  * (manifests, codebook, run context and config, NDJSON batches) beside
  * the data. A `ChecksumFileSystem` (the default `file:` one) is
  * stripped to its raw filesystem: its rename moves a file and its
  * `.crc` in two steps.
  */
private[graft] final class Store(dir: String, val conf: Configuration) {
  val root: Path = new Path(dir)

  val fs: FileSystem = root.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** `name` under the root, in the form `dir` was given in. */
  def apply(name: String): Path = new Path(root, name)

  /** The entries of `p`; none when it does not exist. */
  def list(p: Path = root): Seq[FileStatus] =
    try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil }

  def read(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Write `bytes` to `tmp`, then rename it to `p`, so a reader finds
    * all of `p` or what was there before; throws if the rename fails.
    * Replacing a file needs a rename that replaces, as local ones do.
    */
  def put(p: Path, bytes: Array[Byte], tmp: Option[Path] = None): Unit = {
    val staging = tmp.getOrElse(new Path(p.getParent, s".${p.getName}.tmp"))
    val out = fs.create(staging, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(staging, p))
      throw new IOException(s"could not rename $staging to $p")
  }

  def delete(p: Path): Unit = fs.delete(p, true)

  def mkdirs(): Unit = fs.mkdirs(root)
}

private[graft] object Store {
  def apply(dir: String, spark: SparkSession): Store =
    new Store(dir, spark.sessionState.newHadoopConf())

  /** Under the active, else the default session's conf. */
  def apply(dir: String): Store = apply(dir, SparkSession.active)
}
