package graft.hadoop

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free local filesystem (optimization guide §1.2: don't pay for
  * work you can do in-process).
  *
  * Stock Hadoop applies POSIX permissions on the local filesystem by
  * SHELLING OUT to `chmod` whenever the native hadoop library is absent
  * (`RawLocalFileSystem.setPermission` → `Shell.execCommand`): one fork
  * per `mkdirs` level and one per created file. Measured on this sandbox
  * (`Perf fsfloor`): `fs.mkdirs` 10–13 ms and `fs.create` 5–12 ms versus 0.5 /
  * 0.1 ms for the equivalent `java.nio` calls — a ~25× tax on every
  * metadata write, version commit, staged file and parquet output. A
  * full bench pays it thousands of times (createTable alone: 132 calls ×
  * ~50 ms).
  *
  * This subclass replaces exactly that one primitive with
  * `Files.setPosixFilePermissions` (a syscall, no fork) and keeps every
  * other behavior — including the checksum (.crc) wrapper semantics via
  * [[FastLocalFileSystem]] — identical to stock. Permission bits beyond
  * the nine POSIX bits (sticky/setuid/setgid) fall back to the stock
  * shell path. Deployment-agnostic: object-store/HDFS schemes are
  * untouched; any executor-local file work benefits equally.
  *
  * Enable with `spark.hadoop.fs.file.impl = graft.hadoop.FastLocalFileSystem`.
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {

  /** Stock `FileSystem.rename(src, dst, OVERWRITE)` — the atomic-replace
    * primitive behind every manifest/meta commit and Structured
    * Streaming's checkpoint WAL — resolves link status via
    * `FileUtil.readLink`, which FORKS a `readlink` process per call when
    * the deprecated file-status path is active. Non-symlink paths (all of
    * them, in a warehouse) answer with one `lstat` syscall instead;
    * genuine symlinks keep the stock behavior. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    val nioPath = pathToFile(f).toPath
    if (Files.isSymbolicLink(nioPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) { super.setPermission(p, permission); return }
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    import PosixFilePermission._
    val order = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
      GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    order.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) set.add(perm)
    }
    try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
    }
  }
}

/** The checksum-wrapped local filesystem over [[FastRawLocalFileSystem]] —
  * drop-in for Hadoop's default `file://` implementation.
  *
  * WRITE-side checksums default OFF (`graft.fs.write-checksum=true`
  * restores them): every output file otherwise pays a `.crc` sibling
  * (create + write + rename, doubling per-file commit work) plus a CRC32
  * pass over every byte — redundant for parquet, whose pages carry their
  * own checksums, on a journaled local filesystem. READ verification is
  * untouched: files that have a `.crc` (pre-existing data) still verify;
  * files without one are read as-is — the mixed state is the wrapper's
  * documented behavior. */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem) {
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(conf.getBoolean("graft.fs.write-checksum", false))
  }
}

/** The FileContext (AbstractFileSystem) twins — mirrors Hadoop's stock
  * `local.RawLocalFs` / `local.LocalFs` structure (checksum wrapper over a
  * delegate) but delegates to the fork-free raw filesystem. FileContext is
  * the API behind the engine's atomic replaces and Structured Streaming's
  * checkpoint metadata log, each of whose renames otherwise pays two
  * `readlink` forks. */
class FastRawLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new FastRawLocalFileSystem, conf, "file", false)

class FastLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new FastRawLocalFs(uri, conf))

object FastLocalFileSystem {
  /** Hadoop-conf pairs enabling the fork-free local FS for BOTH access
    * APIs (FileSystem and FileContext). Applied by every graft session
    * builder; deployment-agnostic (non-`file://` schemes untouched). */
  def hadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[FastLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[FastLocalFs].getName)

  /** Apply [[hadoopConfs]] to a session builder (as `spark.hadoop.*`).
    * Files written by the stock local FS stay readable: the checksum
    * wrapper still verifies an existing `.crc` sibling on read and deletes
    * it when the file is overwritten or renamed. */
  def tune(b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder = {
    hadoopConfs.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    b
  }
}
