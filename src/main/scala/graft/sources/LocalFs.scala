package graft.sources

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local file system, with the new file's or
  * directory's mode set in-process. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file,
  * `.crc` and directory it creates (10.6-14.2 ms each on a 4-CPU host,
  * against 0.56-1.09 ms through `java.nio`). Only that call changes:
  * the bytes, the `.crc` files, the modes (umask applied by the caller,
  * as before) and the layout are the stock file system's. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The raw layer. A native `chmod`, a non-POSIX host and a mode
    * beyond `rwxrwxrwx` (the sticky bit has no `PosixFilePermission`)
    * keep the stock path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || !posix || (permission.toShort & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else // within rwxrwxrwx, toString is the 9-char "rwxr-x---" form
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
  }

  /** Hadoop options that route `file:` through [[LocalFs]]: Spark
    * copies a write's options into its Hadoop conf. The FileSystem
    * cache is keyed by scheme, not by conf, so it is bypassed, or the
    * stock instance the session cached first would win. Empty where the
    * session names its own non-default `fs.file.impl`. */
  def options(spark: SparkSession): Map[String, String] = {
    val impl = classOf[LocalFs].getName
    Option(spark.sessionState.newHadoopConf().get("fs.file.impl")) match {
      case Some(named) if named != impl &&
          named != classOf[LocalFileSystem].getName => Map.empty
      case _ => Map("fs.file.impl" -> impl, "fs.file.impl.disable.cache" -> "true")
    }
  }
}
