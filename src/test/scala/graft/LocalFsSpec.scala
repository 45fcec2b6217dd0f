package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{LocalFs, StoreFs, VectorStore}

/** `LocalFs` sets a created file's or directory's mode in-process; the
  * result on disk must be the stock `LocalFileSystem`'s: same files,
  * same `.crc` files, same modes. */
class LocalFsSpec extends SparkSpec {

  private def scratch(name: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(s"graft_localfs_$name")
    d.toFile.deleteOnExit()
    d
  }

  /** The full mode bits (sticky included) of a local path. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def init(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  /** (file, its `.crc`, the directory) modes after `fs` creates them. */
  private def created(fs: FileSystem, root: java.nio.file.Path): Seq[Int] = {
    val dir = new Path(root.toUri.toString + "/d/sub")
    assert(fs.mkdirs(dir))
    val out = fs.create(new Path(dir, "f"))
    out.write("payload".getBytes("UTF-8")); out.close()
    Seq(root.resolve("d/sub/f"), root.resolve("d/sub/.f.crc"),
      root.resolve("d/sub")).map(mode)
  }

  test("created file, .crc and directory modes equal the stock file system's") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stock = created(init(new LocalFileSystem(), conf), scratch("stock"))
      val ours = created(init(new LocalFs(), conf), scratch("ours"))
      assert(ours === stock, s"umask $umask")
      val expected = if (umask.isEmpty) Seq(0x1a4, 0x1a4, 0x1ed) // 644 644 755
        else Seq(0x180, 0x180, 0x1c0) // 600 600 700
      assert(ours === expected, s"umask $umask")
    }
  }

  test("a sticky-bit mode takes the stock path and matches it") {
    val conf = new Configuration()
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    val modes = Seq(new LocalFileSystem(), new LocalFs()).map { fs =>
      val root = scratch("sticky")
      val dir = new Path(root.toUri.toString + "/t")
      init(fs, conf).mkdirs(dir)
      fs.setPermission(dir, sticky)
      mode(root.resolve("t"))
    }
    assert(modes === Seq(sticky.toShort.toInt, sticky.toShort.toInt))
  }

  test("a session naming its own fs.file.impl keeps it") {
    assert(LocalFs.options(spark).get("fs.file.impl")
      .contains(classOf[LocalFs].getName))
    spark.conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    try assert(LocalFs.options(spark).isEmpty)
    finally spark.conf.unset("fs.file.impl")
  }

  test("VectorStore.append through StoreFs.writer lays out what a plain write does") {
    val rows = spark.range(300).select(col("id"),
      array((1 to 8).map(i => sin(col("id") * i)): _*).as("emb"))
    val viaWriter = scratch("writer").resolve("store")
    val plain = scratch("plain").resolve("store")
    assert(StoreFs.fileSystem(spark, viaWriter.toString)._1.isInstanceOf[LocalFs])
    VectorStore.append(rows, "id", "emb", viaWriter.toString)
    rows.select(col("id"), col("emb"),
        VectorStore.bucketOf(col("emb"), 4).as("bucket"))
      .hint("rebalance", col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(plain.toString)
    // (relative path with the write's uuid masked) -> (size, mode)
    def layout(root: java.nio.file.Path): Map[String, (Long, Int)] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
          ((if (Files.isDirectory(p)) 0L else Files.size(p)), mode(p))
      }.toMap
      finally walk.close()
    }
    val got = layout(viaWriter)
    assert(got.keys.count(_.endsWith(".parquet")) > 1)
    assert(got.keys.exists(_.endsWith(".parquet.crc")))
    assert(got === layout(plain))
  }
}
