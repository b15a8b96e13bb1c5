package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.avro.{AvroFunctions, AvroOcf}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.Trigger

/** The session's local filesystem ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]) leaves the same bits on disk as Hadoop's own: every
  * file, directory and `.crc` side file carries the mode Hadoop requested
  * under its umask, sticky bits still apply, symlinks still report their
  * target, a rename never replaces an existing file and missing paths
  * still fail with `FileNotFoundException`. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def fs = FileSystem.get(new URI("file:///"), conf)
  private def fc = FileContext.getFileContext(new URI("file:///"), conf)
  private def hpath(p: NioPath) = new Path(p.toUri)
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("parquet, checkpoint and Avro container files carry Hadoop's umasked modes") {
    val root = Files.createTempDirectory("graft-localfs")
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt

    spark.range(20).repartition(2).write.parquet(s"$root/pq")
    spark.readStream.schema(spark.read.parquet(s"$root/pq").schema).parquet(s"$root/pq")
      .writeStream.format("parquet").option("checkpointLocation", s"$root/ck")
      .trigger(Trigger.AvailableNow()).start(s"$root/sink").awaitTermination(120000)
    val records = spark.range(20).select(struct(col("id")).as("r"))
    val schemaJson = AvroFunctions.writerSchemaFor(records.schema("r").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType])
    AvroOcf.write(records.select(AvroFunctions.toAvro(col("r")))
      .as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY), schemaJson, s"$root/ocf")

    val written = Seq("pq", "ck", "sink", "ocf").flatMap { d =>
      val s = Files.walk(root.resolve(d))
      try s.iterator().asScala.toVector finally s.close()
    }
    val names = written.map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".crc")) &&
      names.exists(_.endsWith(".avro")) && names.contains("commits"), names.mkString(", "))
    val off = written.flatMap { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      if (mode(p) == want) None else Some(f"${root.relativize(p)}: ${mode(p)}%o, want $want%o")
    }
    assert(off.isEmpty, off.mkString("\n  "))
  }

  test("a sticky-bit permission still applies through both Hadoop APIs") {
    val dir = Files.createTempDirectory("graft-sticky")
    fs.setPermission(hpath(dir), new FsPermission("1755"))
    assert(mode(dir) === Integer.parseInt("1755", 8))
    fc.setPermission(hpath(dir), new FsPermission("1700"))
    assert(mode(dir) === Integer.parseInt("1700", 8))
    fs.setPermission(hpath(dir), new FsPermission("750"))
    assert(mode(dir) === Integer.parseInt("750", 8))
  }

  // scheme-less paths: with a `file:` URI, Hadoop hands `readlink` the URI
  // string and reports a symlink as its target's plain status
  test("link status reports a symlink's target and a plain file's own status") {
    val dir = Files.createTempDirectory("graft-links")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)

    for (status <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                       fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(status.isSymlink)
      assert(status.getSymlink.toUri.getPath === target.toString)
    }
    for (p <- Seq(new Path(target.toString), hpath(target));
         status <- Seq(fs.getFileLinkStatus(p), fc.getFileLinkStatus(p))) {
      assert(!status.isSymlink && status.isFile && status.getLen === 3)
      assert(status.getPath.toUri.getPath === target.toString)
    }
  }

  test("a rename onto an existing file fails and leaves both files") {
    val dir = Files.createTempDirectory("graft-rename")
    val (src, dst) = (dir.resolve("src"), dir.resolve("dst"))
    Files.write(src, Array[Byte](1))
    Files.write(dst, Array[Byte](2, 2))
    assert(!fs.rename(hpath(src), hpath(dst)))
    assert(Files.readAllBytes(src).toSeq === Seq[Byte](1))
    assert(Files.readAllBytes(dst).toSeq === Seq[Byte](2, 2))
    assert(fs.rename(hpath(src), hpath(dir.resolve("fresh"))))
    assert(Files.readAllBytes(dir.resolve("fresh")).toSeq === Seq[Byte](1))
  }

  test("a missing path still fails with FileNotFoundException") {
    val missing = hpath(Files.createTempDirectory("graft-missing").resolve("absent"))
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fs.getFileStatus(missing))
    intercept[IOException](fs.setPermission(missing, new FsPermission("644")))
  }
}
