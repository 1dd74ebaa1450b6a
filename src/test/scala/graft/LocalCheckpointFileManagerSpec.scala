package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The fork-free checkpoint manager keeps the contract Spark's streaming
  * logs and state stores rely on (atomic publish on close, cancel,
  * no-overwrite) and leaves on disk what Spark's default manager leaves:
  * the same files, `.crc` sidecars and POSIX modes. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_lcfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(fm: CheckpointFileManager, p: Path, bytes: String,
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(bytes.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Every entry in `dir`, hidden temp and `.crc` files included. */
  private def entries(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("the target is not visible before close") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("batch".getBytes("UTF-8"))
    assert(!fm.exists(p))
    assert(!Files.exists(dir.resolve("0")))
    out.close()
    assert(fm.exists(p) && read(fm, p) == "batch")
    assert(entries(dir) == Set("0", ".0.crc"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.toUri.toString, "0"),
      overwriteIfPossible = false)
    out.write("batch".getBytes("UTF-8"))
    out.cancel()
    assert(entries(dir).isEmpty, s"left behind: ${entries(dir)}")
  }

  test("overwriteIfPossible=false on an existing file throws FileAlreadyExistsException") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second"))
    assert(read(fm, p) == "first")
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
  }

  test("a .crc sidecar is written, and a flipped byte fails the read") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "offsets and commits")
    assert(Files.size(dir.resolve(".0.crc")) > 0)
    val raf = new RandomAccessFile(dir.resolve("0").toFile, "rw")
    try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 0x01) }
    finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("POSIX modes equal those of Spark's default manager") {
    val (dir, fm) = fresh()
    val spark = CheckpointFileManager.create(new Path(dir.toUri), conf)
    assert(!spark.isInstanceOf[LocalCheckpointFileManager])
    val root = dir.toUri.toString
    fm.mkdirs(new Path(root, "ours/d"))
    spark.mkdirs(new Path(root, "spark/d"))
    write(fm, new Path(root, "ours/d/0"), "x")
    write(spark, new Path(root, "spark/d/0"), "x")
    for (rel <- Seq("d", "d/0", "d/.0.crc")) {
      val ours = Files.getPosixFilePermissions(dir.resolve("ours").resolve(rel))
      val theirs = Files.getPosixFilePermissions(dir.resolve("spark").resolve(rel))
      assert(ours == theirs, s"mode of $rel")
    }
    assert(entries(dir.resolve("ours/d")) == entries(dir.resolve("spark/d")))
  }

  test("list hides .crc sidecars") {
    val (dir, fm) = fresh()
    Seq("0", "1").foreach(n => write(fm, new Path(dir.toUri.toString, n), n))
    assert(entries(dir) == Set("0", "1", ".0.crc", ".1.crc"))
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet == Set("0", "1"))
  }

  test("a non-file: path is rejected") {
    val e = intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("hdfs://namenode:8020/ckpt"), conf)
    }
    assert(e.getMessage.contains("only file: paths"))
  }

  test("Spark instantiates it from spark.sql.streaming.checkpointFileManagerClass") {
    val c = new Configuration(conf)
    c.set(graft.core.Tables.CheckpointFileManagerKey,
      classOf[LocalCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("graft_lcfm")
    assert(CheckpointFileManager.create(new Path(dir.toUri), c)
      .isInstanceOf[LocalCheckpointFileManager])
  }
}
