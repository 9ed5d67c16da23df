package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.DataFrame

import graft.sources.{InProcessLocalFileSystem, Warehouse}

/** The session's `file:` file system sets modes in-process: the same
  * modes as Hadoop's forked `chmod`, and no `chmod` process under a
  * warehouse append or a checkpointed stream. Process starts are
  * counted with JFR's `jdk.ProcessStart` event, in this JVM.
  */
class InProcessLocalFileSystemSpec extends SparkSpecBase {

  private val fileUri = URI.create("file:///")
  private lazy val stock = { val fs = new RawLocalFileSystem; fs.initialize(fileUri, spark.sparkContext.hadoopConfiguration); fs }
  private lazy val ours = { val fs = new InProcessLocalFileSystem.Raw; fs.initialize(fileUri, spark.sparkContext.hadoopConfiguration); fs }
  /** A fresh, uncached instance of what `file:` resolves to without the
    * session's `fs.file.impl`: the file system this class replaces.
    */
  private def before(): FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = ReflectionUtils.newInstance(FileSystem.getFileSystemClass("file", new Configuration()), conf)
    fs.initialize(fileUri, conf)
    fs
  }
  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)
  private def oct(digits: String) = Integer.parseInt(digits, 8)
  private def perm(mode: Int) = new FsPermission(mode.toShort)
  private def rwx(p: java.nio.file.Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def fullMode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** `body`'s result and the commands of the `chmod` processes this JVM
    * started while it ran.
    */
  private def chmodStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val dump = Files.createTempFile("graft_proc", ".jfr")
    try {
      rec.dump(dump)
      (out, RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command")).filter(_.startsWith("chmod")))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("all 512 rwx modes, on a file and on a directory, match Hadoop's forked chmod, without a fork") {
    val dir = tmp("graft_modes")
    val (f1, d1, f2, d2) = (dir.resolve("f1"), dir.resolve("d1"), dir.resolve("f2"), dir.resolve("d2"))
    Files.createFile(f1); Files.createDirectory(d1); Files.createFile(f2); Files.createDirectory(d2)
    val modes = 0 until 512
    val (inProcess, forks) = chmodStarts(modes.map { m =>
      ours.setPermission(new Path(f1.toUri), perm(m))
      ours.setPermission(new Path(d1.toUri), perm(m))
      (rwx(f1), rwx(d1))
    })
    assert(forks.isEmpty, s"${forks.size} chmod starts")
    val (forked, stockForks) = chmodStarts(modes.map { m =>
      stock.setPermission(new Path(f2.toUri), perm(m))
      stock.setPermission(new Path(d2.toUri), perm(m))
      (rwx(f2), rwx(d2))
    })
    if (!NativeIO.isAvailable) assert(stockForks.size === 2 * modes.size, "the recorder missed Hadoop's chmod")
    assert(inProcess === forked)
    assert(inProcess(oct("754")) === ("rwxr-xr--", "rwxr-xr--"))
  }

  test("a sticky mode still applies, through Hadoop's chmod") {
    val d = tmp("graft_sticky")
    ours.setPermission(new Path(d.toUri), perm(oct("1777")))
    assert(fullMode(d) === oct("1777"))
    ours.setPermission(new Path(d.toUri), perm(oct("755")))
    assert(fullMode(d) === oct("755"))
  }

  test("a directory's inherited setgid bit survives mkdirs, as under chmod") {
    val parent = tmp("graft_setgid")
    assert(new ProcessBuilder("chmod", "2775", parent.toString).start().waitFor() === 0)
    val session = new Path(parent.toUri).getFileSystem(spark.sessionState.newHadoopConf())
    assert(session.mkdirs(new Path(parent.resolve("ours").toUri)))
    assert(before().mkdirs(new Path(parent.resolve("stock").toUri)))
    assert(fullMode(parent.resolve("ours")) === fullMode(parent.resolve("stock")))
    assert((fullMode(parent.resolve("ours")) & oct("2000")) !== 0)
  }

  test("a missing path raises FileNotFoundException") {
    val missing = new Path(tmp("graft_missing").resolve("nope").toUri)
    intercept[FileNotFoundException](ours.setPermission(missing, perm(oct("644"))))
    intercept[IOException](stock.setPermission(missing, perm(oct("644"))))
  }

  test("file: resolves to the in-process class through both session Hadoop confs") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(fileUri, conf).isInstanceOf[InProcessLocalFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[InProcessLocalFileSystem.Raw])
    }
  }

  test("a file and a directory created through the session file system get the modes they got before") {
    val dir = tmp("graft_create")
    val conf = spark.sessionState.newHadoopConf()
    val session = new Path(dir.toUri).getFileSystem(conf)
    for ((fs, name) <- Seq(session -> "ours", before() -> "stock")) {
      fs.create(new Path(dir.resolve(s"$name.bin").toUri)).close()
      assert(fs.mkdirs(new Path(dir.resolve(s"$name.d/sub").toUri)))
    }
    for (p <- Seq("%s.bin", ".%s.bin.crc", "%s.d", "%s.d/sub"))
      assert(rwx(dir.resolve(p.format("ours"))) === rwx(dir.resolve(p.format("stock"))), p)
    // Hadoop's default umask is 022
    assert(rwx(dir.resolve("ours.bin")) === "rw-r--r--")
    assert(rwx(dir.resolve("ours.d/sub")) === "rwxr-xr-x")
  }

  test("a rename onto an existing file is refused and onto a new name moves the .crc, as before") {
    val dir = tmp("graft_rename")
    val conf = spark.sessionState.newHadoopConf()
    val session = new Path(dir.toUri).getFileSystem(conf)
    for ((fs, name) <- Seq(session -> "ours", before() -> "stock")) {
      val (a, b, c) = (new Path(dir.resolve(s"$name-a").toUri), new Path(dir.resolve(s"$name-b").toUri),
        new Path(dir.resolve(s"$name-c").toUri))
      Seq(a, b).foreach(fs.create(_).close())
      assert(!fs.rename(a, b), name)
      assert(fs.rename(a, c), name)
      assert(Files.exists(dir.resolve(s".$name-c.crc")) && !Files.exists(dir.resolve(s".$name-a.crc")), name)
    }
  }

  test("a warehouse append and a two-batch checkpointed file stream start no chmod") {
    val (_, control) = chmodStarts(stock.setPermission(new Path(tmp("graft_ctl").toUri), perm(oct("755"))))
    if (!NativeIO.isAvailable) assert(control.size === 1, "the recorder missed Hadoop's chmod")

    import spark.implicits._
    val wh = tmp("graft_wh").resolve("prices").toString
    val (_, appendForks) = chmodStarts {
      Warehouse.append(Seq(1, 2, 3).toDF("k"), wh)
      Warehouse.append(Seq(4, 5).toDF("k"), wh)
    }
    assert(appendForks.isEmpty, s"${appendForks.size} chmod starts")
    assert(spark.read.parquet(wh).count() === 5)

    val land = tmp("graft_land")
    Files.write(land.resolve("a.json"), "{\"k\":1}\n{\"k\":2}\n".getBytes)
    Files.write(land.resolve("b.json"), "{\"k\":2}\n{\"k\":3}\n".getBytes)
    val (out, ckpt) = (tmp("graft_out").resolve("t").toString, tmp("graft_ckpt").toString)
    val (_, streamForks) = chmodStarts {
      val q = spark.readStream.schema("k INT").option("maxFilesPerTrigger", 1).json(land.toString)
        .dropDuplicates("k")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) => Warehouse.append(df, out))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(streamForks.isEmpty, s"${streamForks.size} chmod starts")
    assert(Files.exists(Paths.get(ckpt, "commits", "1")))
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
  }
}
