package graft

import java.io.{ByteArrayOutputStream, DataOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem,
  FsServerDefaults, Options, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BoundedStream, LocalFileSystem, LocalFs, TempDirs}

/** The certified local file system (core.LocalFs) forks no process for
  * the sink and checkpoint writes a micro-batch makes, and answers like
  * Hadoop's stock local file system.
  */
class LocalFsSpec extends AnyFunSuite with SparkTest {

  private val local = URI.create("file:///")

  /** Threads whose forks are not the recorded operation's, whenever they
    * land: Spark's first heartbeat probes `getconf PAGESIZE` once per
    * JVM, and a `Cleaner-*` thread runs `rm -rf` on the artifact
    * directory of a session clone the GC collected.
    */
  private def background(thread: String): Boolean =
    thread == "driver-heartbeater" || thread.startsWith("Cleaner-")

  /** Commands of the processes the JVM starts while `body` runs, each
    * with its thread.
    */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .map(e => (e.getThread.getJavaName, e.getString("command")))
        .collect { case (t, cmd) if !background(t) => s"$cmd [$t]" }
    } finally { rec.close(); Files.delete(f) }
  }

  private def hadoopConf(kvs: (String, String)*): Configuration = {
    val c = new Configuration()
    kvs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** An uncached `file:` FileSystem of class `impl`. */
  private def fileSystem(impl: Class[_], umask: String = "022"): FileSystem =
    FileSystem.newInstance(local, hadoopConf("fs.file.impl" -> impl.getName,
      "fs.permissions.umask-mode" -> umask))

  private def stockFs(umask: String = "022") =
    fileSystem(classOf[org.apache.hadoop.fs.LocalFileSystem], umask)
  private def graftFs(umask: String = "022") = fileSystem(classOf[LocalFileSystem], umask)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(digits: String): Int = Integer.parseInt(digits, 8)

  test("the session's FileSystem and FileContext for file: are the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, conf).getClass == classOf[LocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[LocalFs])
  }

  test("a partitioned parquet write, a dt-sink stream and a FileContext rename fork nothing") {
    val out = TempDirs.create("graft_fork_guard") + "/t"
    val rows = spark.range(30).select(col("id"), (col("id") % 3).cast("string").as("dt"))
    val write = forks(rows.write.partitionBy("dt").parquet(out))
    assert(write.isEmpty, write)

    val topic = TempDirs.create("graft_fork_topic")
    Files.write(Paths.get(topic, "0.txt"), "20240101\n20240102\n".getBytes(UTF_8))
    Files.write(Paths.get(topic, "1.txt"), "20240102\n20240103\n".getBytes(UTF_8))
    val lines = spark.readStream.text(topic).select(col("value"), col("value").as("dt"))
    var counts = Map.empty[String, Long]
    val stream = forks {
      counts = BoundedStream.dtCounts(lines).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(stream.isEmpty, stream)
    assert(counts == Map("20240101" -> 1L, "20240102" -> 2L, "20240103" -> 1L))

    val dir = TempDirs.create("graft_fork_rename")
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    val (src, dst) = (new Path(s"file:$dir/.0.tmp"), new Path(s"file:$dir/0"))
    val rename = forks {
      val o = fc.create(src, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      o.write(Array[Byte](1, 2, 3)); o.close()
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    assert(rename.isEmpty, rename)
    assert(Files.size(Paths.get(dir, "0")) == 3 && Files.exists(Paths.get(dir, ".0.crc")))
  }

  test("control: the same file create through Hadoop's stock LocalFileSystem forks chmod") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "libhadoop is loaded: stock makes no fork")
    val dir = TempDirs.create("graft_fork_control")
    def create(fs: FileSystem, name: String): Seq[String] =
      try forks(fs.create(new Path(s"file:$dir/$name")).close()) finally fs.close()
    assert(create(graftFs(), "graft").isEmpty)
    val stock = create(stockFs(), "stock")
    assert(stock.exists(_.startsWith("chmod ")), stock)
  }

  test("created files, .crc files and mkdirs dirs get stock's modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      def modes(fs: FileSystem): Seq[Int] = try {
        val root = TempDirs.create("graft_fs_modes")
        // A setgid parent: mkdir inherits the bit and chmod(1) keeps it.
        val g = Files.createDirectory(Paths.get(root, "g"))
        Files.setAttribute(g, "unix:mode", Integer.valueOf(octal("2755")))
        val o = fs.create(new Path(s"$root/a/b/data"))
        o.write(1); o.close()
        assert(fs.mkdirs(new Path(s"$root/m/n")) && fs.mkdirs(new Path(s"$g/s/t")))
        Seq("a", "a/b", "a/b/data", "a/b/.data.crc", "m", "m/n", "g/s", "g/s/t")
          .map(rel => mode(Paths.get(root, rel)))
      } finally fs.close()
      val stock = modes(stockFs(umask))
      assert(modes(graftFs(umask)) == stock, umask)
      assert(stock(2) == (if (umask == "022") octal("644") else octal("600")), stock)
      assert((stock.last & octal("2000")) != 0, stock)
    }
  }

  test("setPermission with the sticky bit still sets it (Hadoop's path)") {
    val fs = graftFs()
    try {
      val d = new Path(TempDirs.create("graft_fs_sticky") + "/d")
      assert(fs.mkdirs(d))
      fs.setPermission(d, new FsPermission(octal("1777").toShort))
      assert(mode(Paths.get(d.toString)) == octal("1777"))
    } finally fs.close()
  }

  test("the FileContext file system answers like Hadoop's RawLocalFs") {
    def bytes(d: FsServerDefaults): Seq[Byte] = {
      val b = new ByteArrayOutputStream()
      d.write(new DataOutputStream(b))
      b.toByteArray.toSeq
    }
    @annotation.nowarn("cat=deprecation")
    def plainDefaults(fs: AbstractFileSystem) = fs.getServerDefaults()
    val expect = bytes(LocalConfigKeys.getServerDefaults())
    for (impl <- Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[LocalFs])) {
      val fs = AbstractFileSystem.createFileSystem(local,
        hadoopConf("fs.AbstractFileSystem.file.impl" -> impl.getName))
      assert(fs.getClass == impl)
      assert(fs.getUriDefaultPort == -1)
      assert(bytes(plainDefaults(fs)) == expect)
      assert(bytes(fs.getServerDefaults(new Path("/"))) == expect)
      assert(fs.isValidName("/a/b:c/../d"))
    }
  }

  test("getFileLinkStatus matches stock on a file and a symlink, qualified or not") {
    val dir = TempDirs.create("graft_fs_links")
    Files.write(Paths.get(dir, "data"), "hello".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get("data"))
    def view(s: FileStatus) =
      (s.isSymlink, s.getPath, s.getLen, if (s.isSymlink) Some(s.getSymlink) else None)
    val (stock, ours) = (stockFs(), graftFs())
    try {
      for (name <- Seq("data", "link"); p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name")))
        assert(view(ours.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
      assert(ours.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
      val missing = new Path(s"$dir/missing")
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    } finally { stock.close(); ours.close() }
  }
}
