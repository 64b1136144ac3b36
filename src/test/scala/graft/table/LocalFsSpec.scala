package graft.table

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSessionHelper._
import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem: the modes it sets are the stock ones,
  * the engine's local writes, listings and maintenance start no `chmod` or
  * `ls` child process, and a configured `file` class still wins. */
class LocalFsSpec extends AnyFunSuite {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmpDir(): String = Files.createTempDirectory("graft-localfs-").toString

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def crc(p: String): String = {
    val f = new File(p)
    new File(f.getParent, s".${f.getName}.crc").getPath
  }

  test("the resolver gives LocalFs for local paths and Hadoop's class otherwise") {
    val d = tmpDir()
    assert(FileIO.fileSystem(new Path(d), conf).isInstanceOf[LocalFs])
    assert(FileIO.fileSystem(new Path("file://" + d), conf).isInstanceOf[LocalFs])
    val c = new Configuration(conf)
    c.set("fs.memofs.impl", classOf[MemoFs].getName)
    assert(FileIO.fileSystem(new Path("memofs://" + d), c).isInstanceOf[MemoFs])
    c.set("fs.file.impl", classOf[CreateCountingFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    assert(FileIO.fileSystem(new Path(d), c).isInstanceOf[CreateCountingFs])
  }

  Seq("022", "077").foreach { umask =>
    test(s"files, directories and their .crc files get the stock modes under umask $umask") {
      val c = new Configuration(conf)
      c.set("fs.permissions.umask-mode", umask)
      val stock = FileSystem.newInstanceLocal(c)
      try {
        val d = tmpDir()
        def make(fs: FileSystem, side: String): Unit = {
          fs.create(new Path(s"$d/$side/sub/f"), true).close()
          fs.mkdirs(new Path(s"$d/$side/dir"))
        }
        make(FileIO.fileSystem(new Path(d), c), "ours")
        make(stock, "stock")
        Seq("sub", "sub/f", crc("sub/f"), "dir").foreach { rel =>
          assert(mode(s"$d/ours/$rel") === mode(s"$d/stock/$rel"), rel)
        }
        val expected = if (umask == "022") (0x1a4, 0x1ed) else (0x180, 0x1c0)
        assert((mode(s"$d/ours/sub/f"), mode(s"$d/ours/dir")) === expected)
      } finally stock.close()
    }
  }

  test("a sticky-bit directory mode takes the stock call and keeps the sticky bit") {
    val d = tmpDir()
    // a umask drops the sticky bit at mkdirs; only setPermission passes it
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    def make(fs: FileSystem, side: String): Unit = {
      val p = new Path(s"$d/$side")
      assert(fs.mkdirs(p))
      fs.setPermission(p, sticky)
    }
    make(FileIO.fileSystem(new Path(d), conf), "ours")
    val stock = FileSystem.newInstanceLocal(conf)
    try make(stock, "stock") finally stock.close()
    assert(mode(s"$d/ours") === Integer.parseInt("1755", 8))
    assert(mode(s"$d/ours") === mode(s"$d/stock"))
  }

  test("directories under a setgid parent keep setgid, as with the stock call") {
    val d = tmpDir()
    assert(new ProcessBuilder("chmod", "g+s", d).start().waitFor() === 0)
    def make(fs: FileSystem, side: String): Unit = {
      assert(fs.mkdirs(new Path(s"$d/$side/sub")))
      fs.create(new Path(s"$d/$side/sub/f"), true).close()
    }
    make(FileIO.fileSystem(new Path(d), conf), "ours")
    val stock = FileSystem.newInstanceLocal(conf)
    try make(stock, "stock") finally stock.close()
    Seq("", "/sub", "/sub/f", crc("/sub/f")).foreach { rel =>
      assert(mode(s"$d/ours$rel") === mode(s"$d/stock$rel"), rel)
    }
    assert((mode(s"$d/ours/sub") & 0x400) !== 0)
  }

  test("a local listing keeps the paths, lengths and modification times of listFiles") {
    val d = tmpDir()
    val io = new FileIO(conf)
    Seq("a", "p=1/b", "p=1/q=x/c", "p=2/d").foreach(f => io.writeString(s"$d/$f", f * 7))
    val stock = FileSystem.newInstanceLocal(conf)
    val expected = try {
      val it = stock.listFiles(new Path(d), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSet
    } finally stock.close()
    assert(expected.size === 4)
    assert(io.listRecursive(d)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSet === expected)
    assert(io.listRecursive(s"$d/missing") === Nil)
  }

  test("a manifest's recorded length is its length on disk, plain and sealed") {
    val keyed = new AesGcmEncryptionManager(
      "lfslfslfslfslfslfslfslfslfslfsls".getBytes("UTF-8"), "lfs")
    Seq(PlaintextEncryptionManager, keyed).foreach { enc =>
      val t = IceTable.createWith(spark,
        new TableOperations(tmpDir() + "/t", new FileIO(conf, enc)),
        Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))
      t.append((0L until 20L).map(k => (k, s"v$k")).toDF("k", "v"))
      val manifests = t.readManifestList(t.meta, t.currentSnapshot.get)
      assert(manifests.nonEmpty && manifests.forall(_.path.endsWith(".parquet")))
      manifests.foreach { mf =>
        assert(mf.length === new File(new Path(mf.path).toUri.getPath).length(), mf.path)
      }
    }
  }

  test("row-level changes and maintenance on a local table start no chmod or ls process") {
    val schema = Schema.fresh(Seq((0L, "a", 0)).toDF("k", "v", "p").schema)
    def batch(from: Long, n: Int) =
      (from until from + n).map(k => (k, s"v$k", (k % 3).toInt)).toDF("k", "v", "p")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      val t = IceTable.create(spark, tmpDir() + "/t", schema,
        PartitionSpec.builderFor(schema).identity("p").build())
      t.append(batch(0L, 60))
      t.deleteMergeOnRead(lessThan("k", 5L))
      t.addEqualityDeletes(Seq(7L, 8L).toDF("k"), Seq("k"))
      t.merge(batch(50L, 20), Seq("k")).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      t.update(greaterThanOrEqual("k", 60L), Map("v" -> lit("u")))
      Maintenance.convertPositionDeletes(t)
      t.removeOrphanFiles(System.currentTimeMillis())
      assert(t.newScan().toDF.count() === 63L)
      rec.stop()
      val out = Files.createTempFile("graft-localfs-", ".jfr")
      try {
        rec.dump(out)
        jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(out)
    } finally rec.close()
    // Spark's own cleanup may start other commands; only the filesystem's
    // permission calls are counted
    val forks = commands.filter(c => c.startsWith("chmod ") || c.startsWith("ls "))
    assert(forks === Nil)
  }

  test("a configured file class sees the engine's metadata and data-file creates") {
    conf.set("fs.file.impl", classOf[CreateCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      CreateCountingFs.created.clear()
      val t = IceTable.create(spark, tmpDir() + "/t",
        Schema.fresh(Seq((0L, "a")).toDF("k", "v").schema))
      t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      val created = CreateCountingFs.created.asScala.toSeq
      assert(created.exists(_.contains(".metadata.json")))
      assert(created.exists(p => p.contains("/metadata/manifest-") && p.endsWith(".parquet")))
      assert(created.exists(p => p.contains("/data/") && p.endsWith(".parquet")))
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}

/** A stock local filesystem, configured as the `file` class, that records
  * every path it creates. */
class CreateCountingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CreateCountingFs.created.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CreateCountingFs {
  val created = new ConcurrentLinkedQueue[String]()
}
