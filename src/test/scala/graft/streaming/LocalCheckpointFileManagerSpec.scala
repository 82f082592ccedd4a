package graft.streaming

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** A local file system under another scheme, to reach the non-`file` branch. */
class FakeSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("fake:///")
  override def getScheme: String = "fake"
}

/** [[LocalCheckpointFileManager]] keeps the contract of Spark's checkpoint
  * managers: atomic publish with a `.crc` sidecar, cancel leaves nothing,
  * no silent overwrite, checksums verified on read, the default manager's
  * permissions, non-`file` schemes untouched, and state that survives a
  * restart. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  /** Spark's conf without the engine's manager: what Spark alone creates. */
  private def sparkOnlyConf: Configuration = {
    val c = hadoopConf
    c.unset(LocalCheckpointFileManager.ConfKey)
    c
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def withDir[A](body: NioPath => A): A = {
    val dir = Files.createTempDirectory("ckpt-fm")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session's checkpoint manager is the engine's, in-JVM for local paths") {
    withDir { dir =>
      val fm = CheckpointFileManager.create(new Path(dir.toString), hadoopConf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying
        .isInstanceOf[LocalCheckpointFileManager.InJvm])
      assert(fm.isLocal)
    }
  }

  test("createAtomic + close leaves only the final file and its .crc") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
      write(fm, new Path(dir.toUri.toString, "0"), "v1\n{}")
      assert(names(dir) == Set("0", ".0.crc"))
      assert(read(fm, new Path(dir.toUri.toString, "0")) == "v1\n{}")
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("0"))
    }
  }

  test("cancel() leaves nothing behind") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
      val out = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("overwriteIfPossible = false onto an existing file throws FileAlreadyExistsException") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
      val p = new Path(dir.toUri.toString, "2")
      write(fm, p, "first")
      intercept[FileAlreadyExistsException](write(fm, p, "second"))
      assert(read(fm, p) == "first")
      // Spark's close() leaves the rejected temp file, as with its default manager
      assert(names(dir).filterNot(_.endsWith(".tmp.crc")).filterNot(_.endsWith(".tmp")) ==
        Set("2", ".2.crc"))
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("a flipped byte fails the read with ChecksumException") {
    withDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
      val p = new Path(dir.toUri.toString, "3.delta")
      write(fm, p, "x" * 2000)
      val raf = new RandomAccessFile(dir.resolve("3.delta").toFile, "rw")
      try { raf.seek(1000); raf.write('y'.toInt) } finally raf.close()
      intercept[ChecksumException](read(fm, p))
      assert(names(dir) == Set("3.delta", ".3.delta.crc")) // left in place
    }
  }

  test("files and dirs get the permissions Spark's default manager gives them") {
    withDir { dir =>
      def layout(root: NioPath, fm: CheckpointFileManager): Seq[(String, String)] = {
        fm.mkdirs(new Path(root.toUri.toString, "state/0/1"))
        write(fm, new Path(root.toUri.toString, "state/0/1/1.delta"), "delta")
        write(fm, new Path(root.toUri.toString, "offsets"), "offsets")
        Files.walk(root).iterator().asScala.toSeq.map(f =>
          root.relativize(f).toString ->
            java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
          .sortBy(_._1)
      }
      val ours = Files.createDirectory(dir.resolve("ours"))
      val theirs = Files.createDirectory(dir.resolve("theirs"))
      val default = CheckpointFileManager.create(new Path(theirs.toUri), sparkOnlyConf)
      assert(!default.isInstanceOf[LocalCheckpointFileManager])
      val got = layout(ours, new LocalCheckpointFileManager(new Path(ours.toUri), hadoopConf))
      assert(got.map(_._1).contains("state/0/1/.1.delta.crc"))
      assert(got == layout(theirs, default))
    }
  }

  test("a non-file path gets Spark's default manager") {
    val conf = hadoopConf
    conf.set("fs.fake.impl", classOf[FakeSchemeFileSystem].getName)
    val p = new Path("fake:///ckpt")
    val fm = new LocalCheckpointFileManager(p, conf)
    val sparkOwn = {
      val c = new Configuration(conf)
      c.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(p, c)
    }
    assert(fm.underlying.getClass == sparkOwn.getClass)
    assert(fm.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
    // and for a local path the engine replaces Spark's choice
    val local = new Path("file:///tmp/ckpt")
    assert(new LocalCheckpointFileManager(local, conf).underlying.getClass !=
      CheckpointFileManager.create(local, sparkOnlyConf).getClass)
  }

  test("dropDuplicates state survives a restart on the same checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withDir { dir =>
      val ckpt = dir.resolve("ckpt").toString
      val ms = MemoryStream[(Long, String)]
      // the memory sink cannot recover from a checkpoint; foreachBatch can
      def run(): Seq[Long] = {
        val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]
        val sink: (DataFrame, Long) => Unit =
          (df, _) => df.select("k").as[Long].collect().foreach(out.add)
        val q = ms.toDF().toDF("k", "v").dropDuplicates("k")
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
        out.asScala.toSeq.sorted
      }
      ms.addData((1L, "a"), (2L, "b"), (3L, "c"), (1L, "d"))
      assert(run() == Seq(1L, 2L, 3L))
      ms.addData((2L, "e"), (3L, "f"), (4L, "g"), (5L, "h"), (4L, "i"))
      // the restart runs batch 2 only; keys 2 and 3 stay dropped
      assert(run() == Seq(4L, 5L))
      val state = Files.walk(dir.resolve("ckpt/state")).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert(state.contains("2.delta") && state.contains(".2.delta.crc"), state)
    }
  }
}
