package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.streaming.{LocalCheckpointFileManager, Pipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio checkpoint writer keeps the checkpoint protocol of the
  * FileContext one it replaces: atomic publish, the concurrent-writer
  * guard, cancel, the parent's path off the local file system, and a
  * checkpoint the default manager wrote stays resumable. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx = spark.sqlContext

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val Default = classOf[FileContextBasedCheckpointFileManager].getName

  /** Pipeline.start sets the key on the session, which every suite
    * shares: run `body` with it set to `value` (or unset), and put back
    * what was there after. */
  private def withManager[T](value: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(Key)
    value.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body
    finally saved.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  private def put(fm: CheckpointFileManager, p: HPath, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: HPath): String =
    Using.resource(fm.open(p))(in => new String(in.readAllBytes(), UTF_8))

  private def entries(dir: Path): Set[String] =
    Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toSet)

  private def fresh(): (Path, HPath) = {
    val dir = Files.createTempDirectory("graft_ckfm")
    (dir, new HPath(dir.toUri))
  }

  private def local(root: HPath) = new LocalCheckpointFileManager(root, new Configuration())

  test("a no-overwrite write onto an existing file throws Hadoop's FileAlreadyExistsException and keeps the old content") {
    val (dir, root) = fresh()
    val fm = local(root)
    assert(fm.isLocal)
    val p = new HPath(root, "0")
    put(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException] { put(fm, p, "new", overwrite = false) }
    assert(read(fm, p) == "old")
    // no temp file left behind, and no .crc sidecar written
    assert(entries(dir) == Set("0"))
  }

  test("an overwrite replaces the file, also one the default manager wrote with its .crc") {
    val (dir, root) = fresh()
    val p = new HPath(root, "0")
    put(new FileContextBasedCheckpointFileManager(root, new Configuration()), p, "old",
      overwrite = false)
    assert(entries(dir) == Set("0", ".0.crc"))
    val fm = local(root)
    put(fm, p, "newer", overwrite = true)
    assert(read(fm, p) == "newer") // a stale sidecar would fail the checksum
    assert(entries(dir) == Set("0"))
  }

  test("cancel() leaves no temp file") {
    val (dir, root) = fresh()
    val out = local(root).createAtomic(new HPath(root, "0"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(entries(dir).isEmpty)
  }

  test("a non-local path gets the parent's FileContext behaviour") {
    // viewfs mounted onto a local directory: not a local file system to
    // isLocal, so writes take the parent's path, which leaves the local
    // file system's .crc sidecar beside the file
    val (dir, _) = fresh()
    val conf = new Configuration()
    conf.set("fs.viewfs.mounttable.graftck.link./ck", dir.toUri.toString)
    val root = new HPath("viewfs://graftck/ck")
    val fm = new LocalCheckpointFileManager(root, conf)
    assert(!fm.isLocal)
    val p = new HPath(root, "0")
    put(fm, p, "via viewfs", overwrite = false)
    intercept[FileAlreadyExistsException] { put(fm, p, "again", overwrite = false) }
    assert(read(fm, p) == "via viewfs")
    assert(entries(dir).filterNot(_.contains(".tmp")) == Set("0", ".0.crc"))
  }

  test("Pipeline.start installs the manager and keeps a value the caller set") {
    val sink = new Pipeline.RowSink {
      def write(batch: DataFrame, batchId: Long): Unit = batch.count()
    }
    def run(): Path = {
      val in = MemoryStream[Int]
      in.addData(1, 2, 3)
      val ckpt = Files.createTempDirectory("graft_ckfm_start")
      Pipeline.start(in.toDF(), sink, ckpt.toString).awaitTermination()
      ckpt.resolve("offsets")
    }
    withManager(None) {
      val offsets = run()
      assert(spark.conf.get(Key) == classOf[LocalCheckpointFileManager].getName)
      assert(entries(offsets) == Set("0"), "the query did not write through the installed class")
    }
    withManager(Some(Default)) {
      val offsets = run()
      assert(spark.conf.get(Key) == Default)
      assert(entries(offsets) == Set("0", ".0.crc"))
    }
  }

  test("a checkpoint the default manager wrote resumes under this one, every row exactly once") {
    val src = Files.createTempDirectory("graft_ckfm_src")
    val ckpt = Files.createTempDirectory("graft_ckfm_ckpt")
    def add(ks: Range): Unit =
      ks.foreach(k => Files.writeString(src.resolve(s"r-$k.json"), s"""{"k":$k}"""))
    val seen = new ConcurrentLinkedQueue[Int]()
    val sink = new Pipeline.RowSink {
      def write(batch: DataFrame, batchId: Long): Unit =
        batch.as[Int].collect().foreach(seen.add)
    }
    def run(): Unit = Pipeline.start(spark.readStream.schema("k INT").json(src.toString),
      sink, ckpt.toString).awaitTermination()

    add(1 to 3)
    withManager(Some(Default))(run())
    assert(entries(ckpt.resolve("offsets")) == Set("0", ".0.crc"))
    assert(entries(ckpt.resolve("commits")) == Set("0", ".0.crc"))
    withManager(None) {
      add(4 to 6)
      run()
      add(7 to 9)
      run()
    }
    assert(entries(ckpt.resolve("offsets")) == Set("0", ".0.crc", "1", "2"))
    assert(seen.asScala.toSeq.sorted == (1 to 9))
  }
}
