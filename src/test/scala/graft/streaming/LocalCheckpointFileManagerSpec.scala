package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** [[LocalCheckpointFileManager]] keeps Spark's checkpoint contract
  * (atomic publish, no-overwrite, cancel, list/exists/delete) and
  * runs a streaming lane without forking a process. */
class LocalCheckpointFileManagerSpec extends SparkSuite {

  private val conf = new Configuration()

  private def tempDir(prefix: String): JPath =
    Files.createTempDirectory(Paths.get("target"), prefix).toAbsolutePath

  private def manager(dir: JPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val entries = Files.list(dir)
    try entries.iterator().asScala.map(_.getFileName.toString).toSet finally entries.close()
  }

  test("a file becomes visible only on close, and its bytes are the written ones") {
    val dir = tempDir("ckpt")
    val fm = manager(dir)
    assert(fm.isLocal)
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("batch 0".getBytes(UTF_8))
    assert(!fm.exists(p))
    out.close()
    assert(fm.exists(p))
    assert(read(fm, p) == "batch 0")
    assert(names(dir) == Set("0"))
  }

  test("without overwrite an existing target raises FileAlreadyExistsException and keeps its bytes") {
    val dir = tempDir("ckpt")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "1.delta")
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("1.delta"))
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    assert(names(dir) == Set("1.delta"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir("ckpt")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "2")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("never published".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("mkdirs, list, exists and delete behave as Spark's manager does") {
    val ours = tempDir("ckpt")
    val theirs = tempDir("ckpt")
    val onlyNumbers: PathFilter = p => p.getName.forall(_.isDigit)
    def exercise(dir: JPath, fm: CheckpointFileManager): Seq[Any] = {
      val root = new Path(dir.toUri.toString)
      val sub = new Path(root, "state/0/1")
      fm.mkdirs(sub)
      fm.mkdirs(sub)
      Seq("1", "2", "10", "2.delta").foreach(n => write(fm, new Path(sub, n), n, overwrite = false))
      val listed = fm.list(sub, onlyNumbers).map(_.getPath.getName).sorted.toSeq
      val all = fm.list(sub).map(_.getPath.getName).sorted.toSeq
      val before = Seq(fm.exists(new Path(sub, "2")), fm.exists(new Path(sub, "3")))
      fm.delete(new Path(sub, "2"))
      fm.delete(new Path(sub, "3"))
      val after = fm.list(sub).map(_.getPath.getName).sorted.toSeq
      fm.delete(new Path(root, "state"))
      Seq(listed, all, before, after, fm.exists(sub), fm.exists(root),
        Paths.get(fm.createCheckpointDirectory().toUri) == dir)
    }
    assert(exercise(ours, manager(ours)) ==
      exercise(theirs, new FileContextBasedCheckpointFileManager(new Path(theirs.toUri), conf)))
  }

  test("paths of another file system go to Spark's own manager") {
    val dir = tempDir("ckpt")
    val viewConf = new Configuration(conf)
    viewConf.set("fs.viewfs.mounttable.graftck.link./ck", dir.toUri.toString)
    val root = new Path("viewfs://graftck/ck")
    val fm = new LocalCheckpointFileManager(root, viewConf)
    assert(!fm.isLocal)
    val p = new Path(root, "0")
    write(fm, p, "via viewfs", overwrite = false)
    assert(read(fm, p) == "via viewfs")
    // Spark's FileContext manager writes through Hadoop's checksummed
    // local file system, which leaves a `.crc` sibling.
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("a streaming aggregate stopped and restarted on its checkpoint resumes with identical output") {
    import spark.implicits._
    val landing = tempDir("landing")
    val checkpoint = tempDir("ckpt")
    def land(name: String, keys: Seq[Int]): Unit =
      Files.writeString(landing.resolve(name), keys.map(k => s"""{"k":$k}""").mkString("\n"))
    def run(name: String, ck: JPath): Set[(Long, Long)] = {
      val counts = spark.readStream.schema("k LONG").json(landing.toString)
        .groupBy(col("k")).count()
      val q = counts.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ck.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).as[(Long, Long)].collect().toSet
    }
    land("a.json", Seq(1, 2, 2, 3))
    assert(run("ckpt_first", checkpoint) == Set((1L, 1L), (2L, 2L), (3L, 1L)))
    land("b.json", Seq(2, 3, 4))
    val resumed = run("ckpt_resumed", checkpoint)
    assert(resumed == run("ckpt_uninterrupted", tempDir("ckpt")))
    assert(resumed == Set((1L, 1L), (2L, 3L), (3L, 2L), (4L, 1L)))
    // The state store and the logs went through this manager: Hadoop's
    // checksummed file system would have left `.<name>.crc` files.
    val walk = Files.walk(checkpoint)
    val files = try walk.iterator().asScala.map(_.getFileName.toString).toList finally walk.close()
    assert(files.exists(_.endsWith(".delta")))
    assert(!files.exists(n => n.startsWith(".") && n.endsWith(".crc")))
  }

  test("a q187-shaped lane runs without forking chmod or readlink") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val rows = try {
      // A positive control: the recording does see a spawned process.
      new ProcessBuilder("true").start().waitFor()
      StreamLane.drain(spark,
        EventStreams.hourlyCounts(StreamLane.events(spark, sfDir)
          .withColumn("value", col("value").cast("decimal(28,2)"))),
        "complete", "fork_probe", noDataBatch = false).count()
    } finally rec.stop()
    val dump = tempDir("jfr").resolve("process-start.jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    assert(rows > 0)
    assert(commands.exists(_.startsWith("true")))
    assert(!commands.exists(c => c.startsWith("chmod") || c.startsWith("readlink")), commands)
  }
}
