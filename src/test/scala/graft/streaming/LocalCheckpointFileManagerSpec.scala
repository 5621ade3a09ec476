package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase

/** [[LocalCheckpointFileManager]]: the atomic-write contract Structured
  * Streaming's metadata logs rely on, its installation as the default
  * manager of every session, and checkpoint compatibility with Spark's
  * own manager in both directions. */
class LocalCheckpointFileManagerSpec extends SparkSpecBase {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  /** An offset-style log with its protected write path opened up. */
  private class LogProbe(path: String) extends HDFSMetadataLog[String](spark, path) {
    def manager: CheckpointFileManager = fileManager
    def batchFiles: Seq[String] =
      fileManager.list(metadataPath, batchFilesFilter).map(_.getPath.getName).toSeq
    /** Batch `id`'s write, left open (not yet published). */
    def beginWrite(id: Long, v: String): CheckpointFileManager.CancellableFSDataOutputStream = {
      // serialize's JSON writer closes the stream it is given, which
      // would publish the file: stage the bytes in memory instead
      val bytes = new java.io.ByteArrayOutputStream()
      serialize(v, bytes)
      val out = fileManager.createAtomic(batchIdToPath(id), overwriteIfPossible = false)
      out.write(bytes.toByteArray)
      out
    }
  }

  private def read(f: NioPath): String = new String(Files.readAllBytes(f), UTF_8)

  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet

  test("no-clobber publish refuses an existing target and keeps its content; overwrite replaces") {
    val dir = graft.Scratch.dir("lcfm-publish")
    val fm = manager(dir)
    val p = new Path(dir.toUri.resolve("0"))
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"), "a refused publish leaves no temp file")
    write(fm, p, "third", overwrite = true)
    assert(read(dir.resolve("0")) == "third")
    assert(names(dir) == Set("0"))
    assert(fm.isLocal && fm.exists(p))
  }

  test("cancel, and a write that throws mid-stream, leave neither temp file nor target") {
    val dir = graft.Scratch.dir("lcfm-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.resolve("1")), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel: nothing is published
    assert(names(dir).isEmpty)
    // HDFSMetadataLog's own pattern: cancel on any failure of the writer
    val out2 = fm.createAtomic(new Path(dir.toUri.resolve("2")), overwriteIfPossible = true)
    intercept[IOException] {
      try {
        out2.write("half".getBytes(UTF_8))
        throw new IOException("writer failed")
      } catch { case e: IOException => out2.cancel(); throw e }
    }
    assert(names(dir).isEmpty)
  }

  test("in-flight temp files never match HDFSMetadataLog's batch-file filter") {
    val dir = graft.Scratch.dir("lcfm-log").resolve("offsets")
    val log = new LogProbe(dir.toUri.toString)
    assert(log.manager.isInstanceOf[LocalCheckpointFileManager])
    assert(log.add(0, "zero") && log.get(0).contains("zero"))
    val out = log.beginWrite(1, "one")
    assert(names(dir).exists(_.endsWith(".tmp")), "the temp file is in the target directory")
    assert(log.batchFiles == Seq("0"))
    assert(log.getLatestBatchId().contains(0L))
    out.close()
    assert(log.getLatestBatchId().contains(1L))
    assert(!log.add(1, "other") && log.get(1).contains("one"))
  }

  test("delete removes a stale .crc sidecar; listings hide sidecars") {
    val dir = graft.Scratch.dir("lcfm-crc")
    val fm = manager(dir)
    val p = new Path(dir.toUri.resolve("3"))
    write(fm, p, "three", overwrite = false)
    Files.write(dir.resolve(".3.crc"), Array[Byte](1, 2, 3))
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("3"))
    fm.delete(p)
    assert(names(dir).isEmpty)
    // an overwriting publish also drops the sidecar of the file it replaces
    write(fm, p, "old", overwrite = false)
    Files.write(dir.resolve(".3.crc"), Array[Byte](1, 2, 3))
    write(fm, p, "new", overwrite = true)
    assert(names(dir) == Set("3"))
  }

  test("sessions get graft's manager for file: paths; a session conf still overrides it") {
    val p = new Path(graft.Scratch.dir("lcfm-default").toUri)
    assert(spark.conf.getOption(Key).isEmpty)
    // guards against a shadowing core-site.xml that would bring back the
    // forking default and its ~26 ms per write
    assert(CheckpointFileManager.create(p, spark.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])
    spark.conf.set(Key, classOf[FileContextBasedCheckpointFileManager].getName)
    try {
      assert(CheckpointFileManager.create(p, spark.sessionState.newHadoopConf())
        .isInstanceOf[FileContextBasedCheckpointFileManager])
    } finally spark.conf.unset(Key)
  }

  test("other schemes go to Spark's own manager, without instantiating this class again") {
    val conf = new Configuration()
    assert(conf.get(Key) == classOf[LocalCheckpointFileManager].getName)
    assert(LocalCheckpointFileManager.isLocalPath(new Path("/a/b"), conf))
    assert(!LocalCheckpointFileManager.isLocalPath(new Path("hdfs://nn/a"), conf))
    conf.set("fs.defaultFS", "hdfs://nn/")
    assert(!LocalCheckpointFileManager.isLocalPath(new Path("/a/b"), conf))
    // a scheme FileContext does not support falls back to FileSystem
    val other = new Configuration()
    other.set("fs.graftother.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    other.setBoolean("fs.graftother.impl.disable.cache", true)
    val fm = new LocalCheckpointFileManager(new Path("graftother:/ck"), other)
    assert(fm.impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a checkpoint moves between Spark's manager and graft's, both directions, exactly once") {
    val ep = "mem://lcfm-compat"
    AmqpEndpointRegistry.reset(ep)
    val broker = AmqpEndpointRegistry.broker(ep)
    val ckpt = graft.Scratch.dir("lcfm-compat")
    def send(r: Range): Unit =
      r.foreach(i => broker.send("my_address", AmqpMessage(body = AmqpValueBody(s"m$i"))))
    def run(stage: Int, managerClass: Option[String]): Seq[(String, Long)] = {
      managerClass.foreach(spark.conf.set(Key, _))
      try {
        val q = spark.readStream.format("amqp")
          .option("endpoint", ep).option("address", "my_address").load()
          .select(AmqpConverters.amqpBody.as("b")).groupBy("b").count()
          .writeStream.format("memory").queryName(s"lcfm_compat_$stage")
          .option("checkpointLocation", ckpt.toString).outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        try assert(q.awaitTermination(60000)) finally q.stop()
      } finally spark.conf.unset(Key)
      val lag = AmqpStreamOps.lagReport(spark, ep, ckpt.toString).collect()
      assert(lag.map(_.getAs[Long]("lag")).toSeq == Seq(0L), s"stage $stage lag")
      spark.table(s"lcfm_compat_$stage").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    // complete mode over per-message counts: the state store (written
    // through the same manager) must carry every earlier message exactly
    // once across each switch
    def once(r: Range) = r.map(i => s"m$i" -> 1L).sorted
    def offsets: Set[String] = names(ckpt.resolve("offsets")).filter(_.forall(_.isDigit))
    val sparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)

    send(1 to 10)
    val out1 = run(1, sparkDefault)
    val after1 = offsets
    assert(after1.forall(b => Files.exists(ckpt.resolve(s"offsets/.$b.crc"))))
    send(11 to 15)
    val out2 = run(2, None)
    val new2 = offsets -- after1
    assert(new2.nonEmpty && new2.forall(b => !Files.exists(ckpt.resolve(s"offsets/.$b.crc"))),
      "graft's manager writes no .crc sidecar")
    send(16 to 20)
    val out3 = run(3, sparkDefault)
    assert((offsets -- after1 -- new2).nonEmpty)
    assert(out1.sorted == once(1 to 10))
    assert(out2.sorted == once(1 to 15), "restart under graft's manager")
    assert(out3.sorted == once(1 to 20), "restart back under Spark's manager")
  }
}
