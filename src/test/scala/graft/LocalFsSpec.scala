package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.model.Timeframe
import graft.operators.Ticks
import graft.serving.{LivePipeline, PathConfig, TickerServer}
import graft.sources.{Compact, NioLocalFileSystem}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Local store I/O forks no process: `file:` is [[NioLocalFileSystem]]
  * and streaming checkpoint logs rename through `FileSystem.rename`, both
  * bound by the engine's `core-site.xml`. The tripwire counts
  * `jdk.ProcessStart` events in an in-JVM flight recording; the rest pins
  * that the binding changes no observable result. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Every process this JVM starts while `body` runs, as (command line,
    * the frames that started it). Left out: the `rm -rf` that Spark's
    * artifact cleaner runs when the collector reclaims some other session,
    * at a time no step here decides. */
  private def forks(body: => Unit): Seq[(String, String)] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      val f = Files.createTempFile("graft-forks-", ".jfr")
      try {
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq.map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}")
          (e.getString("command"), frames)
        }.filterNot(_._2.exists(_.startsWith(
            "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")))
          .map { case (cmd, frames) => (cmd, frames.take(12).mkString("\n    at ")) }
      } finally Files.delete(f)
    } finally rec.close()
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def localFs: FileSystem = FileSystem.getLocal(spark.sessionState.newHadoopConf())

  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1fff

  private def walk(root: String): Seq[JPath] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  private def wire(minutes: Int): Seq[String] =
    for (m <- 0 until minutes; s <- Seq(0, 30)) yield {
      val w = ((m * 2 + s / 30) * 7) % 23
      f"""{"symbol":"USD_JPY","timestamp":"2024-01-01T00:$m%02d:$s%02d.000Z",""" +
        f""""bid":"${150.0 + w * 0.1}%.3f","ask":"${150.05 + w * 0.1}%.3f"}"""
    }

  test("local store I/O forks no process: partitioned append, checkpointed stream, " +
      "ledger compaction, live batch") {
    spark.range(1).count() // the session exists before the recording starts
    // the executor heartbeat probes the page size with `getconf` once per
    // JVM, whenever its first beat lands; take that fork out of the window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val root = tmp("graft-localfs-")
    val ticks = Seq(("EUR/JPY", "2024-01-01", 1.0), ("USD/JPY", "2024-01-02", 2.0))
      .toDF("pair", "d", "bid").withColumn("dt", to_date(col("d"))).drop("d")
    val ledger = s"$root/ledger"
    val srv = new TickerServer(Seq(PathConfig("USD_JPY", "/ws/ticker_usd_jpy")),
      heartbeatMillis = 60000L)
    srv.start()
    try {
      // stream input and ledger fragments are laid down before recording
      Seq(1, 2).foreach(i => Seq(i).toDF("v").write.mode("append").parquet(s"$root/in"))
      Seq(1, 2).foreach(i => Seq(i).toDF("v").write.mode("append").parquet(ledger))
      val batch = Ticks.valid(Ticks.fromWireJson(wire(10).toDF("value")))
      val cmds = forks {
        ticks.write.mode("append").partitionBy("pair", "dt").parquet(s"$root/ticks")
        val q = spark.readStream.schema("v INT").option("maxFilesPerTrigger", "1")
          .parquet(s"$root/in")
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(s"$root/out"); () }
          .start()
        q.awaitTermination()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2, "expected two micro-batches")
        assert(Compact.compactLedger(spark, ledger, identity)._1 == 2)
        LivePipeline.processBatch(batch, 0L, LivePipeline.Stores(s"$root/live"), srv,
          Seq("RSI", "SMA", "EMA"), Seq(3), Seq(Timeframe.byCode("1m")))
      }
      if (cmds.nonEmpty) fail(s"${cmds.size} processes forked:\n" +
        cmds.groupBy(_._1.split(' ').head).map { case (prog, es) =>
          s"${es.size} x $prog, first: ${es.head._1}\n    at ${es.head._2}" }.mkString("\n"))
    } finally srv.close()
  }

  test("file: is the engine's filesystem and the configured checkpoint manager loads") {
    assert(localFs.isInstanceOf[NioLocalFileSystem])
    assert(new Path(s"file:${tmp("graft-localfs-")}")
      .getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
    val name = new Configuration().get(CheckpointManagerKey)
    assert(name != null, s"$CheckpointManagerKey is not set by core-site.xml")
    assert(classOf[CheckpointFileManager].isAssignableFrom(Class.forName(name)))
    val dir = new Path(tmp("graft-localfs-ckpt-"))
    assert(CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
      .getClass.getName == name)
  }

  test("every mode 0000-0777 round-trips through setPermission and getFileStatus") {
    val fs = localFs
    val p = new Path(tmp("graft-localfs-mode-"), "f")
    fs.create(p).close()
    val file = Files.createFile(java.nio.file.Paths.get(p.toUri.getPath + ".nio"))
    (0 until 512).foreach { m =>
      val perm = new FsPermission(m.toShort)
      fs.setPermission(p, perm)
      assert(fs.getFileStatus(p).getPermission === perm, f"mode $m%04o")
      // the raw filesystem alone, on a file Hadoop did not create
      fs.asInstanceOf[NioLocalFileSystem].getRaw
        .setPermission(new Path(file.toUri), perm)
      assert(unixMode(file) == m, f"mode $m%04o on disk")
    }
  }

  test("a mode with the sticky bit is applied exactly, through Hadoop's own path") {
    val fs = localFs
    val d = new Path(tmp("graft-localfs-sticky-"), "d")
    assert(fs.mkdirs(d))
    val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val cmds = forks(fs.setPermission(d, perm)).map(_._1)
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(cmds.exists(_.startsWith("chmod 1777 ")), cmds)
    assert(fs.getFileStatus(d).getPermission === perm)
    assert(unixMode(java.nio.file.Paths.get(d.toUri.getPath)) == Integer.parseInt("1777", 8))
  }

  test("files and directories Spark writes keep 0644/0755 under umask 022") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FsPermission.getUMask(conf) === new FsPermission("022"))
    val out = tmp("graft-localfs-perm-") + "/t"
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.partitionBy("k").parquet(out)
    val paths = walk(out)
    assert(paths.count(p => Files.isRegularFile(p) && p.getFileName.toString
      .startsWith("part-")) == 2)
    paths.foreach { p =>
      val want = if (Files.isDirectory(p)) "755" else "644"
      assert(unixMode(p) == Integer.parseInt(want, 8), s"$p")
    }
  }

  test("checksums stay on: .crc sidecars are written and a flipped byte fails the read") {
    val out = tmp("graft-localfs-crc-") + "/t"
    spark.range(0, 2000).toDF("v").coalesce(1).write.parquet(out)
    val part = walk(out).filter(_.getFileName.toString.startsWith("part-")).head
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    assert(Files.exists(part.resolveSibling("._SUCCESS.crc")))
    val bytes = Files.readAllBytes(part)
    bytes(8) = (bytes(8) ^ 0xff).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](spark.read.parquet(out).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e.toString)
  }

  test("createAtomic without overwrite still refuses an existing file") {
    val dir = new Path(tmp("graft-localfs-atomic-"))
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    val p = new Path(dir, "0")
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    first.write(1); first.close()
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    second.write(2)
    intercept[FileAlreadyExistsException](second.close())
    val in = fm.open(p)
    try assert(in.read() == 1) finally in.close()
  }
}
