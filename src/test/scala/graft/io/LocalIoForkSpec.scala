package graft.io

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.streaming.{TrendSink, TrendStream, TweetSource}

/** Pins the point of [[LocalIo]]: micro-batches of the reference
  * pipeline — file source, checkpoint, `TrendStream.writer` into
  * `ParquetSink` — start no child process, while their sink output and
  * checkpoint logs keep the stock `.crc` files and 0644 permissions.
  * With the stock raw file system each such batch ran about 38 `chmod`
  * and `readlink` processes. */
class LocalIoForkSpec extends SparkSpec {

  private def walk(d: String): Seq[JPath] = {
    val s = Files.walk(JPath.of(d))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  test("stream micro-batches into ParquetSink start no process and keep .crc files at 0644") {
    val in = Files.createTempDirectory("fork_in")
    val ckpt = Files.createTempDirectory("fork_ckpt").toString
    val out = Files.createTempDirectory("fork_out").toString + "/out"
    def feed(i: Int): Unit =
      Files.writeString(in.resolve(s"$i.txt"), s"Boston, MA /TLOC/ fast #a$i\nParis /TLOC/ slow #b$i")
    def drain(): StreamingQuery = {
      val q = TrendStream.writer(
        TrendStream.trendRows(TweetSource.FileSource(in.toString, maxFilesPerTrigger = Some(1))
          .load(spark)),
        TrendSink.ParquetSink(out), Trigger.AvailableNow(), Some(ckpt)).start()
      q.awaitTermination(120000)
      q
    }
    // batch 0 outside the recording: it pays the JVM's one-time probes
    // (Hadoop's `Shell` checks for setsid, Spark's procfs metrics ask for
    // the page size), which no later batch repeats
    feed(0)
    drain()
    val batches = 4
    (1 to batches).foreach(feed)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = try drain() finally rec.stop()
    val jfr = Files.createTempFile("forks", ".jfr")
    rec.dump(jfr)
    rec.close()
    val forks = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    assert(q.recentProgress.count(_.numInputRows > 0) == batches)
    assert(spark.read.parquet(out).count() == 2 * (batches + 1))
    assert(forks.size == 0, s"processes started, e.g. ${forks.take(3)}")

    val written = walk(out) ++ walk(ckpt)
    val (crcs, data) = written.partition(_.getFileName.toString.endsWith(".crc"))
    val names = crcs.map(_.toString).toSet
    for (f <- data) {
      val crc = f.resolveSibling(s".${f.getFileName}.crc").toString
      assert(names.contains(crc), s"no checksum for $f")
    }
    for (kind <- Seq("offsets", "commits", "sources/0"))
      assert(data.count(_.getParent.toString.endsWith(kind)) == batches + 1, kind)
    assert(data.count(_.getFileName.toString.endsWith(".parquet")) >= batches)
    for (f <- written)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r--r--", f)
  }
}
