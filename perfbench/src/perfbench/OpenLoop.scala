package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open-loop feed: one file per tick, written into `dir` when due,
  * whatever the system under test is doing. A file's name carries its
  * due time; the file appears atomically (written hidden, then renamed).
  * All content is prepared before the thread starts. */
final class OpenLoop(dir: String, startMs: Long, tickMs: Long,
                     files: IndexedSeq[Array[String]]) extends Thread("open-loop") {
  setDaemon(true)
  private val lag = mutable.ArrayBuffer[Double]()
  private val due = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  override def run(): Unit =
    files.indices.foreach { i =>
      val d = startMs + i * tickMs
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = f"$d%d-$i%06d.txt"
      val tmp = Paths.get(dir, "." + name)
      Files.write(tmp, files(i).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
      lag.synchronized(lag += (System.currentTimeMillis() - d).toDouble)
      due.put(name, d)
    }

  def lagMs: Seq[Double] = lag.synchronized(lag.toSeq)
  /** File name → due time (epoch ms) of every file written. */
  def dueTimes: Map[String, Long] = due.asScala.toMap
}

object SourceLog {
  /** File name → micro-batch id, from a file-source query's checkpoint
    * log (`sources/0`), including its compacted segments. */
  def batches(checkpoint: String): Map[String, Long] = {
    val d = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(d)) return Map.empty
    val out = mutable.Map[String, Long]()
    val pat = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(d).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .foreach { p =>
        Files.readAllLines(p).asScala.foreach { line =>
          pat.findFirstMatchIn(line).foreach { m =>
            val name = m.group(1).split('/').last
            out(name) = m.group(2).toLong
          }
        }
      }
    out.toMap
  }

  /** Per-file latency: commit time of the batch that took the file minus
    * the file's due time. Files no committed batch took are returned
    * separately. */
  def latencies(due: Map[String, Long], batchOf: Map[String, Long],
                committedMs: Map[Long, Long]): (Seq[Double], Int) = {
    val lat = due.toSeq.flatMap { case (f, d) =>
      batchOf.get(f).flatMap(committedMs.get).map(c => (c - d).toDouble)
    }
    (lat, due.size - lat.length)
  }
}
