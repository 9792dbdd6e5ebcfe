package org.apache.spark

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Name}
import jdk.jfr.consumer.RecordingStream

/** Closes a [[ProcessStarts]] window: committed after the block, its
  * arrival on the stream means every earlier event has arrived too.
  */
@Name("org.apache.spark.ProcessStarts.End")
final class ProcessStartsEnd extends Event

/** The operating-system processes a block starts, as the commands of the
  * JFR `jdk.ProcessStart` events an in-process recording stream sees while
  * it runs (JVM-wide: every thread of the block, Spark's task threads
  * included).
  */
object ProcessStarts {

  /** Two probes of other subsystems fork once per JVM, on first use, and
    * run here so no window sees them: Hadoop's `Shell` class init
    * (`setsid`), and Spark's executor-metrics page size (`getconf
    * PAGESIZE`), which a heartbeat first asks for at a time of its own.
    * The second needs a live SparkEnv (its constructor reads the conf).
    */
  private def jvmOnce(): Unit = {
    locally(org.apache.hadoop.util.Shell.WINDOWS)
    if (SparkEnv.get != null) locally(org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo)
  }

  def apply[T](body: => T): (T, Seq[String]) = {
    jvmOnce()
    val commands = new ConcurrentLinkedQueue[String]
    val end = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withoutStackTrace()
      rs.enable(classOf[ProcessStartsEnd]).withoutStackTrace()
      rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      rs.onEvent("org.apache.spark.ProcessStarts.End", _ => end.countDown())
      rs.startAsync()
      val r = body
      new ProcessStartsEnd().commit()
      assert(end.await(60, TimeUnit.SECONDS), "the JFR stream did not deliver the end of the window")
      (r, commands.asScala.toSeq)
    } finally rs.close()
  }

  /** Process starts by program name (`chmod`, `rm`, …). */
  def byProgram(commands: Seq[String]): Map[String, Int] =
    commands.groupBy(_.takeWhile(_ != ' ').split('/').last).map { case (k, v) => k -> v.size }
}
