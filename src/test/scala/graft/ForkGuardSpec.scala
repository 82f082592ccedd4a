package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream

import graft.queries.Tables
import graft.streaming.StreamOps

/** Marks the end of a guarded block in the JFR stream. */
@jdk.jfr.Name("graft.ForkGuardEnd")
class ForkGuardEnd extends jdk.jfr.Event

/** No process forks on the hot paths. Without the native Hadoop library,
  * Hadoop's local file system runs `chmod`, `readlink` or `ls -ld` in a
  * subprocess for permission and link lookups; bounded stream runs (their
  * checkpoints) and table opens (their file listing) must not reach them.
  * Each operator runs once unguarded first, so one-time JVM and library
  * initialisation is outside the guard; the guarded run is the per-call cost. */
class ForkGuardSpec extends SparkSpec {

  /** The command lines of the processes the JVM started while `body` ran. */
  private def forksDuring(body: => Unit): Seq[String] = {
    val forks = new ConcurrentLinkedQueue[String]
    val end = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[ForkGuardEnd])
      rs.onEvent("jdk.ProcessStart", e => { forks.add(e.getString("command")); () })
      rs.onEvent("graft.ForkGuardEnd", _ => end.countDown())
      rs.startAsync()
      body
      // the stream delivers events in commit order: once the marker
      // arrives, every fork committed during `body` has been seen
      new ForkGuardEnd().commit()
      assert(end.await(60, TimeUnit.SECONDS), "JFR stream did not deliver the end marker")
    } finally rs.close()
    forks.asScala.toSeq
  }

  test("the guard sees a fork") {
    val forks = forksDuring(new ProcessBuilder("true").start().waitFor())
    assert(forks.size == 1 && forks.head.contains("true"), forks)
  }

  test("bounded stream runs start no process") {
    val runs = Seq[() => Unit](
      () => StreamOps.dedupOnce(spark, sf001, Seq("text")).collect(),
      () => StreamOps.resampleOnceMem(spark, sf001, "1 day").collect(),
      () => StreamOps.weightedSampleOnce(spark, sf001).collect())
    runs.foreach(_())
    for ((run, i) <- runs.zipWithIndex) {
      val forks = forksDuring(run())
      assert(forks.isEmpty, s"stream run $i forked ${forks.size}: ${forks.distinct.take(5)}")
    }
  }

  test("a table open starts no process") {
    Tables.t(spark, sf001, "events")
    val forks = forksDuring(Tables.t(spark, sf001, "documents").schema)
    assert(forks.isEmpty, s"table open forked ${forks.size}: ${forks.distinct.take(5)}")
  }
}
