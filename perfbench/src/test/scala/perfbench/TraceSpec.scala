package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Span parenting of the harness trace when several clients share one
  * session: every job, stage and microbatch must hang under the query of
  * the client that caused it. */
class TraceSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def ancestor(t: Tracer, s: Span, kind: String): Option[Span] =
    if (s.kind == kind) Some(s) else t.get(s.parent).flatMap(ancestor(t, _, kind))

  test("jobs and stages of concurrent clients hang under their own query") {
    val t = new Tracer
    val session = new TraceSession(spark, t)
    session.attach()
    val pass = t.open("pass", "pass 0", None, -1, 0)
    // client c's query groups by c + 2, so its rows identify its client
    val fn: Int => (SparkSession, String) => DataFrame = c => (s, _) => {
      s.range(0, 2000).selectExpr(s"id % ${c + 2} AS k").groupBy("k").count()
        .collect() // a build-phase job, like an eager selector probe
      s.range(0, 2000).selectExpr(s"id % ${c + 2} AS k").groupBy("k").count()
    }
    val pool = Executors.newFixedThreadPool(4)
    val out = pool.invokeAll((0 until 4).map { c =>
      (() => (1 to 3).map { i =>
        Harness.runQuery(spark, fn(c), Harness.Entry(s"q$c", s"/d$i", ""), 0, c, Some(pass), t)
      }): Callable[Seq[(Harness.Record, Option[DataFrame])]]
    }.asJava).asScala.map(_.get())
    pool.shutdown()
    t.close(pass)
    session.detach()

    assert(out.flatten.forall(_._1.error.isEmpty))
    val spans = t.spans
    val jobs = spans.filter(_.kind == "job")
    assert(jobs.size >= 4 * 3 * 2)
    jobs.foreach { j =>
      val q = ancestor(t, j, "query").get
      assert(q.client == j.client)
      assert(q.name.startsWith(s"q${q.client}@"))
      assert(Set("build", "exec").contains(t.get(j.parent).get.kind))
    }
    spans.filter(_.kind == "stage").foreach { s =>
      assert(t.get(s.parent).get.kind == "job")
      assert(ancestor(t, s, "query").get.client == s.client)
    }
    // each query has both phases, and its build ran one job of its own
    spans.filter(_.kind == "query").foreach { q =>
      val phases = spans.filter(_.parent == q.id)
      assert(phases.map(_.kind).sorted == Seq("build", "exec"))
      val build = phases.find(_.kind == "build").get
      assert(jobs.exists(_.parent == build.id))
    }
  }

  test("microbatches hang under the span that started the stream") {
    val t = new Tracer
    val session = new TraceSession(spark, t)
    session.attach()
    val q = t.open("query", "stream", None, 7, 0)
    val build = t.child(q, "build", "build")
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, build.id.toString)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Int]
      in.addData(1, 2, 3)
      val sq = in.toDF().writeStream.format("memory").queryName("trace_spec_sink").start()
      sq.processAllAvailable()
      in.addData(4, 5)
      sq.processAllAvailable()
      sq.stop()
    } finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
    t.close(build)
    t.close(q)
    session.detach()
    val batches = t.spans.filter(_.kind == "batch")
    assert(batches.size >= 2)
    batches.foreach(b => assert(b.parent == build.id && b.client == 7))
    assert(t.spans.filter(_.kind == "job").forall(j => ancestor(t, j, "query").contains(q)))
  }
}
