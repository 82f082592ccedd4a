package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, MapElements}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.queries.Tables

/** The selector's probe costs one Spark job (ProbeScan): count and sample
  * come from the same scan, a small input's local route reuses the
  * sampled rows, and forceParallel launches none. Job counts are exact:
  * a SparkListener plus a deterministic listener-bus drain. */
class ProbeJobSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring[A](body: => A): (A, Int) =
    GraftTestBus.jobsDuring(spark.sparkContext)(body)

  private def lineitem = Tables.t(spark, sf001, "lineitem") // parquet, 6000 rows

  test("vectorized route: exactly one probe job before the returned plan") {
    val li = lineitem
    val sw = Swift(li)
    val (out, jobs) = jobsDuring {
      sw.applyScalar[Double, Double]("l_quantity", "sq")(
        x => x * x, vectorized = Some(col("l_quantity") * col("l_quantity")))
    }
    assert(sw.lastStrategy == SwiftStrategy.Vectorized)
    assert(jobs == 1, s"vectorized route launched $jobs jobs")
    assert(sw.lastSampleSize == 240) // min(1000, ceil(6000/25))
    assert(out.filter(col("sq") =!= col("l_quantity") * col("l_quantity")).count() == 0)
  }

  test("parallel route: exactly one probe job before the returned plan") {
    val sw = Swift(lineitem).threshold(0.0) // K3 never picks local
    val (out, jobs) = jobsDuring {
      sw.applyScalar[Double, Double]("l_quantity", "y")(x => if (x < 12) x * x else x)
    }
    assert(sw.lastStrategy == SwiftStrategy.Parallel)
    assert(jobs == 1, s"parallel route launched $jobs jobs")
    assert(out.count() == 6000)
  }

  test("local route with n <= sampleSize reuses the probe rows: no second collect") {
    val region = Tables.t(spark, sf001, "region") // 5 rows
    val sw = Swift(region)
    val (out, jobs) = jobsDuring {
      sw.applyScalar[String, String]("r_name", "u")(_.toUpperCase)
    }
    assert(sw.lastStrategy == SwiftStrategy.Local)
    assert(jobs == 1, s"local route launched $jobs jobs")
    assert(out.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }.nonEmpty)
    // same rows, same scan order as df.collect()
    assert(out.drop("u").collect().toSeq == region.collect().toSeq)
    assert(out.collect().forall(r => r.getAs[String]("u") == r.getAs[String]("r_name").toUpperCase))
  }

  test("forceParallel launches no probe job") {
    val li = lineitem
    val (_, scalarJobs) = jobsDuring {
      Swift(li).forceParallel().applyScalar[Double, Double]("l_quantity", "y")(_ + 1)
    }
    val (_, mapJobs) = jobsDuring {
      Swift(li).forceParallel().applymap[Double, Double](_ * 2,
        vectorized = Some(c => c * 2), columns = Seq("l_quantity", "l_tax"))
    }
    val (_, rowJobs) = jobsDuring {
      Swift(li).forceParallel().applyRows("y")(r => r.getAs[Long]("l_orderkey") + 1,
        outType = Some(LongType))
    }
    assert((scalarJobs, mapJobs, rowJobs) == ((0, 0, 0)))
  }

  test("groupBy.applyAuto: one probe job answers the sample and the routing count") {
    val region = Tables.t(spark, sf001, "region")
    val (out, jobs) = jobsDuring {
      Swift(region).groupBy("r_regionkey").applyAuto(Seq("k", "n")) { (k, rows) =>
        Iterator.single(org.apache.spark.sql.Row(k.getInt(0), rows.size.toLong))
      }
    }
    assert(jobs == 1, s"applyAuto launched $jobs jobs")
    assert(out.collect().map(_.getLong(1)).sum == 5)
  }

  test("many partitions: seeded, sized min(sampleSize, ceil(n/25)), bounded at the driver") {
    val big = spark.range(0, 200000, 1, 400).toDF("id")
    val a = Swift(big).sampleRows()
    assert(a.size == 1000)
    assert(Swift(big).sampleRows() == a, "same seed must draw the same sample")
    assert(Swift(big).sampleSeed(7L).sampleRows() != a)
    assert(a.map(_.getLong(0)).distinct.size == a.size)
    // uniform, not a prefix: the draw spans the whole id range
    assert(a.count(_.getLong(0) >= 100000) > 350 && a.count(_.getLong(0) < 100000) > 350)
    assert(Swift(big).sampleSize(300).sampleRows().size == 300)
    val small = spark.range(0, 2000, 1, 400).toDF("id")
    val sw = Swift(small)
    assert(sw.sampleRows().size == 80 && sw.nrows == 2000)

    // what reaches the driver: the tree merge's final-stage partials only
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    @volatile var resultStage = -1
    val resultTasks = new AtomicInteger
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        resultStage = e.stageIds.max
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.stageId == resultStage && e.taskMetrics != null) {
          resultTasks.incrementAndGet()
          resultBytes.addAndGet(e.taskMetrics.resultSize)
        }
    }
    sc.addSparkListener(l)
    val p = try { val p = Swift(big).probe; GraftTestBus.drain(sc); p }
      finally sc.removeSparkListener(l)
    assert(p.nrows == 200000 && p.sample.size == 1000 && p.all.isEmpty)
    // √400 = 20 partials of <= 1000 rows, not 400
    assert(resultTasks.get <= 20, s"${resultTasks.get} partials reached the driver")
    assert(resultBytes.get < 20L * 1000 * 200,
      s"${resultBytes.get} result bytes reached the driver")
  }

  test("observability: rejected candidates leave their reason and the sample size") {
    val d = (1 to 5000).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    val lying = Swift(d)
    lying.applyScalar[Double, Double]("x", "y")(v => v * 2, vectorized = Some(col("x") * 3))
    assert(lying.lastSampleSize == 200)
    assert(lying.lastRejection.exists(r => r.startsWith("K2: sampled row")), lying.lastRejection)
    val throwing = Swift(d)
    throwing.applyScalar[Double, Double]("x", "y")(v => v + 1,
      vectorized = Some(col("no_such_column") + 1))
    assert(throwing.lastRejection.exists(r =>
      r.startsWith("K2: ") && r.contains("no_such_column") && !r.contains("\n")),
      throwing.lastRejection)
    val fine = Swift(d)
    fine.applyScalar[Double, Double]("x", "y")(v => v * 2, vectorized = Some(col("x") * 2))
    assert(fine.lastRejection.isEmpty && fine.lastSampleSize == 200)
  }

  test("K5 fallback collect is bounded by localMaxRows and fails by name past it") {
    val d = (1 to 5000).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    // impure: the parallel UDF cannot reproduce the driver oracle, so K5
    // rejects it and the call falls back to the driver-local loop
    def impure: Double => Double = {
      val calls = new AtomicInteger
      _ => calls.incrementAndGet().toDouble
    }
    val e = intercept[LocalRouteBoundExceeded] {
      Swift(d, SwiftConfig(localMaxRows = 1000, thresholdSec = 0.0))
        .applyScalar[Double, Double]("x", "y")(impure)
    }
    assert(e.nrows == 5000 && e.bound == 1000)
    assert(e.getMessage.contains("5000") && e.getMessage.contains("localMaxRows=1000"))
    assert(e.reason.exists(_.startsWith("K5: ")))
    val sw = Swift(d, SwiftConfig(thresholdSec = 0.0))
    sw.applyScalar[Double, Double]("x", "y")(impure)
    assert(sw.lastStrategy == SwiftStrategy.Local)
  }

  /** The strategy a returned plan runs: a driver-local LocalRelation, a
    * row UDF or typed map over the file scan, or a pure projection. */
  private def route(out: DataFrame): SwiftStrategy = {
    val plan = out.queryExecution.optimizedPlan
    val fileScan = plan.find(_.isInstanceOf[LogicalRelation]).isDefined
    val rowFn = plan.find(n => n.isInstanceOf[MapElements] ||
      n.expressions.exists(_.find(_.isInstanceOf[ScalaUDF]).isDefined)).isDefined
    if (!fileScan) SwiftStrategy.Local
    else if (rowFn) SwiftStrategy.Parallel
    else SwiftStrategy.Vectorized
  }

  test("selector decisions on the benchmark queries") {
    val q = graft.SparkEntry.queries
    val got = for {
      (name, sf) <- Seq("o1_apply_vec" -> "sf0.1", "o1_apply_vec" -> "sf0.01",
        "o1_apply_branchy" -> "sf0.1", "o1_apply_branchy" -> "sf0.01",
        "k3_small_local" -> "sf0.1", "k3_small_local" -> "sf0.01")
    } yield (name, sf, route(q(name)(spark, sf001.replace("sf0.001", sf))))
    assert(got == Seq(
      ("o1_apply_vec", "sf0.1", SwiftStrategy.Vectorized),
      ("o1_apply_vec", "sf0.01", SwiftStrategy.Vectorized),
      ("o1_apply_branchy", "sf0.1", SwiftStrategy.Parallel),
      ("o1_apply_branchy", "sf0.01", SwiftStrategy.Local),
      ("k3_small_local", "sf0.1", SwiftStrategy.Local),
      ("k3_small_local", "sf0.01", SwiftStrategy.Local)))
  }
}
