package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus

import graft.core.Caches
import graft.queries.Tables

/** Table opens go through `Tables.schemaOf`: a reopen of an unchanged
  * file launches no schema-inference job, a rewritten file gets a fresh
  * schema, and a source gate keeps the one schema lookup the only way in. */
class TableOpenSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring(body: => Unit): Int =
    GraftTestBus.jobsDuring(spark.sparkContext)(body)._2

  test("opening a table launches no job, first open or reopen") {
    Caches.release(blocking = true)
    val jobs = jobsDuring {
      val first = Tables.t(spark, sf001, "events")
      val again = Tables.t(spark, sf001, "events")
      assert(again.schema == first.schema)
      Tables.schemaOf(spark, sf001, "events")
    }
    assert(jobs == 0, s"table opens launched $jobs jobs")
  }

  test("the footer schema is the one Spark infers, under each inference conf") {
    val confs = Seq(None, Some("spark.sql.parquet.binaryAsString" -> "true"),
      Some("spark.sql.parquet.int96AsTimestamp" -> "false"),
      Some("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    for {
      conf <- confs
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      (table, _) <- Tables.expectedSchemas
    } {
      val dir = sf001.replace("sf0.001", sf)
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(Tables.schemaOf(spark, dir, table) ==
        spark.read.parquet(s"$dir/$table.parquet").schema, s"$sf/$table under $conf")
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("a rewritten file gets a fresh schema; release() drops the memo") {
    val dir = Files.createTempDirectory("table-open").toString
    try {
      (1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "s").repartition(3)
        .write.parquet(s"$dir/t.parquet") // a directory: 3 part files + _SUCCESS
      assert(Tables.schemaOf(spark, dir, "t") == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(Tables.t(spark, dir, "t").count() == 30)
      assert(jobsDuring(Tables.t(spark, dir, "t")) == 0)
      Seq((1L, 2.0, true)).toDF("id", "x", "b").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val fresh = Tables.t(spark, dir, "t")
      assert(fresh.columns.toSeq == Seq("id", "x", "b"))
      assert(fresh.collect().toSeq == Seq(org.apache.spark.sql.Row(1L, 2.0, true)))
      assert(Caches.schemaMemoSize > 0)
      Caches.release(blocking = true)
      assert(Caches.schemaMemoSize == 0)
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(rm)
        Files.delete(p)
      }
      rm(Paths.get(dir))
    }
  }

  test("source gate: tables are opened only through Tables") {
    val roots = Seq("core", "queries", "operators", "streaming")
      .map(d => Paths.get(s"src/main/scala/graft/$d"))
    val direct = """read\s*\.\s*parquet\(\s*s"\$\{?dir\}?/""".r
    val offenders = for {
      root <- roots
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala") && p.getFileName.toString != "Tables.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if direct.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "open tables with Tables.t / Tables.schemaOf (one memoized schema " +
        s"lookup, no inference job per open):\n${offenders.mkString("\n")}")
  }
}
