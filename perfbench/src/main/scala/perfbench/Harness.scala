package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Benchmark main: times declared queries (`graft.SparkEntry.queries`)
  * from outside the engine, in one fresh session.
  *
  * {{{
  * Harness --plan <file> --out <dir> --seed <n> --seconds <s> --trace <0|1>
  *         --clients <c> --cpus <n>
  * }}}
  * Each plan line is `query <TAB> data dir <TAB> warm-up data dir`.
  *
  * A warm-up pass runs every planned query once on the small warm-up
  * tables (JIT, class loading, codegen cache), so the first timed pass
  * still pays the cross-query memos of the timed tables. Then timed passes
  * run the whole plan in a seeded order, taken from one queue by `clients`
  * threads of the one session. The first timed pass fills the memos; the
  * steady passes after it run until they took `seconds` and numbered at
  * least three. Per query, `fn(spark, dir)` is timed as build and the
  * `noop` write as exec; the write observes a fingerprint of the rows it
  * consumes. Outside the timers the first successful output of each query
  * is executed again and written as parquet for the oracle check
  * (`oracle_sql.json` holds the planned queries' oracle SQL); the
  * fingerprint of that re-execution is kept beside the timed one.
  *
  * With `--trace 1` passes alternate traced (even) and untraced (odd),
  * so the trace's own cost is measured in the same session; the steady
  * passes then number at least seven and end untraced, so every traced
  * steady pass has an untraced one on either side.
  *
  * Writes `results.json` (per-query records and per-pass totals) and, when
  * traced, `spans.jsonl` to `--out`.
  */
object Harness {

  final case class Entry(query: String, dir: String, warmDir: String) {
    def label: String = s"$query@${Paths.get(dir).getFileName}"
  }

  final case class Record(pass: Int, client: Int, entry: Entry, buildS: Double,
      execS: Double, wallS: Double, error: Option[String]) {
    @volatile var fingerprint: String = ""
    /** Fingerprint of the untimed re-execution written for the oracle. */
    @volatile var refFingerprint: Option[String] = None
  }

  final case class Pass(index: Int, traced: Boolean, wallS: Double,
      host: Map[String, Double], cachedFrames: Int, persistedMb: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = Files.readAllLines(Paths.get(opt("plan"))).asScala.toSeq
      .filter(_.trim.nonEmpty).map(_.split('\t')).map(a => Entry(a(0), a(1), a(2)))
    val out = Paths.get(opt("out"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val clients = opt("clients").toInt
    val cpus = opt("cpus").toInt
    Files.createDirectories(out)

    val started = System.nanoTime()
    val fns = graft.SparkEntry.queries
    plan.filterNot(e => fns.contains(e.query)).foreach { e =>
      throw new IllegalArgumentException(s"unknown query ${e.query}")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), plan.map(_.query).distinct
      .flatMap(q => oracle.get(q).map(sql => s"${str(q)}:${str(sql)}")).mkString("{", ",", "}"))
    val spark = graft.core.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session ${(System.nanoTime() - started) / 1e9}%.1fs")

    // warm-up pass on the small tables, each query once, spread over the
    // cores; failures here show again when timed
    val warmPool = Executors.newFixedThreadPool(cpus)
    runAll(warmPool, plan.distinctBy(_.query).map(e => () =>
      try {
        val t0 = System.nanoTime()
        fns(e.query)(spark, e.warmDir).write.format("noop").mode("overwrite").save()
        System.err.println(f"[perfbench] warm-up ${e.query} ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case NonFatal(x) => System.err.println(s"[perfbench] warm-up ${e.query}: ${firstLine(x)}") }))
    warmPool.shutdown()
    graft.core.Caches.release()
    System.err.println(f"[perfbench] session + warm-up ${(System.nanoTime() - started) / 1e9}%.1fs")

    val tracer = new Tracer
    val traceSession = if (trace) Some(new TraceSession(spark, tracer)) else None
    val pool = Executors.newFixedThreadPool(clients)
    val records = scala.collection.mutable.ArrayBuffer.empty[Record]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val refs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val firstTimedEpochMs = System.currentTimeMillis()
    var steadyS = 0.0
    val minSteady = if (trace) 7 else 3
    def steady = passes.size - 1
    // taken after the fourth timed pass in every run: Spark keeps the status
    // of recent SQL executions, so at run end the heap would grow with the
    // number of passes a faster engine fits into `seconds`
    var heapMb = Double.NaN
    while (steady < minSteady || steadyS < seconds || (trace && steady % 2 == 0)) {
      val p = passes.size
      val traced = trace && p % 2 == 0
      // clients take the pass's queries in seeded order from one queue
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[Entry](
        new scala.util.Random(seed * 1000003L + p).shuffle(plan).asJava)
      val passSpan = if (traced) Some(tracer.open("pass", s"pass $p", None, -1, p)) else None
      if (traced) traceSession.foreach(_.attach())
      val host0 = Host.sample()
      val t0 = System.nanoTime()
      val results = runAll(pool, (0 until clients).map { c => () =>
        Iterator.continually(queue.poll()).takeWhile(_ != null)
          .map(e => runQuery(spark, fns(e.query), e, p, c, passSpan, tracer)).toSeq
      })
      val wall = (System.nanoTime() - t0) / 1e9
      val host = Host.delta(host0, Host.sample())
      passSpan.foreach { s => tracer.close(s); host.foreach { case (k, v) => s.add(k, v) } }
      if (traced) traceSession.foreach(_.detach())
      // untimed: the first output of each query is executed again and
      // written out for the oracle check; every timed output of the query,
      // this one's too, must match the fingerprint of that re-execution
      runAll(pool, results.map(rs => () => rs.foreach { case (r, df) =>
        df.filter(_ => refs.add(r.entry.label)).foreach { d =>
          r.refFingerprint = Some(try observed(d, fp =>
            fp.write.parquet(out.resolve("ref").resolve(r.entry.label).toString))
          catch { case NonFatal(x) => "error: " + firstLine(x) })
        }
      }))
      val cached = graft.core.Caches.trackedCount
      val persisted = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      graft.core.Caches.release()
      records ++= results.flatten.map(_._1)
      passes += Pass(p, traced, wall, host, cached, persisted)
      if (p > 0) steadyS += wall
      if (p == 3) heapMb = retainedHeapMb()
    }
    pool.shutdown()
    traceSession.foreach(_.detach())

    System.err.println(f"[perfbench] passes done ${(System.nanoTime() - started) / 1e9}%.1fs")
    val json = new StringBuilder
    json.append("{\"first_timed_epoch_ms\":").append(firstTimedEpochMs)
    json.append(",\"retained_heap_mb\":").append(heapMb)
    json.append(",\"passes\":[").append(passes.map { p =>
      s"""{"pass":${p.index},"traced":${p.traced},"wall_s":${p.wallS},""" +
        s""""cached_frames":${p.cachedFrames},"persisted_mb":${p.persistedMb},""" +
        s""""host":${obj(p.host)}}"""
    }.mkString(",")).append("]")
    json.append(",\"records\":[").append(records.map { r =>
      s"""{"pass":${r.pass},"client":${r.client},"query":${str(r.entry.query)},""" +
        s""""label":${str(r.entry.label)},"build_s":${r.buildS},"exec_s":${r.execS},""" +
        s""""wall_s":${r.wallS},"error":${r.error.map(str).getOrElse("null")},""" +
        s""""fingerprint":${str(r.fingerprint)},""" +
        s""""ref_fingerprint":${r.refFingerprint.map(str).getOrElse("null")}}"""
    }.mkString(",")).append("]}")
    Files.writeString(out.resolve("results.json"), json.toString)
    if (trace) Files.write(out.resolve("spans.jsonl"), tracer.spans.map(spanJson).asJava)
    spark.stop()
  }

  /** Runs each task on the pool and waits for all of them. */
  private def runAll[T](pool: java.util.concurrent.ExecutorService,
      tasks: Seq[() => T]): Seq[T] =
    pool.invokeAll(tasks.map(f => (() => f()): Callable[T]).asJava)
      .asScala.toSeq.map(_.get())

  /** One timed query: build = `fn(spark, dir)`, exec = the noop write. */
  private[perfbench] def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      e: Entry, pass: Int, client: Int, passSpan: Option[Span],
      t: Tracer): (Record, Option[DataFrame]) = {
    val sc = spark.sparkContext
    val q = passSpan.map(ps => t.open("query", e.label, Some(ps), client, pass))
    def phase[T](name: String)(body: => T): (T, Double) = {
      val s = q.map(t.child(_, name, name))
      sc.setLocalProperty(Tracer.SpanKey, s.map(_.id.toString).orNull)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally { s.foreach(t.close(_)); sc.setLocalProperty(Tracer.SpanKey, null) }
    }
    val t0 = System.nanoTime()
    val res = try {
      val (df, build) = phase("build")(fn(spark, e.dir))
      val (fp, exec) = phase("exec")(observed(df, _.write.format("noop").mode("overwrite").save()))
      Right((df, build, exec, fp))
    } catch { case NonFatal(x) => Left(firstLine(x)) }
    val wall = (System.nanoTime() - t0) / 1e9
    q.foreach(t.close(_))
    res match {
      case Right((df, build, exec, fp)) =>
        val r = Record(pass, client, e, build, exec, wall, None)
        r.fingerprint = fp
        (r, Some(df))
      case Left(err) => (Record(pass, client, e, 0.0, 0.0, wall, Some(err)), None)
    }
  }

  /** Runs `action` on `df` with an order-independent content hash of its
    * rows observed in the same execution, and returns the hash: row count,
    * xor and low-32-bit sum of per-row xxhash64 values. Map columns, which
    * Spark cannot hash, are hashed through their JSON form. */
  def observed(df: DataFrame, action: DataFrame => Unit): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    action(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(0xFFFFFFFFL)).as("s")))
    val m = obs.get
    Seq("n", "x", "s").map(k => Option(m(k)).getOrElse(0L)).mkString(":")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Heap still reachable, MB: full collections until the used heap stops
    * shrinking (Spark's cleaner frees more after each one). */
  private def retainedHeapMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); Thread.sleep(100); bean.getHeapMemoryUsage.getUsed / 1048576.0 }
    Iterator.iterate(used())(_ => used()).sliding(2).take(8)
      .collectFirst { case Seq(a, b) if a - b < 1.0 => b }.getOrElse(used())
  }

  def firstLine(x: Throwable): String =
    s"${x.getClass.getSimpleName}: ${Option(x.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  private def str(s: String): String = graft.queries.Tables.jsonEscape(s)
  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  private def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},""" +
      s""""client":${s.client},"pass":${s.pass},"start_s":${s.start / 1e9},""" +
      s""""end_s":${if (s.end < 0) "null" else (s.end / 1e9).toString},"attrs":${obj(s.attributes)}}"""
}

/** Process-wide JVM and host counters, sampled around a pass. */
object Host {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val safepointMs: () => Long = try {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotRuntimeMBean").invoke(null)
    val m = bean.getClass.getMethod("getTotalSafepointTime")
    m.setAccessible(true)
    () => m.invoke(bean).asInstanceOf[java.lang.Long].longValue
  } catch { case NonFatal(_) => () => 0L }

  private def majflt(): Long = try {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
  } catch { case NonFatal(_) => 0L }

  def sample(): Map[String, Double] = Map(
    "gc_s" -> gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3,
    "safepoint_s" -> safepointMs() / 1e3,
    "cpu_s" -> os.getProcessCpuTime / 1e9,
    "majflt" -> majflt().toDouble)

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}
