package graft.core

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The adaptive-apply accessor — Spark-native re-expression of
  * `df.swifter` (reference accessors swifter/swifter.py:223-224,332-333).
  *
  * For a user function the engine picks, per call, the fastest of three
  * physical strategies (SURVEY.md §2.2):
  *   1. Vectorized — a whole-column Catalyst expression (whole-stage
  *      codegen); chosen when the caller supplies a columnar candidate and
  *      the K2 probe validates it against the row function on a sample.
  *   2. Parallel — distributed row-at-a-time UDF / typed map.
  *   3. Local — driver-local execution over a LocalRelation for inputs
  *      too small to be worth a cluster job (K3 cost model).
  *
  * The selection must be observationally invisible (SURVEY.md §1.4): every
  * strategy returns the same rows. Row order is NOT part of the contract —
  * Spark DataFrames are unordered; callers that need the pandas index
  * semantics thread an explicit index column and `orderBy` it at
  * materialization (SURVEY.md §7.4.2).
  */
object Swift {
  /** Handle with the process-wide defaults (K9 set_defaults analog). */
  def apply(df: DataFrame): Swift = new Swift(df, SwiftDefaults.get)
  def apply(df: DataFrame, cfg: SwiftConfig): Swift = new Swift(df, cfg)

  /** Exact probe-equality: reference uses np.array_equal
    * (swifter/swifter.py:313-316). Integral values compare by exact long
    * equality and decimals by compareTo — widening everything to double
    * would make distinct Long/Decimal values beyond 2^53 compare equal,
    * letting the K2/K5 probes certify a candidate that differs from the
    * row function. Only true floating types compare by double bits. */
  private[core] def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, y: Number) =>
      def isIntegral(n: Number): Boolean = n match {
        case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
             _: java.lang.Long => true
        case _ => false
      }
      def asBig(n: Number): Option[java.math.BigDecimal] = n match {
        case d: java.math.BigDecimal => Some(d)
        case d: scala.math.BigDecimal => Some(d.bigDecimal)
        case i: java.math.BigInteger => Some(new java.math.BigDecimal(i))
        case i: scala.math.BigInt => Some(new java.math.BigDecimal(i.bigInteger))
        case n if isIntegral(n) => Some(java.math.BigDecimal.valueOf(n.longValue()))
        case _ => None // true floating type
      }
      (asBig(x), asBig(y)) match {
        case (Some(u), Some(v)) => u.compareTo(v) == 0
        case _ =>
          java.lang.Double.doubleToLongBits(x.doubleValue()) ==
            java.lang.Double.doubleToLongBits(y.doubleValue())
      }
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => sameValue(u, v) }
    case (x, y) => x == y
  }

  private[core] def sameValues(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => sameValue(x, y) }

  private[core] def normalizeForRow(v: Any): Any = v match {
    case a: Array[_] => a.toSeq
    case other => other
  }
}

final class Swift(val df: DataFrame, val cfg: SwiftConfig) {
  private def spark: SparkSession = df.sparkSession
  private def withCfg(c: SwiftConfig): Swift = new Swift(df, c)

  // ---- K9 fluent configuration (swifter/swifter.py:99-138) ----
  def npartitions(n: Int): Swift = withCfg(cfg.copy(npartitions = Some(n)))
  def threshold(sec: Double): Swift = withCfg(cfg.copy(thresholdSec = sec))
  def progressBar(enable: Boolean, desc: String = "swift"): Swift =
    withCfg(cfg.copy(progressBar = enable, progressDesc = desc))
  def allowParallelOnStrings(b: Boolean): Swift =
    withCfg(cfg.copy(allowParallelOnStrings = b))
  def forceParallel(b: Boolean = true): Swift = withCfg(cfg.copy(forceParallel = b))
  def sampleSize(n: Int): Swift = withCfg(cfg.copy(sampleSize = n))
  def sampleSeed(n: Long): Swift = withCfg(cfg.copy(sampleSeed = n))
  /** K6 — pandas `convert_dtype=` (see [[SwiftConfig.convertDtype]]). */
  def convertDtype(b: Boolean): Swift = withCfg(cfg.copy(convertDtype = b))
  /** Strict mode: throw instead of warn when a rolling/ewm window is
    * built without partitionBy (see [[SwiftConfig.failOnGlobalWindow]]). */
  def failOnGlobalWindow(b: Boolean = true): Swift =
    withCfg(cfg.copy(failOnGlobalWindow = b))

  // ---- K1 probe: row count + sample in one scan (base.py:21,46-47) ----
  @volatile private[this] var probed: Probe = null

  /** The selector's probe: ONE scan of `df` that counts every row and
    * keeps a seeded uniform bottom-k sample of up to `cfg.sampleSize`
    * rows ([[ProbeScan]]). Runs at most once per handle, on first use.
    * Driver memory is bounded by the sample, not the input: each merge
    * level hands the driver k-row partials, and only the final ≤ k rows
    * are deserialized to `Row`. */
  private[core] def probe: Probe = {
    if (probed == null) synchronized {
      if (probed == null) probed = ProbeScan.run(df, cfg.sampleSize, cfg.sampleSeed)
    }
    probed
  }

  private[this] lazy val counted: Long = df.count()

  /** Exact row count, needed by the K3 cost model: the probe's count when
    * the probe has run, else a plain `count()` — a caller that needs
    * only `n` never pays the probe's full-row scan. */
  def nrows: Long = { val p = probed; if (p != null) p.nrows else counted }

  /** K1 — the probe sample cut to the reference's shrink rule
    * min(sampleSize, ceil(n/25)) (base.py:21). A prefix of the
    * bottom-k sample is itself a uniform random sample, so a vectorized
    * candidate that is wrong only on rows late in the scan (a null
    * pattern, a dtype quirk in a later file) is still caught — which a
    * `limit(k)` prefix of the input would miss. */
  private[core] def sampleRows(): IndexedSeq[Row] = {
    val p = probe
    p.sample.take(math.min(cfg.sampleSize.toLong, (p.nrows + 24) / 25).toInt)
  }

  /** Every input row for a driver-local route: the probe's rows when they
    * already hold the whole input (n ≤ sampleSize), else one `collect()`
    * — refused past `localMaxRows` with a [[LocalRouteBoundExceeded]]. */
  private def localRows(route: String): Seq[Row] =
    probe.all.getOrElse {
      if (nrows > cfg.localMaxRows)
        throw new LocalRouteBoundExceeded(route, nrows, cfg.localMaxRows, rejected)
      df.collect().toSeq
    }

  /** The whole input, when the probe has run and its sample holds it. */
  private[core] def probedRows: Option[Seq[Row]] = Option(probed).flatMap(_.all)

  private def localDf(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Strategy of the last apply-family call, for tests/introspection. */
  @volatile var lastStrategy: SwiftStrategy = SwiftStrategy.Parallel

  @volatile private[this] var sampled = 0
  @volatile private[this] var rejected: Option[String] = None

  /** Rows the last selector call tested its candidates on (0 when it
    * made no probe: forceParallel, empty input, no candidate to test). */
  def lastSampleSize: Int = sampled

  /** Why the last selector call rejected a candidate — the first line of
    * its error, or the first sampled row it got wrong — tagged with the
    * probe (K2 vectorized, K5 parallel) that rejected it. None when no
    * candidate was rejected. */
  def lastRejection: Option[String] = rejected

  private def noteProbe(sampleSize: Int): Unit = { sampled = sampleSize; rejected = None }

  /** Run `got` (the candidate on the sample) against the row-function
    * `oracle`; a mismatch or an exception is recorded as the rejection. */
  private def certify(probeName: String)(got: => Seq[Any], oracle: Seq[Any]): Boolean = {
    val why =
      try {
        val g = Progress.suppressed(got)
        if (Swift.sameValues(g, oracle)) None
        else {
          val i = g.indices.find(i => i >= oracle.size || !Swift.sameValue(g(i), oracle(i)))
          Some(i.fold(s"${g.size} results for ${oracle.size} sampled rows")(i =>
            s"sampled row $i: got ${g(i)}, row function gives ${oracle.lift(i).orNull}"))
        }
      } catch {
        case e: Exception =>
          val first = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
          Some(s"${e.getClass.getSimpleName}: $first")
      }
    why.foreach(w => rejected = Some(s"$probeName: $w"))
    why.isEmpty
  }

  private def finish(out: DataFrame, s: SwiftStrategy): DataFrame = {
    lastStrategy = s
    cfg.npartitions.fold(out)(out.repartition)
  }

  // =====================================================================
  // O1 — Series.swifter.apply (swifter/swifter.py:287-329)
  // =====================================================================

  /** Element-wise apply of `rowFn` to column `colName`, result in `out`.
    * `vectorized` is the optional columnar candidate — the Scala analog of
    * numpy duck-broadcasting (SURVEY.md §7.4.1): a `T => U` cannot be
    * re-typed to `Column => Column`, so the columnar form is supplied and
    * *validated* on a sample instead.
    */
  def applyScalar[T: TypeTag, U: TypeTag](colName: String, out: String)(
      rowFn: T => U,
      vectorized: Option[Column] = None): DataFrame = {
    val theUdf = udf(rowFn)
    def parallelPlan: DataFrame = df.withColumn(out, theUdf(col(colName)))
    def localPlan(route: String): DataFrame =
      localDf(localRows(route), df.schema).withColumn(out, theUdf(col(colName)))
    noteProbe(0)

    // K9 bypass (swifter/swifter.py:131-138) before any probe job; empty
    // input short-circuits to the same naive path (swifter/swifter.py:292-294)
    if (cfg.forceParallel || probe.nrows == 0) return finish(parallelPlan, SwiftStrategy.Parallel)

    val sample = sampleRows()
    noteProbe(sample.size)
    val idx = df.schema.fieldIndex(colName)
    val sampleIn: Seq[T] = sample.map(r => r.getAs[T](idx))
    // driver oracle = row-at-a-time result on the sample (K7: suppressed)
    val oracle: Seq[Any] = Progress.suppressed { sampleIn.map(v => rowFn(v)) }

    // ---- K2 vectorization probe (swifter/swifter.py:309-317) ----
    // K5 fallback chain: expression -> UDF
    vectorized.foreach { vec =>
      if (certify("K2")(
          localDf(sample, df.schema).select(vec.as(out)).collect().toSeq.map(_.get(0)), oracle))
        return finish(df.withColumn(out, vec), SwiftStrategy.Vectorized)
    }

    // ---- K3 cost model (swifter/swifter.py:319-326) ----
    val estSec = estimateFullRunSec(sampleIn.size) {
      Progress.suppressed { var i = 0; while (i < sampleIn.size) { rowFn(sampleIn(i)); i += 1 } }
    }
    // driver-local route: run the same plan over a LocalRelation —
    // single in-memory partition, no scan/shuffle/job-per-stage overhead.
    if (estSec <= cfg.thresholdSec && nrows <= cfg.localMaxRows)
      return finish(localPlan("K3 local route"), SwiftStrategy.Local)

    // ---- K5 parallel-correctness validation (swifter/swifter.py:262-268) ----
    val validated = certify("K5")(
      localDf(sample, df.schema).withColumn(out, theUdf(col(colName)))
        .collect().toSeq.map(_.getAs[Any](out)),
      oracle)
    if (validated) finish(parallelPlan, SwiftStrategy.Parallel)
    else // final fallback: local naive loop (reference :283-285)
      finish(localPlan("K5 fallback"), SwiftStrategy.Local)
  }

  /** K3 — time `body` nRepeats times, extrapolate sample→full duration:
    * est = mean_sample_time / sample_n * nrows (swifter/swifter.py:319-322). */
  private def estimateFullRunSec(sampleN: Int)(body: => Unit): Double = {
    if (sampleN == 0) return 0.0
    var total = 0L
    var i = 0
    while (i < cfg.nRepeats) {
      val t0 = System.nanoTime(); body; total += System.nanoTime() - t0; i += 1
    }
    (total.toDouble / cfg.nRepeats / 1e9) / sampleN * nrows
  }

  // =====================================================================
  // O2 — DataFrame.swifter.apply(axis=1) (swifter/swifter.py:400-437)
  // =====================================================================

  /** Row-wise apply: `rowFn` sees the whole row; result column `out`.
    * Output type comes from K6 sample inference unless `outType` is given
    * (the Dask-`meta` analog). `vectorized` is the columnar candidate.
    * `resultType` shapes list-like results per pandas `result_type`
    * (docs/documentation.md:103-108): Expand → one column per element,
    * Reduce → ArrayType column, Broadcast → elements written back over the
    * original columns.
    */
  def applyRows(out: String)(
      rowFn: Row => Any,
      vectorized: Option[Column] = None,
      outType: Option[DataType] = None,
      resultType: ResultType = ResultType.NoShape): DataFrame = {
    val base = applyRowsRaw(out, rowFn, vectorized, outType)
    shapeResult(base, out, resultType)
  }

  private def applyRowsRaw(out: String, rawRowFn: Row => Any,
      vectorized: Option[Column], outType: Option[DataType]): DataFrame = {
    // K6 convert_dtype=False with no declared type: no inference — the
    // result is an opaque string rendering (pandas object-dtype analog)
    val opaque = !cfg.convertDtype && outType.isEmpty
    val rowFn: Row => Any =
      if (!opaque) rawRowFn
      else r => { val v = rawRowFn(r); if (v == null) null else v.toString }
    noteProbe(0)
    // K9 bypass: no probe job unless the output type must be inferred from
    // the sample (K6); the empty-input type rule below is unchanged
    if (cfg.forceParallel && (outType.isDefined || opaque))
      return finish(mapRowsDistributed(df, out, rowFn, outType.getOrElse(StringType)),
        SwiftStrategy.Parallel)
    if (probe.nrows == 0) {
      val dt = outType.getOrElse(if (opaque) StringType else NullType)
      return finish(mapRowsDistributed(df, out, rowFn, dt), SwiftStrategy.Parallel)
    }
    val sample = sampleRows()
    noteProbe(sample.size)
    val oracle: Seq[Any] = Progress.suppressed { sample.map(rowFn) }
    val dt = outType.getOrElse(if (opaque) StringType else TypeInfer.of(oracle))

    if (cfg.forceParallel)
      return finish(mapRowsDistributed(df, out, rowFn, dt), SwiftStrategy.Parallel)

    vectorized.foreach { vec =>
      if (certify("K2")(
          localDf(sample, df.schema).select(vec.as(out)).collect().toSeq.map(_.get(0)), oracle))
        return finish(df.withColumn(out, vec), SwiftStrategy.Vectorized)
    }

    val estSec = estimateFullRunSec(sample.length) {
      Progress.suppressed { var i = 0; while (i < sample.length) { rowFn(sample(i)); i += 1 } }
    }
    if (estSec <= cfg.thresholdSec && nrows <= cfg.localMaxRows) {
      val all = localDf(localRows("K3 local route"), df.schema)
      finish(mapRowsDistributed(all, out, rowFn, dt), SwiftStrategy.Local)
    } else finish(mapRowsDistributed(df, out, rowFn, dt), SwiftStrategy.Parallel)
  }

  /** Distributed row map with a dynamic output schema: typed Dataset map
    * under `Encoders.row` — the Spark-idiomatic equivalent of a row UDF
    * without TypeTag gymnastics. */
  private def mapRowsDistributed(in: DataFrame, out: String, rowFn: Row => Any,
      dt: DataType): DataFrame = {
    val outSchema = in.schema.add(StructField(out, dt, nullable = true))
    val enc = Encoders.row(outSchema)
    // NB: the lambda must only capture `rowFn` and `out` — not `this`
    // (Swift holds the non-serializable DataFrame).
    val fn = rowFn
    in.map { r => Row.fromSeq(r.toSeq :+ Swift.normalizeForRow(fn(r))) }(enc)
  }

  /** pandas result_type shaping on top of an array-typed result column. */
  private def shapeResult(base: DataFrame, out: String, rt: ResultType): DataFrame = rt match {
    case ResultType.NoShape | ResultType.Reduce => base
    case ResultType.Expand(names) =>
      val arr = col(out)
      val cols = base.columns.filterNot(_ == out).map(col) ++
        names.zipWithIndex.map { case (n, i) => element_at(arr, i + 1).as(n) }
      base.select(cols.toIndexedSeq: _*)
    case ResultType.Broadcast =>
      // result elements replace the original columns positionally
      val orig = base.columns.filterNot(_ == out)
      val cols = orig.zipWithIndex.map { case (n, i) =>
        element_at(col(out), i + 1).as(n)
      }
      base.select(cols.toIndexedSeq: _*)
  }

  /** Automatic vectorization for row functions written in the restricted
    * [[SwiftExpr]] AST (SURVEY §7.4.1's "small translator"): ONE term
    * yields both the row-at-a-time function and the columnar candidate,
    * which still flows through the K2 sample probe — a translator defect
    * degrades to the UDF path, never to wrong results. */
  def applyExpr(out: String)(term: SwiftExpr): DataFrame =
    applyRows(out)(
      r => term.eval(r),
      vectorized = Some(term.column),
      outType = Some(DoubleType))

  /** O2 `raw=True` analog (swifter/swifter.py:400): the row function sees
    * a plain Seq[Double] of the selected columns — the ndarray-row fast
    * path, no per-element name lookup. Routed through the ordinary O1
    * selector on a packed array column. */
  def applyRawNumeric(cols: Seq[String], out: String)(
      fn: Seq[Double] => Double,
      vectorized: Option[Column] = None): DataFrame = {
    val tmp = "__swift_raw"
    val withArr = df.withColumn(tmp, array(cols.map(c => col(c).cast("double")): _*))
    val inner = new Swift(withArr, cfg)
    // collection.Seq: Spark materializes array columns as mutable.ArraySeq,
    // which is not a scala.collection.immutable.Seq in 2.13
    val res = inner.applyScalar[scala.collection.Seq[Double], Double](tmp, out)(
      xs => fn(xs.toSeq), vectorized)
    lastStrategy = inner.lastStrategy
    sampled = inner.lastSampleSize
    rejected = inner.lastRejection
    res.drop(tmp)
  }

  /** Scheduler knob for API parity with `set_dask_scheduler`
    * (swifter/swifter.py:107-113): Spark has no threads-vs-processes
    * choice to make — the cluster manager owns placement — so this logs
    * and returns the handle unchanged (documented no-op). */
  def setScheduler(name: String): Swift = {
    Console.err.println(
      s"[swift] set_scheduler('$name') is a no-op on Spark: task placement " +
        "is the cluster manager's job (kept for reference API parity)")
    this
  }

  // =====================================================================
  // O2 axis=0 — column-wise apply: per-column aggregate
  // (parallel path intentionally absent, mirroring swifter/swifter.py:434)
  // =====================================================================

  /** Apply the same aggregate to every listed column; single-row result
    * with one output column per input column. */
  def applyColumns(cols: Seq[String])(aggFn: Column => Column,
      suffix: String = ""): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    df.agg(
      aggFn(col(cols.head)).as(cols.head + suffix),
      cols.tail.map(c => aggFn(col(c)).as(c + suffix)): _*)
  }

  /** The literal pandas `df.apply(func, axis=0)`: an OPAQUE whole-column
    * `Seq[Any] => Any` per column. A black-box column function can't be
    * partially aggregated, and the reference never parallelizes axis=0
    * either (swifter/swifter.py:434 gates the Dask path on axis==1) — so
    * this is faithfully a DRIVER-LOCAL route (K3's local leg), with a
    * hard row guard: past `maxRows` the caller must express the function
    * as a Column aggregate ([[applyColumns]]) for distributed execution.
    * Result: one row, one output column per input column, types inferred
    * from the computed values (K6). */
  def applyColumnsLocal(cols: Seq[String], maxRows: Long = 10000000L)(
      fn: Seq[Any] => Any): DataFrame = {
    require(nrows <= maxRows,
      s"applyColumnsLocal is driver-local (the reference never parallelizes " +
      s"axis=0); input has $nrows rows > maxRows=$maxRows — express the " +
      "function as a Column aggregate via applyColumns to run distributed")
    lastStrategy = SwiftStrategy.Local
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
    val outVals = cols.indices.map(i => fn(rows.toIndexedSeq.map(_.get(i))))
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      StructField(c, TypeInfer.of(Seq(outVals(i))), nullable = true)
    }.toIndexedSeq)
    df.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(outVals)), schema)
  }

  // =====================================================================
  // O3 — DataFrame.swifter.applymap (swifter/swifter.py:483-521)
  // =====================================================================

  /** Same scalar function applied to every element of every listed column
    * (default: all columns). The selector probes the vectorized candidate
    * once on the first column (columns share the dtype contract, as in
    * pandas applymap) and fans the winner out per column — one codegen'd
    * expression per column, a single projection, no shuffle. */
  def applymap[T: TypeTag, U: TypeTag](rowFn: T => U,
      vectorized: Option[Column => Column] = None,
      columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val theUdf = udf(rowFn)
    def project(mk: Column => Column): DataFrame =
      df.select(df.columns.toIndexedSeq.map { c =>
        if (cols.contains(c)) mk(col(c)).as(c) else col(c)
      }: _*)

    noteProbe(0)
    // no candidate to test (or K9 bypass): the UDF projection, no probe job
    if (cfg.forceParallel || vectorized.isEmpty || probe.nrows == 0)
      return finish(project(theUdf(_)), SwiftStrategy.Parallel)

    val vec = vectorized.get
    val sample = sampleRows()
    noteProbe(sample.size)
    val probeCol = cols.head
    val idx = df.schema.fieldIndex(probeCol)
    val oracle = Progress.suppressed { sample.map(r => rowFn(r.getAs[T](idx))) }
    if (certify("K2")(localDf(sample, df.schema).select(vec(col(probeCol)).as("p"))
        .collect().toSeq.map(_.get(0)), oracle))
      finish(project(vec), SwiftStrategy.Vectorized)
    else finish(project(theUdf(_)), SwiftStrategy.Parallel)
  }

  // =====================================================================
  // O4 / O5 / O6 entry points (implementations in SwiftGroupBy/Windows)
  //
  // PARTITIONING CONTRACT for every O5/O6 window entry point below: an
  // empty `partitionBy` on a distributed (non-LocalRelation) input puts
  // the WHOLE dataset in one window partition — one task sorts
  // everything, which at cluster scale is an executor OOM, not a slow
  // query. The plan still executes (a global order is legitimate on
  // pandas-sized data) but SwiftRolling.warnIfGlobal warns on stderr;
  // pass `partitionBy=` for anything bigger than one executor's memory.
  // =====================================================================

  /** O4 — groupBy(...).apply(func) (swifter/swifter.py:523-639). */
  def groupBy(by: String*): SwiftGroupBy = new SwiftGroupBy(this, by.toSeq, None)

  /** O4 — grouping BY THE INDEX, the reference's
    * `df.swifter.groupby(df.index)` form (swifter/swifter.py:579, tests
    * swifter_tests.py:801-813). Under the explicit-index convention
    * (SURVEY §1.1 / [[SwiftIndex]]) the pandas index is a column, so
    * this is groupBy on that column; when the frame does not carry one
    * yet, a stable 0-based row index is attached first (each row then
    * forms its own group — exactly pandas groupby(df.index) on a unique
    * RangeIndex). */
  def groupByIndex(indexCol: String = "index"): SwiftGroupBy = {
    val base =
      if (df.columns.contains(indexCol)) this
      else new Swift(SwiftIndex.withRowIndex(df, indexCol), cfg)
    new SwiftGroupBy(base, Seq(indexCol), None)
  }

  /** O5 — rolling count-window (swifter/swifter.py:140-172,710-763);
    * `center=true` uses the pandas centering convention. */
  def rolling(window: Int, orderBy: Seq[String], partitionBy: Seq[String] = Nil,
      center: Boolean = false): SwiftRolling =
    if (center) SwiftRolling.centered(this, window, orderBy, partitionBy)
    else SwiftRolling.counted(this, window, orderBy, partitionBy)

  /** O5 — rolling time-offset window, e.g. "1 hour" over a timestamp.
    * `closed` = both|right|left|neither picks the pandas endpoint
    * convention (see SwiftRolling.timed for the frame mapping). */
  def rollingTime(duration: String, tsCol: String, partitionBy: Seq[String] = Nil,
      closed: String = "both"): SwiftRolling =
    SwiftRolling.timed(this, duration, tsCol, partitionBy, closed)

  /** O5 — pandas `rolling(n, on=col)`: the window walks a named data
    * column instead of the index. (For time windows, [[rollingTime]]'s
    * `tsCol` IS the `on=` column.) */
  def rollingOn(window: Int, on: String, partitionBy: Seq[String] = Nil,
      center: Boolean = false): SwiftRolling =
    rolling(window, Seq(on), partitionBy, center)

  /** O5 — pandas `rolling(n, win_type=...)`: weighted window mean
    * (swifter/swifter.py:140-172 passes win_type through). Supported
    * shapes: triang, boxcar, gaussian (`std` is the gaussian width, the
    * scipy `.mean(std=)` parameter) — see [[SwiftRollingWeighted.weights]]. */
  def rollingWeighted(window: Int, winType: String, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, std: Double = 0.0): SwiftRollingWeighted =
    SwiftRollingWeighted.counted(this, window, winType, orderBy, partitionBy, std)

  /** O5 — pandas `expanding()`: cumulative (unbounded-preceding) frames.
    * min_periods defaults to 1, the pandas default. */
  def expanding(orderBy: Seq[String], partitionBy: Seq[String] = Nil): SwiftRolling =
    SwiftRolling.expanding(this, orderBy, partitionBy)

  /** O5 — pandas `ewm(alpha=...)` (adjust=True): exponentially weighted
    * mean with micro-quantized weights, realized as a bounded window —
    * the quantized decay tail is exactly zero past ~⌈6·ln10 / α⌉ rows,
    * so no unbounded frame. See [[SwiftEwm]] for the determinism story. */
  def ewm(alpha: Double, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil): SwiftEwm =
    SwiftEwm.counted(this, alpha, orderBy, partitionBy)

  private def lagSpec(orderBy: Seq[String], partitionBy: Seq[String]) = {
    val base =
      if (partitionBy.nonEmpty)
        org.apache.spark.sql.expressions.Window.partitionBy(partitionBy.map(col): _*)
      else org.apache.spark.sql.expressions.Window.partitionBy()
    base.orderBy(orderBy.map(col): _*)
  }

  /** pandas `shift(periods)`: the value `periods` rows back (lag) —
    * leading rows yield null, exactly pandas' NaN head. */
  def shift(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "shifted"): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    df.withColumn(out, lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy)))
  }

  /** pandas `diff(periods)`: x − shift(x, periods). */
  def diff(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "diffed"): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    val prev = lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy))
    df.withColumn(out, col(valueCol) - prev)
  }

  /** pandas `pct_change(periods)`: x ∕ shift(x) − 1 — a single IEEE
    * division then subtraction, deterministic cross-engine (the oracle
    * mirrors the identical operation order). A ZERO previous value yields
    * NULL (the SQL convention, via a null-ified divisor — ANSI-safe);
    * pandas emits ±inf there. Disclosed divergence: inf is not
    * representable in the cross-engine hash compare, and NULL is what
    * every SQL engine agrees on. */
  def pctChange(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "pct"): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    val prev = lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy))
    df.withColumn(out, col(valueCol) / nullif(prev, lit(0.0)) - lit(1.0))
  }

  /** pandas `fillna(value)`: nulls → the fill value (pure projection). */
  def fillna(valueCol: String, fill: Double, out: String = "filled"): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    df.withColumn(out, coalesce(col(valueCol), lit(fill)))
  }

  /** pandas `clip(lower, upper)`: componentwise clamp — two IEEE
    * comparisons, no arithmetic, so bit-exact cross-engine; nulls pass
    * through like pandas NaN. */
  def clip(valueCol: String, lower: Double, upper: Double,
      out: String = "clipped"): DataFrame = {
    lastStrategy = SwiftStrategy.Vectorized
    df.withColumn(out, least(greatest(col(valueCol), lit(lower)), lit(upper)))
  }

  /** O6 — resample(rule).apply (swifter/swifter.py:174-220,766-824).
    * `rule` is a Spark interval string, e.g. "1 day", "3 minutes". */
  def resample(rule: String, tsCol: String): SwiftResample =
    new SwiftResample(this, rule, tsCol)
}

/** A driver-local route refused to `collect()` an input past the
  * `localMaxRows` bound — at cluster scale that collect is a driver OOM,
  * not a fallback. `reason` is the probe rejection that sent the call
  * there, if any ([[Swift.lastRejection]]). */
final class LocalRouteBoundExceeded(val route: String, val nrows: Long, val bound: Long,
    val reason: Option[String])
  extends IllegalStateException(
    s"$route would collect $nrows rows to the driver, over localMaxRows=$bound" +
      reason.fold("")(r => s" (after $r)"))

/** pandas `result_type` for O2 (docs/documentation.md:103-108). */
sealed trait ResultType
object ResultType {
  case object NoShape extends ResultType
  case object Reduce extends ResultType
  final case class Expand(names: Seq[String]) extends ResultType
  case object Broadcast extends ResultType
}
