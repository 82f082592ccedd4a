package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O4 — `df.swifter.groupby(by).apply(func)` (swifter/swifter.py:523-639).
  *
  * The reference hand-rolls a shuffle: distinct group keys are
  * np.array_split into chunks, each chunk (holding *complete* groups) is
  * shipped to a Ray task that runs `chunk.groupby(by).apply(func)`
  * (swifter/swifter.py:591-608). A Spark `groupByKey` shuffle gives that
  * group-completeness guarantee natively, so the whole mechanism collapses
  * into `flatMapGroups` — map-side combine and skew handling (AQE) come
  * for free.
  *
  * Routing mirrors the reference: at or below `groupbyLocalMaxRows` the
  * input is collected to a LocalRelation first (no cluster shuffle); above
  * it, always parallel — the reference never probes groupby ("Swifter
  * logic can't accurately estimate groupby applies",
  * swifter/swifter.py:638).
  */
final class SwiftGroupBy(sw: Swift, by: Seq[String], subset: Option[Seq[String]],
    dropNulls: Boolean = false, appearanceIndex: Option[String] = None) {
  private def df: DataFrame = sw.df

  /** `groupby(by)[cols]` column-subset projection
    * (`__getitem__`, swifter/swifter.py:584-586). */
  def select(cols: String*): SwiftGroupBy =
    new SwiftGroupBy(sw, by, Some(cols.toSeq), dropNulls, appearanceIndex)

  /** pandas `groupby(by, dropna=...)` parity (the reference forwards the
    * kwarg verbatim, swifter/swifter.py:523-534): pandas' DEFAULT
    * dropna=True silently drops rows whose group key is NULL, while
    * Spark keeps them as a NULL-key group — the one forwarded groupby
    * kwarg a curation user actually hits (NULL join keys are routine in
    * scraped data). `dropna(true)` filters NULL-key rows BEFORE the
    * shuffle (the filter sits under the exchange, so dropped rows never
    * move); the engine default stays Spark's keep-NULL semantics
    * (= pandas dropna=False), matching the K4-style documented
    * divergence. Applies to the grouped paths ([[apply]], [[applyAuto]],
    * [[agg]]); [[transform]] is length-preserving by contract, so NULL
    * keys there stay a window group, as in pandas transform output. */
  def dropna(flag: Boolean = true): SwiftGroupBy =
    new SwiftGroupBy(sw, by, subset, flag, appearanceIndex)

  /** pandas `groupby(by, sort=False)` parity — the last forwarded
    * groupby kwarg with observable output semantics
    * (swifter/swifter.py:523-534 forwards it verbatim; pandas default
    * sort=True orders result groups by key, sort=False by FIRST
    * APPEARANCE in the frame). A distributed DataFrame has no implicit
    * row order, so under the explicit-index convention (SURVEY §1.1)
    * "first appearance" = min(index) over the group: `sort(false,
    * indexCol)` makes [[agg]] prepend that position as `first_pos` and
    * order the result by it — the group order pandas users observe,
    * materialized as a column so it survives any downstream re-sort.
    * One extra min() aggregate riding the SAME exchange: zero
    * additional shuffles. */
  def sort(flag: Boolean, indexCol: String = "index"): SwiftGroupBy =
    new SwiftGroupBy(sw, by, subset, dropNulls,
      if (flag) None else Some(indexCol))

  // Remaining reference-forwarded groupby kwargs, DOCUMENTED DIVERGENCES
  // (swifter/swifter.py:523-534 forwards them verbatim to pandas; the
  // reference adds no logic of its own to any of them):
  //  - `as_index`: pandas-only result PACKAGING (keys as index vs as
  //    columns). Under the explicit-index convention a distributed
  //    result always carries the keys as columns — i.e. the engine is
  //    permanently `as_index=False`-shaped, and there is no second
  //    observable behavior to implement.
  //  - `observed`: meaningful only for pandas Categorical dtypes
  //    (emit unobserved categories as empty groups). The engine has no
  //    categorical dtype; groups are exactly the observed key values —
  //    i.e. permanently `observed=True`-shaped.
  //  - `sort`: the one kwarg with observable output semantics —
  //    implemented above ([[sort]], first-appearance order as
  //    `first_pos`).
  //  - `dropna`: implemented ([[dropna]]) with the default divergence
  //    disclosed there and in COVERAGE.md/README.md.

  /** pandas `groupby(by).rolling(n)`: a count window per group — sugar
    * over the O5 machinery with the group keys as the window partition. */
  def rolling(window: Int, orderBy: Seq[String], center: Boolean = false): SwiftRolling =
    sw.rolling(window, orderBy, partitionBy = by, center = center)

  /** pandas `groupby(by).resample(rule)`: per-group time buckets — sugar
    * over the O6 machinery with the group keys ahead of the bucket. */
  def resample(rule: String, tsCol: String): SwiftResample =
    sw.resample(rule, tsCol).by(by: _*)

  private def inputDf: DataFrame = inputOf(df)

  private def inputOf(src: DataFrame): DataFrame = {
    val base =
      subset.fold(src)(cols => src.select((by ++ cols).distinct.map(col).toIndexedSeq: _*))
    if (dropNulls) base.filter(by.map(col(_).isNotNull).reduce(_ && _))
    else base
  }

  /** Arbitrary per-group function: receives the key Row (fields = `by`)
    * and all rows of the group; may return any number of rows of
    * `outSchema` (covers the reference's scalar / Series / frame-valued
    * group functions — the shape is fixed per query, SURVEY.md §7.4.5).
    */
  def apply(outSchema: StructType)(
      fn: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val in0 = inputDf
    val in =
      if (sw.nrows <= sw.cfg.groupbyLocalMaxRows) {
        sw.lastStrategy = SwiftStrategy.Local
        // rows the probe already holds (it ran, and n <= sampleSize) are
        // not collected again: the projection runs over a LocalRelation
        val src = sw.probedRows.fold(in0)(rows =>
          inputOf(df.sparkSession.createDataFrame(rows.asJava, df.schema)))
        df.sparkSession.createDataFrame(src.collect().toSeq.asJava, in0.schema)
      } else { sw.lastStrategy = SwiftStrategy.Parallel; in0 }

    val keySchema = StructType(by.map(c => in.schema(c)))
    val keyIdx = by.map(in.schema.fieldIndex).toArray
    val keyEnc = Encoders.row(keySchema)
    val outEnc = Encoders.row(outSchema)
    in.groupByKey(r => Row.fromSeq(keyIdx.toSeq.map(r.get)))(keyEnc)
      .flatMapGroups((k: Row, it: Iterator[Row]) => fn(k, it))(outEnc)
  }

  /** K6 variant of [[apply]]: the result schema is inferred by running
    * `fn` on ONE sampled group on the driver — the Dask-`meta` analog for
    * per-group functions (reference swifter/swifter.py:260; SURVEY.md
    * §7.4.5: shape must be fixed per query). Column names default to
    * c0..cN unless `names` is given.
    *
    * The probe group is drawn from the K1 sample ([[Swift.sampleRows]] —
    * the one probe scan, which also answers the row count the routing in
    * [[apply]] needs), NOT by re-filtering the input for one key: a
    * filter on a non-partition column can't prune, so the old
    * `filter(key).limit(1000)` probe cost a full scan at scale. The
    * sampled group may be a SUBSET of the real group — fine, because the
    * contract is fixed result shape per query, and the distributed run
    * re-executes `fn` on complete groups. */
  def applyAuto(names: Seq[String] = Nil)(
      fn: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val in = inputDf
    val sample = sw.sampleRows()
    if (sample.isEmpty) throw new IllegalArgumentException(
      "applyAuto on an empty input: declare the schema via apply(outSchema)")
    // project the full-schema sample rows onto the (possibly subset) input.
    // Probe rows MUST carry schemas: the distributed flatMapGroups rows are
    // encoder-decoded (schema-ful), so a user fn indexing by field name
    // (getAs[T]("col")) must work identically on the driver-side probe.
    val inIdx = in.schema.fieldNames.map(sw.df.schema.fieldIndex)
    val byIdx = by.map(sw.df.schema.fieldIndex)
    val keySchema = StructType(by.map(c => sw.df.schema(c)))
    // Deep-normalize key values so array/binary keys compare structurally
    // (Array[_].== is reference equality; the distributed groupByKey path
    // groups by encoder value semantics).
    def norm(v: Any): Any = v match {
      case a: Array[_] => a.toSeq.map(norm)
      case s: Seq[_]   => s.map(norm)
      case other       => other
    }
    def rawKey(r: Row): Seq[Any] = byIdx.toSeq.map(r.get)
    def keyOf(r: Row): Seq[Any] = rawKey(r).map(norm)
    val keyVals = keyOf(sample.head)
    val keyRow = new GenericRowWithSchema(rawKey(sample.head).toArray, keySchema)
    val sampleRows = sample.iterator
      .filter(r => keyOf(r) == keyVals)
      .map(r => new GenericRowWithSchema(inIdx.map(r.get), in.schema))
      .take(1000).toArray
    val sampleOut = Progress.suppressed { fn(keyRow, sampleRows.iterator).toSeq }
    require(sampleOut.nonEmpty,
      "applyAuto: the sampled group produced no rows (the probe sees only a " +
      "sampled subset of one group) — declare the result schema explicitly " +
      "via apply(outSchema) to skip the probe")
    val width = sampleOut.head.size
    val fieldNames = if (names.nonEmpty) names else (0 until width).map(i => s"c$i")
    val schema = StructType(fieldNames.zipWithIndex.map { case (nm, i) =>
      StructField(nm, TypeInfer.of(sampleOut.map(_.get(i))), nullable = true)
    }.toIndexedSeq)
    apply(schema)(fn)
  }

  /** Scalar-result specialization: one value per group via a built-in
    * aggregate — the `Aggregator` fast path of SURVEY.md §2.1/O4. Stays
    * fully in Catalyst (partial aggregation map-side, codegen). */
  def agg(exprs: Column*): DataFrame = {
    sw.lastStrategy = SwiftStrategy.Vectorized
    appearanceIndex match {
      case None => inputDf.groupBy(by.map(col).toIndexedSeq: _*)
        .agg(exprs.head, exprs.tail: _*)
      case Some(idx) =>
        // sort=False: first-appearance position as a column + result
        // order; min(idx) is one more partial-aggregate on the same
        // exchange as the user's aggregates.
        val base =
          if (dropNulls) df.filter(by.map(col(_).isNotNull).reduce(_ && _))
          else df
        val in = subset.fold(base)(cols =>
          base.select((by ++ cols :+ idx).distinct.map(col).toIndexedSeq: _*))
        in.groupBy(by.map(col).toIndexedSeq: _*)
          .agg(min(col(idx)).as("first_pos"), exprs: _*)
          .orderBy("first_pos")
    }
  }

  /** pandas `groupby(by).transform(agg)`: the group aggregate broadcast
    * back onto EVERY row of the group (same length as the input) — a
    * window aggregate partitioned by the keys: one shuffle on the group
    * key, no self-join, map-side partials; `post` runs after the OVER
    * (e.g. a cast or a per-row combination with the group value). */
  def transform(aggExpr: Column, out: String,
      post: Column => Column = identity): DataFrame = {
    sw.lastStrategy = SwiftStrategy.Vectorized
    val w = org.apache.spark.sql.expressions.Window.partitionBy(by.map(col): _*)
    df.withColumn(out, post(aggExpr.over(w)))
  }
}
