package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Distributed skyline (Pareto-dominance) operator composed from
  * DataFrame `mapPartitions` passes — the reference twin the
  * plan-integrated [[graft.plans.SkylinePlan]] (which q29 runs) is checked
  * against in SkylinePlanSuite. Pattern after the skyline-on-Spark
  * literature (e.g. "Integration of Skyline Queries into Spark SQL",
  * EDBT 2023 — referenced in PAPERS.md).
  *
  * A row is on the skyline iff no other row is ≥ on every dimension and
  * > on at least one (all dimensions maximized; negate a column to
  * minimize it).
  *
  * Tree execution, the canonical distributed scheme:
  *   1. local skyline per partition (`mapPartitions`, dominance filter) —
  *      embarrassingly parallel, removes the vast majority of rows;
  *   2. a √P-way MIDDLE merge level (candidates repartitioned into √P
  *      tasks, dominance-filtered again) whenever the input had more than
  *      a handful of partitions — so anti-correlated dimensions, whose
  *      per-partition fronts stay large, are reduced in parallel instead
  *      of serially in one final task (the same √P tree
  *      [[graft.plans.SkylinePlan]] plans for the registered q29);
  *   3. global skyline over the union of middle candidates in one task.
  * The final task's input is the union of √P middle skylines — for
  * d-dimensional independent dims each is ≈ O((ln N)^(d-1)), and a
  * pathological all-on-the-front distribution degrades to the true skyline
  * size, which is the result itself.
  */
object Skyline {

  /** Dominance: a ≥ b everywhere and > somewhere (shared-prefix dims). */
  private def dominates(a: Array[Double], b: Array[Double]): Boolean = {
    var i = 0
    var strict = false
    while (i < a.length) {
      if (a(i) < b(i)) return false
      if (a(i) > b(i)) strict = true
      i += 1
    }
    strict
  }

  private def localSkyline(rows: Iterator[Row], dimIdx: Array[Int]): Iterator[Row] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Row, Array[Double])]
    rows.foreach { r =>
      val v = dimIdx.map(i => r.getDouble(i))
      var dominated = false
      var i = 0
      while (i < kept.length && !dominated) {
        if (dominates(kept(i)._2, v)) dominated = true
        i += 1
      }
      if (!dominated) {
        val survivors = kept.filterNot { case (_, kv) => dominates(v, kv) }
        kept.clear()
        kept ++= survivors
        kept += ((r, v))
      }
    }
    kept.iterator.map(_._1)
  }

  /** Skyline of `df` maximizing the given numeric columns (cast to double
    * before calling; negate a column to minimize).
    *
    * Rows with a NULL or NaN in any dimension are excluded up front:
    * dominance is undefined for them (NULL would NPE in the row accessor,
    * NaN compares false both ways and would silently survive every filter).
    */
  def skyline(df: DataFrame, dims: Seq[String]): DataFrame = {
    val schema = df.schema
    val dimIdx = dims.map(schema.fieldIndex).toArray
    require(dimIdx.nonEmpty, "at least one skyline dimension required")
    import org.apache.spark.sql.functions.{col, isnan, not}
    val clean = df.na.drop(dims).filter(dims.map(c => not(isnan(col(c)))).reduce(_ && _))
    val enc = Encoders.row(schema)
    val local = clean.mapPartitions(it => localSkyline(it, dimIdx))(enc)
    // √P middle merge level (see the class doc): only worth its shuffle of
    // the (small) candidate set when there are enough partitions for the
    // final task to otherwise become the bottleneck.
    val parts = clean.rdd.getNumPartitions
    val mid = math.max(1, math.sqrt(parts.toDouble).round.toInt)
    val merged =
      if (parts <= 4) local
      else local.repartition(mid).mapPartitions(it => localSkyline(it, dimIdx))(enc)
    merged.coalesce(1).mapPartitions(it => localSkyline(it, dimIdx))(enc)
  }
}
