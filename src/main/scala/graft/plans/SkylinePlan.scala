package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftPlanBridge
import org.apache.spark.sql.types.DoubleType

/** Skyline (Pareto dominance) as a first-class Catalyst operator — the full
  * custom-plan rung from SURVEY §2.11(c): a logical node, a planner
  * strategy, and a physical operator, injected via
  * [[graft.functions.GraftExtensions]] (mirroring how the reference wires
  * `IcebergSparkSessionExtensions`, `create_iceberg_tables.py:127`).
  *
  * Semantics are identical to the composed `mapPartitions` form
  * (`graft.operators.Skyline`, kept in the test tree as the semantics
  * reference SkylinePlanSuite checks parity against):
  * a row is on the skyline iff no other row is ≥ on every dimension and > on
  * at least one; rows with NULL/NaN dimensions are excluded up front.
  *
  * What plan integration buys over the composed form:
  *   - the operator shows in `explain()` as `GraftSkyline`, auditable like
  *     any other node;
  *   - the node declares its dimension columns as expressions, so Catalyst's
  *     own `ColumnPruning` pushes a narrowing Project *through* the skyline
  *     down to the scan (`ReadSchema` shrinks) — the `mapPartitions` form is
  *     an opaque lambda that forces every column to be materialized;
  *   - rules keep optimizing above and below the node, because the plan
  *     stays declarative end-to-end.
  *
  * (An earlier draft carried the dims as bare strings: invisible to
  * `references`, so generic column pruning *removed* the dimension columns
  * under the node. Custom nodes must declare every column they consume as
  * expressions — that contract is what makes stock optimizer rules safe.)
  *
  * Physical execution is the canonical two-phase scheme: a dominance filter
  * per child partition (embarrassingly parallel, removes almost all rows),
  * then the same filter over the union of the tiny local skylines.
  */
object SkylinePlan {

  /** Logical skyline node: output schema = child schema, rows filtered to
    * the Pareto front over `dims` (all maximized). `dims` are resolved
    * attributes of `child` so optimizer rules see them as required. */
  final case class SkylineNode(dims: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(newChild: LogicalPlan): SkylineNode =
      copy(child = newChild)
  }

  /** Plans [[SkylineNode]] as [[SkylineExec]]. */
  object SkylineStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case SkylineNode(dims, child) => SkylineExec(dims, planLater(child)) :: Nil
      case _ => Nil
    }
  }

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

  /** Dominance filter over one partition. Retained rows are copied —
    * upstream operators reuse the `InternalRow` buffer between rows. Rows
    * with a NULL or NaN dimension are dropped (dominance undefined). */
  private def localSkyline(rows: Iterator[InternalRow], dimIdx: Array[Int]): Iterator[InternalRow] = {
    val kept = ArrayBuffer.empty[(InternalRow, Array[Double])]
    rows.foreach { r =>
      val v = new Array[Double](dimIdx.length)
      var ok = true
      var j = 0
      while (j < dimIdx.length && ok) {
        val i = dimIdx(j)
        if (r.isNullAt(i)) ok = false
        else {
          val d = r.getDouble(i)
          if (java.lang.Double.isNaN(d)) ok = false else v(j) = d
        }
        j += 1
      }
      if (ok) {
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
          kept += ((r.copy(), v))
        }
      }
    }
    kept.iterator.map(_._1)
  }

  /** Multi-phase physical skyline: a dominance filter per child partition,
    * a tree-reduce middle level (√P partitions) when the child is wide,
    * then the final single-partition merge. For independent dims local
    * skylines are ≈ O((ln N)^(d-1)) and the merge is trivial; the middle
    * level bounds the final task's input even when anti-correlated dims
    * make the skyline itself O(N) — no single task ever merges more than
    * √P raw partition outputs' survivors. */
  final case class SkylineExec(dims: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def nodeName: String = "GraftSkyline"
    // The produced RDD genuinely has one partition: declare it, or
    // EnsureRequirements would elide exchanges based on the CHILD's
    // distribution while the runtime partition count is 1.
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    override protected def withNewChildInternal(newChild: SparkPlan): SkylineExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val dimIdx = dims.map { a =>
        val i = child.output.indexWhere(_.exprId == a.exprId)
        require(i >= 0, s"skyline dimension $a not in child output ${child.output}")
        require(child.output(i).dataType == DoubleType,
          s"skyline dimension ${a.name} must be DOUBLE, got ${child.output(i).dataType}")
        i
      }.toArray
      val local = child.execute().mapPartitions(it => localSkyline(it, dimIdx))
      val p = local.getNumPartitions
      val reduced =
        if (p <= 4) local
        else local.coalesce(math.max(2, math.sqrt(p.toDouble).toInt))
          .mapPartitions(it => localSkyline(it, dimIdx))
      reduced.coalesce(1).mapPartitions(it => localSkyline(it, dimIdx))
    }
  }

  private val registerLock = new Object

  /** Idempotent programmatic registration (for sessions built without the
    * `spark.sql.extensions=graft.functions.GraftExtensions` config).
    * Synchronized: concurrent first calls on a shared session would both
    * pass the contains-check and append the strategy twice. */
  def register(spark: SparkSession): Unit = registerLock.synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(SkylineStrategy))
      exp.extraStrategies = exp.extraStrategies :+ SkylineStrategy
  }

  /** Resolve dim names against an analyzed plan's output. */
  def node(plan: LogicalPlan, dims: Seq[String]): SkylineNode = {
    val attrs = dims.map { d =>
      plan.output.find(_.name == d).getOrElse(
        throw new IllegalArgumentException(
          s"skyline dimension $d not found in ${plan.output.map(_.name)}"))
    }
    SkylineNode(attrs, plan)
  }

  /** Skyline of `df` maximizing the given DOUBLE columns (negate a column to
    * minimize). */
  def skyline(df: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "at least one skyline dimension required")
    dims.foreach { d =>
      require(df.schema(d).dataType == DoubleType, s"dimension $d must be DOUBLE (cast first)")
    }
    register(df.sparkSession)
    GraftPlanBridge.ofRows(df.sparkSession, node(df.queryExecution.analyzed, dims))
  }
}
