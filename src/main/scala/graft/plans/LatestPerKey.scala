package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Latest row per key: of every group of rows sharing `keys`, the one
  * with the greatest `versions` tuple — the upsert kernel under every
  * CDC path (batch materialization, mirror merges, mirror reads,
  * changefeed windows, point lookups, folds and purges).
  *
  * Shape: the LSM merge-iterator. The exec declares
  *   - `requiredChildDistribution` = clustered by the keys (one hash
  *     exchange, which AQE coalesces like any other), and
  *   - `requiredChildOrdering` = keys ascending, versions descending
  *     with nulls last (one in-partition sort),
  * then keeps the first row of each key run in a single forward pass:
  * no aggregation buffer, no payload struct, no partial/final pair.
  * `max_by(struct(payload…), struct(version…))` computes the same rows,
  * but a struct buffer plans only as a SortAggregate pair — two sorts
  * and a generated projection per payload schema.
  *
  * The exec passes its child's partitioning and ordering through, so a
  * later key-sorted write or a join on the keys reuses them instead of
  * sorting again. The node's output is its child's, so the optimizer's
  * column pruning reaches through it to the scan.
  *
  * Semantics, pinned against a `row_number()` oracle in
  * `LatestPerKeySpec`:
  *   - versions compare field by field, a null field lowest — the
  *     struct ordering `max_by` used;
  *   - rows tied on every version field (exact redeliveries) may
  *     resolve to either row, as `max_by` may;
  *   - null keys form one group; floating-point keys group as Spark's
  *     aggregates group them (-0.0 = 0.0, NaN = NaN).
  */
case class LatestPerKeyNode(keys: Seq[Expression], versions: Seq[Expression],
                            child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): LatestPerKeyNode = copy(child = newChild)
}

object LatestPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LatestPerKeyNode(keys, versions, child) =>
      LatestPerKeyExec(keys.map(GraftPlanBridge.normalizedKey), versions,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class LatestPerKeyExec(keys: Seq[Expression], versions: Seq[Expression],
                            child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ versions.map(SortOrder(_, Descending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(
      newChild: SparkPlan): LatestPerKeyExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    // locals only: the partition function is shipped without closure
    // cleaning, so it must not capture the plan
    val (keyExprs, input) = (keys, child.output)
    val numOutputRows = longMetric("numOutputRows")
    GraftPlanBridge.mapPartitionsInternal(child.execute()) { rows =>
      val keyOf = UnsafeProjection.create(keyExprs, input)
      // the key of the run being skipped; UnsafeRow equality is byte
      // equality, which matches grouping equality (nulls included)
      var run: UnsafeRow = null
      rows.filter { row =>
        val key = keyOf(row)
        val first = run == null || !run.equals(key)
        if (first) {
          if (run == null) run = key.copy() else run.copyFrom(key)
          numOutputRows += 1
        }
        first
      }
    }
  }
}

/** DataFrame entry point; registers the strategy on the session
  * (idempotent), so plain sessions plan the node too. */
object LatestPerKey {
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(LatestPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ LatestPerKeyStrategy
  }

  /** The newest row of `df` per `keyCols` by the `versionCols` tuple;
    * columns and their order are `df`'s. */
  def apply(df: DataFrame, keyCols: Seq[String],
            versionCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val plan = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String): Attribute =
      plan.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$n' not in ${plan.output.map(_.name).mkString(", ")}"))
    GraftPlanBridge.ofRows(spark,
      LatestPerKeyNode(keyCols.map(attr), versionCols.map(attr), plan))
  }
}
