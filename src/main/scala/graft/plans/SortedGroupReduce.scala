package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.mr.MRApp

/** Catalyst-native secondary-sort reduce: the reference's
  * shuffle→sort→streaming-KVIterator protocol (`pkg/mr/mr.go:38-89`,
  * `internal/worker/worker.go:209-211`) as a whole-operator physical plan
  * instead of an RDD `repartitionAndSortWithinPartitions`.
  *
  * The node consumes a `(key: string, value: string)` child and declares
  *   requiredChildDistribution = ClusteredDistribution(key)
  *   requiredChildOrdering     = (key ASC, value ASC)
  * so EnsureRequirements plans the shuffle as a SQL Exchange and the sort
  * as Tungsten's SortExec — radix-prefix, codegen'd comparison, full
  * disk-spill machinery — where the RDD path sorts through the legacy
  * shuffle sorter outside the SQL engine (no AQE partition coalescing, no
  * SQL metrics, opaque to the plan). Execution is then the same
  * adjacent-group scan as [[graft.mr.MapReduceJob.runSecondarySort]]:
  * constant memory per group, a sub-iterator per key handed to the app's
  * `reduceStream`, unconsumed tail drained at each boundary.
  *
  * At 100 TB this is the path that matters: the reduce-side sort is the
  * dominant cost of a MapReduce job, and Tungsten's UnsafeExternalSorter
  * (binary comparisons on UnsafeRow bytes, radix prefixes on the key) is
  * strictly faster and more spill-robust than JVM-object ordering in the
  * RDD shuffle. AQE can also coalesce/split reduce partitions under this
  * exec — impossible on the RDD path's fixed partitioner.
  *
  * Same (c)-tier custom-operator pattern as [[GroupedTopK]]: LogicalPlan +
  * Strategy + UnaryExecNode; the strategy is installed with the session
  * by [[graft.GraftExtensions]].
  */
case class SortedGroupReduce(
    app: MRApp,
    child: LogicalPlan,
    // fresh output: the reduce rewrites both columns, nothing passes
    // through. MUST be a constructor param, not a val — a val would mint
    // NEW exprIds every time an optimizer rule copies the node
    // (withNewChildInternal → copy), orphaning every upstream reference
    // (surfaced as INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when `.rdd` adds a
    // DeserializeToObject above the node).
    override val output: Seq[Attribute] = SortedGroupReduce.freshOutput())
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the reduce consumes BOTH child columns through the app closure, which
  // Catalyst can't see — without this, ColumnPruning under a
  // column-less consumer (count(*)) inserts an empty Project below and
  // the exec's key/value bindings have nothing to bind to
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): SortedGroupReduce =
    copy(child = c)
}

case class SortedGroupReduceExec(
    app: MRApp,
    outputAttrs: Seq[Attribute],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)

  private def keyAttr   = child.output.head
  private def valueAttr = child.output(1)

  /** Co-locate each key's rows — the F5 hash shuffle, planned as a SQL
    * Exchange (AQE-coalescible).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyAttr :: Nil) :: Nil

  /** The F4 map-side sort, strengthened to (key, value) for deterministic
    * reduce input — planned as Tungsten SortExec with its spill machinery.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(keyAttr, Ascending), SortOrder(valueAttr, Ascending)))

  /** Groups are emitted in ascending key order within each partition, and
    * rows stay where the child's exchange put them — a downstream sort or
    * shuffle on `key` must not be re-planned.
    */
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(outputAttrs.head, Ascending))
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning match {
      // the child's hash partitioning is on the child's key attribute;
      // rewrite it onto the output key, which carries the same values
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          if h.expressions == Seq(keyAttr) =>
        h.copy(expressions = Seq(outputAttrs.head))
      case _ => child.outputPartitioning
    }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups"     -> SQLMetrics.createMetric(sparkContext, "number of key groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val appLocal      = app
    val out           = outputAttrs
    val numOutputRows = longMetric("numOutputRows")
    val numGroups     = longMetric("numGroups")
    child.execute().mapPartitions({ it =>
      val outProj = UnsafeProjection.create(out, out)
      val buf     = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      // sorted-run adjacent-group scan, the KVIterator protocol: the
      // operator iterator contract means each InternalRow's buffer is
      // reused, so the group key is copied once per boundary and values
      // are materialized to String only as the app consumes them
      val rows = it.buffered
      new Iterator[Iterator[InternalRow]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Iterator[InternalRow] = {
          val keyCopy: UTF8String = rows.head.getUTF8String(0).copy()
          val group = new Iterator[String] {
            override def hasNext: Boolean =
              rows.hasNext && rows.head.getUTF8String(0) == keyCopy
            override def next(): String = rows.next().getUTF8String(1).toString
          }
          numGroups += 1
          val reduced =
            appLocal.reduceStream(keyCopy.toString, group).map { v =>
              numOutputRows += 1
              buf.update(0, keyCopy)
              buf.update(1, UTF8String.fromString(v))
              outProj(buf)
            }.toVector // materialize before draining: the app may be lazy
          while (group.hasNext) group.next()
          reduced.iterator
        }
      }.flatten
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): SortedGroupReduceExec =
    copy(child = c)
}

object SortedGroupReduceStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SortedGroupReduce(app, child, _) =>
      SortedGroupReduceExec(app, plan.output, planLater(child)) :: Nil
    case _ => Nil
  }
}

object SortedGroupReduce {

  /** One (key, value) output pair, minted once per `reduce` call and then
    * stable across every logical-plan copy.
    */
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  /** Plan `app`'s reduce over a `(key, value)` string pair frame. The
    * shuffle + secondary sort are left to EnsureRequirements — the whole
    * reduce side lives inside the SQL engine.
    */
  def reduce(kvs: DataFrame, app: MRApp): DataFrame = {
    val spark = kvs.sparkSession
    require(kvs.schema.length == 2 &&
      kvs.schema.forall(_.dataType == StringType),
      s"SortedGroupReduce needs a (string key, string value) child, got ${kvs.schema}")
    GraftSqlShims.ofRows(spark, SortedGroupReduce(app, kvs.queryExecution.analyzed))
  }
}
