package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Future
import scala.jdk.CollectionConverters._

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, BoundReference, DirectShufflePartitionID, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Final, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ShufflePartitionSpec, ShuffledRowRDD, SparkPlan, SQLExecution, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec, ShuffleExchangeLike, ShuffleOrigin}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.ByteArray
import org.apache.spark.util.AccumulatorV2

/** Range bounds for `ORDER BY` over a `GROUP BY` as a by-product of the
  * aggregate's map side, so the total-order sort needs no sampling job.
  *
  * Spark plans `orderBy(cnt, word)` over `groupBy(word).count()` as a
  * `RangePartitioning` exchange whose `RangePartitioner` runs a job of its
  * own to sample: it re-reads the aggregate's shuffle and re-runs the final
  * aggregate. The reference plans its count ranges in closed form with no
  * pass over the data (`MasterNode.java:139-169`). This AQE query-stage
  * preparation rule takes the middle road: the map stage that runs anyway
  * (scan, partial aggregate, hash shuffle write) also draws the sample.
  *
  *  - [[BottomKSampleExec]] passes the partial aggregate's rows through and
  *    keeps, per task, a COORDINATED bottom-k sample: the k distinct group
  *    keys with the smallest 64-bit hash, with their partial counts. A key
  *    in the global bottom-k is in the bottom-k of every task that holds
  *    it, so the driver sums its partial counts into its EXACT final count:
  *    the bounds are quantiles of the real `(cnt, word)` distribution.
  *  - [[SampledRangeExchangeExec]] fixes the bounds once, on the driver,
  *    when its shuffle dependency is built (under AQE: after the map stage
  *    has materialized), and routes rows through Spark's own
  *    `ShufflePartitionIdPassThrough`. It declares `RangePartitioning`, so
  *    the global sort needs no second exchange and AQE still coalesces.
  *
  * The rule fires only on `range exchange ← final HashAggregate ← hash
  * exchange ← partial HashAggregate` whose sort keys read group keys and
  * `count` outputs only; k is Spark's own sample size, 3 ×
  * `spark.sql.execution.rangeExchange.sampleSizePerPartition` × ranges,
  * capped at 1e6. Any bounds give a correct total order (only balance
  * depends on them); a sample that should exist but does not fails with a
  * named guard. Without AQE the rule never runs and Spark's plan stands.
  */
case class RangeBoundsFromAggregate(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(order, n), fin: HashAggregateExec, origin, _)
        if fin.aggregateExpressions.forall(_.mode == Final) && order.forall(_.deterministic) =>
      (fin.child, RangeBoundsFromAggregate.sampleLayout(fin, order)) match {
        case (h @ ShuffleExchangeExec(_: HashPartitioning, partial: HashAggregateExec, _, _),
            Some((sampleOrder, keys, counts))) if partial.aggregateExpressions.forall(_.mode == Partial) =>
          val k = math.min(3L * conf.rangeExchangeSampleSizePerPartition * n, 1000000L).toInt
          val sample = new BottomKSample(k)
          // unnamed: Spark reads a named accumulator's value after every task
          session.sparkContext.register(sample)
          val sampler = BottomKSampleExec(keys, counts, sample, partial)
          SampledRangeExchangeExec(order, n, sampleOrder, keys ++ counts, sample,
            fin.withNewChildren(h.withNewChildren(sampler :: Nil) :: Nil), origin)
        // re-optimization after the map stage materialized: find its sampler
        case (s: ShuffleQueryStageExec, Some((sampleOrder, keys, counts))) => s.shuffle.child match {
          case b: BottomKSampleExec if (b.keys ++ b.counts).map(_.exprId) == (keys ++ counts).map(_.exprId) =>
            SampledRangeExchangeExec(order, n, sampleOrder, keys ++ counts, b.sample, fin, origin)
          case _ => e
        }
        case _ => e
      }
  }
}

object RangeBoundsFromAggregate {
  /** `order` over the final aggregate's output, rewritten over its map
    * side: group keys stay, a `count` output becomes its partial-buffer
    * column (whose per-key sum IS the count). Returns the rewritten order
    * and the sample's schema (group keys, then the count buffers the order
    * reads), or None when a sort key reads anything else.
    */
  def sampleLayout(fin: HashAggregateExec, order: Seq[SortOrder])
      : Option[(Seq[SortOrder], Seq[Attribute], Seq[Attribute])] = {
    val keys = fin.groupingExpressions.map(_.toAttribute)
    val countBuffers = fin.aggregateExpressions.zip(fin.aggregateAttributes).collect {
      case (ae, res) if ae.aggregateFunction.isInstanceOf[Count] =>
        res.exprId -> ae.aggregateFunction.inputAggBufferAttributes.head
    }.toMap
    def resolve(a: Attribute) = keys.find(_.exprId == a.exprId).orElse(countBuffers.get(a.exprId))
    val source = fin.resultExpressions.flatMap {
      case a: Attribute => resolve(a).map(a.exprId -> _)
      case al @ Alias(a: Attribute, _) => resolve(a).map(al.exprId -> _)
      case _ => None
    }.toMap
    val refs = order.flatMap(_.child.references)
    if (keys.isEmpty || !refs.forall(r => source.contains(r.exprId))) None
    else {
      val counts = refs.map(r => source(r.exprId)).filterNot(keys.contains).distinct
      val sampleOrder = order.map(o => o.copy(child = o.child.transform {
        case a: Attribute => source(a.exprId)
      }, sameOrderExpressions = Seq.empty))
      Some((sampleOrder, keys, counts))
    }
  }
}

/** A sampled group key: its 64-bit hash, the key and its (partial) counts. */
final class SampleEntry(val hash: Long, val key: UnsafeRow, val counts: Array[Long]) extends Serializable

object SampleEntry {
  /** Hash order, ties broken by the key bytes: the same total order in every task. */
  val byHash: Ordering[SampleEntry] = new Ordering[SampleEntry] {
    def compare(a: SampleEntry, b: SampleEntry): Int = {
      val c = java.lang.Long.compare(a.hash, b.hash)
      if (c != 0) c else ByteArray.compareBinary(a.key.getBytes, b.key.getBytes)
    }
  }
}

/** The k smallest keys by hash among the entries added, with each key's
  * counts summed. Entries gather unsorted and are compacted (sorted, a
  * key's entries summed, all but the k smallest keys dropped) once 2k have
  * gathered; a key hashing above `threshold` can no longer enter.
  */
final class BottomK(val k: Int) extends Serializable {
  private var entries = new ArrayBuffer[SampleEntry]
  var threshold: Long = Long.MaxValue

  def add(e: SampleEntry): Unit = {
    entries += e
    if (entries.size >= 2 * k) compact()
  }

  def compact(): Array[SampleEntry] = {
    val kept = new ArrayBuffer[SampleEntry](k)
    entries.sorted(SampleEntry.byHash).foreach { e =>
      if (kept.nonEmpty && SampleEntry.byHash.equiv(kept.last, e)) {
        val summed = kept.last.counts.zip(e.counts).map { case (a, b) => a + b }
        kept(kept.size - 1) = new SampleEntry(e.hash, e.key, summed)
      } else if (kept.size < k) kept += e
    }
    entries = kept
    if (kept.size == k) threshold = kept.last.hash
    kept.toArray
  }
}

/** The global bottom-k sample over the map partitions merged so far. A
  * task's copy holds its one partition. A partition merges once: a re-run
  * or speculative copy of a map task draws the same sample and is skipped,
  * and Spark drops the updates of a failed attempt.
  */
final class BottomKSample(val k: Int)
    extends AccumulatorV2[(Int, Array[SampleEntry]), (Int, Array[SampleEntry])] {
  private val parts = new java.util.HashSet[Int]()
  private var sample = new BottomK(k)

  /** Folds in the sample of `newParts`, unless one of them is merged already. */
  private def fold(newParts: Iterable[Int], entries: Iterable[SampleEntry]): Unit =
    if (newParts.forall(p => !parts.contains(p))) {
      newParts.foreach(parts.add)
      entries.foreach(sample.add)
    }

  override def isZero: Boolean = synchronized(parts.isEmpty)
  override def copy(): BottomKSample = synchronized {
    val c = new BottomKSample(k)
    c.fold(parts.asScala, sample.compact()) // entries are never mutated: sharing them is safe
    c
  }
  override def reset(): Unit = synchronized { parts.clear(); sample = new BottomK(k) }
  override def add(v: (Int, Array[SampleEntry])): Unit = synchronized(fold(Seq(v._1), v._2))
  override def merge(other: AccumulatorV2[(Int, Array[SampleEntry]), (Int, Array[SampleEntry])]): Unit =
    other match {
      case o: BottomKSample => synchronized(fold(o.parts.asScala, o.synchronized(o.sample.compact())))
    }
  /** (map partitions merged, the global bottom-k in hash order) */
  override def value: (Int, Array[SampleEntry]) = synchronized((parts.size, sample.compact()))
}

/** Pass-through above the partial aggregate: keeps the task's bottom-k
  * group keys by hash, summing their partial `counts`, and reports them
  * once its input is exhausted. A row hashing above the current k-th costs
  * one codegen'd hash and one compare.
  */
case class BottomKSampleExec(
    keys: Seq[Attribute],
    counts: Seq[Attribute],
    sample: BottomKSample,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String = "BottomKSample"
  override protected def stringArgs: Iterator[Any] = Iterator(keys, counts, sample.k)
  override protected def withNewChildInternal(newChild: SparkPlan): BottomKSampleExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val (keysLocal, kLocal, sampleLocal, in) = (keys, sample.k, sample, child.output)
    val countOrds = counts.map(c => in.indexWhere(_.exprId == c.exprId)).toArray
    child.execute().mapPartitionsWithIndex({ (part, rows) =>
      val hashOf = UnsafeProjection.create(XxHash64(keysLocal, 42L) :: Nil, in)
      val keyOf = UnsafeProjection.create(keysLocal, in)
      val bottom = new BottomK(kLocal)
      var reported = false
      new Iterator[InternalRow] {
        def hasNext: Boolean = rows.hasNext || {
          if (!reported) {
            reported = true
            sampleLocal.add(part -> bottom.compact())
          }
          false
        }
        def next(): InternalRow = {
          val row = rows.next()
          val h = hashOf(row).getLong(0)
          if (h <= bottom.threshold)
            bottom.add(new SampleEntry(h, keyOf(row).copy(), countOrds.map(row.getLong)))
          row
        }
      }
    }, preservesPartitioning = true)
  }
}

/** The range a row falls in: how many of the fixed `bounds` sort before
  * its key (`children` projected from the row, compared under `order`,
  * which is over the key row's ordinals).
  */
case class RangeIndex(children: Seq[Expression], order: Seq[SortOrder], bounds: Array[InternalRow])
    extends Expression with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def toString: String = s"range_index(${children.mkString(", ")}; ${bounds.length} bounds)"
  @transient private lazy val keyOf = UnsafeProjection.create(children)
  @transient private lazy val ordering = new LazilyGeneratedOrdering(order)
  override def eval(input: InternalRow): Any = {
    val key = keyOf(input)
    var (lo, hi) = (0, bounds.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.gt(key, bounds(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): RangeIndex =
    copy(children = newChildren)
}

/** Range exchange whose bounds come from the map side's bottom-k sample
  * (see [[RangeBoundsFromAggregate]]). Publishes `sampledKeys` (keys in the
  * merged global sample) and `rangeBounds` (distinct bounds drawn from it).
  */
case class SampledRangeExchangeExec(
    order: Seq[SortOrder],
    numRanges: Int,
    sampleOrder: Seq[SortOrder],
    sampleSchema: Seq[Attribute],
    sample: BottomKSample,
    child: SparkPlan,
    shuffleOrigin: ShuffleOrigin) extends Exchange with ShuffleExchangeLike {
  override def nodeName: String = "SampledRangeExchange"
  override def outputPartitioning: Partitioning = RangePartitioning(order, numRanges)
  override def advisoryPartitionSize: Option[Long] = None
  override def stringArgs: Iterator[Any] = Iterator(outputPartitioning)
  // the sample's columns live on the map side, not in this node's input
  override def references: AttributeSet = AttributeSet(order.flatMap(_.child.references))
  override protected def withNewChildInternal(newChild: SparkPlan): SampledRangeExchangeExec =
    copy(child = newChild)

  private lazy val writeMetrics = SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics = SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "sampledKeys" -> SQLMetrics.createMetric(sparkContext, "sampled keys"),
    "rangeBounds" -> SQLMetrics.createMetric(sparkContext, "range bounds")) ++ readMetrics ++ writeMetrics

  /** The sort keys over the key row's ordinals. */
  private lazy val keyOrder = sampleOrder.zipWithIndex.map { case (o, i) =>
    SortOrder(BoundReference(i, o.dataType, o.nullable), o.direction, o.nullOrdering, Seq.empty)
  }

  /** Fixed once on the driver: at most `numRanges - 1` evenly spaced
    * quantiles of the merged global bottom-k sample.
    */
  private def bounds(): Array[InternalRow] = {
    val mappers = child.collectFirst {
      case s: ShuffleQueryStageExec if (s.shuffle.child match {
        case b: BottomKSampleExec => b.sample eq sample
        case _ => false
      }) => s.shuffle.numMappers
    }.getOrElse(throw new IllegalStateException(
      "SampledRangeExchange: the aggregate's map stage with its bottom-k sampler has not run"))
    val (merged, global) = sample.value
    if (merged != mappers) throw new IllegalStateException(
      s"SampledRangeExchange: bottom-k samples from $merged of $mappers map tasks; " +
        "refusing to guess range bounds")
    val keyOf = UnsafeProjection.create(sampleOrder.map(_.child), sampleSchema)
    val ordering = new LazilyGeneratedOrdering(keyOrder)
    val points = global.map(e =>
      keyOf(new JoinedRow(e.key, new GenericInternalRow(e.counts.map(c => c: Any)))).copy(): InternalRow)
      .sorted(ordering)
    val picked = if (points.isEmpty) Seq.empty else
      (1 until numRanges).map(i => points(math.ceil(i.toDouble * points.length / numRanges).toInt - 1))
    val bounds = picked.foldLeft(Vector.empty[InternalRow]) { (acc, b) =>
      if (acc.isEmpty || ordering.gt(b, acc.last)) acc :+ b else acc
    }.toArray
    metrics("sampledKeys").set(global.length.toLong)
    metrics("rangeBounds").set(bounds.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(metrics("sampledKeys"), metrics("rangeBounds")))
    bounds
  }

  @transient lazy val inputRDD: RDD[InternalRow] = child.execute()

  @transient lazy val shuffleDependency: ShuffleDependency[Int, InternalRow, InternalRow] = {
    val toRange = ShufflePartitionIdPassThrough(
      DirectShufflePartitionID(RangeIndex(order.map(_.child), keyOrder, bounds())), numRanges)
    ShuffleExchangeExec.prepareShuffleDependency(inputRDD, child.output, toRange,
      new UnsafeRowSerializer(child.output.size, longMetric("dataSize")), writeMetrics)
  }

  @transient override lazy val mapOutputStatisticsFuture =
    if (inputRDD.getNumPartitions == 0) Future.successful(null)
    else ColumnShim.submitMapStage(sparkContext, shuffleDependency)

  override def numMappers: Int = inputRDD.getNumPartitions
  override def numPartitions: Int = numRanges
  override def shuffleId: Int = shuffleDependency.shuffleId
  override def getShuffleRDD(partitionSpecs: Array[ShufflePartitionSpec]): RDD[InternalRow] =
    new ShuffledRowRDD(shuffleDependency, readMetrics, partitionSpecs)
  override def runtimeStatistics: Statistics = Statistics(metrics("dataSize").value,
    Some(metrics(SQLShuffleWriteMetricsReporter.SHUFFLE_RECORDS_WRITTEN).value))

  @transient private lazy val shuffled = new ShuffledRowRDD(shuffleDependency, readMetrics)
  protected override def doExecute(): RDD[InternalRow] = shuffled
}
