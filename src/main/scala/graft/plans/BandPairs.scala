package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BasePredicate, Expression, ExpressionSet, IsNotNull, JoinedRow, Predicate, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.AccumulatorV2

/** Banded-LSH candidate pairs in one pass per bucket: a custom logical
  * node, planner strategy and physical operator (the [[TopKPerKey]]
  * pattern, installed at use time through [[Strategies]]).
  *
  * Input: rows (doc_id, band, bucket, pfx, …) as `Dedup.bandRows` makes
  * them, with `pfx` the bucket keys of the bands before `band`. Output:
  * every input column twice, qualified `x` and `y`, one row per pair of
  * rows with equal (band, bucket), different non-null doc ids, oriented
  * `x.doc_id < y.doc_id` (any orderable id type, compared as SQL `<`
  * compares it), and kept only where no position of the two `pfx`
  * arrays agrees (the pair's FIRST agreeing band; the rule of
  * `first_eq_index(x.pfx, y.pfx) = -1`), so a pair colliding in several
  * bands is emitted once.
  *
  * Contract: the exec requires `ClusteredDistribution(bucket, band)` and
  * child ordering on `bucket` alone. A single long sort key is what Spark's
  * radix sort takes; bands sharing a bucket value (MinHash keys are
  * band-salted, SimHash chunks and SRP buckets are not) are told apart
  * inside the run. Each bucket run is buffered in Spark's
  * spillable `ExternalAppendOnlyUnsafeRowArray` (the sort-merge join's
  * buffer, sized by its `spark.sql.sortMergeJoinExec.buffer.*` confs),
  * each member's keys and `pfx` are read once into primitive arrays, and
  * the pair filter runs over those; rows are read back only for the pairs
  * it keeps. Integral ids are compared as longs; ids of any other type are
  * replaced, within the run, by their dense rank under the type's SQL
  * ordering. A singleton run is never buffered. The output streams, so a
  * hot bucket's quadratic pair set is never held. A `Filter` directly
  * above the node is planned into the exec as its `condition` and
  * evaluated on each candidate before the output row is built, as a join
  * condition is: dd04's hamming verify keeps 1 candidate in 6, and at
  * sf0.1 the folded form ran dd04 7% faster than a `FilterExec` above the
  * exec (faster in 5 of 6 interleaved pairs).
  *
  * Metrics: `numCandidates` (pairs kept by the first-band rule),
  * `numOutputRows` (those that also pass `condition`; the candidates where
  * there is none), `numGroups` ((band, bucket) groups of 2+ rows),
  * `maxGroupRows` (the largest group: the hot bucket that bounds a task's
  * pair work) and `spillSize`. Only the executed plan's driver-side
  * `maxGroupRows.value` is the maximum over tasks: the metric is a "sum"
  * `SQLMetric` whose driver-side merge keeps the larger value, so the UI,
  * the event log and any listener that aggregates per-task values show
  * the sum of the tasks' maxima.
  */
case class BandPairsNode(x: Seq[Attribute], y: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = x ++ y
  // the output carries every input column, so column pruning cuts none
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // no pair has a null doc id, so no null filter is inferred above
  override protected lazy val validConstraints: ExpressionSet =
    ExpressionSet(output.filter(_.name == "doc_id").map(IsNotNull))
  // pairs are quadratic in a group: size them as the self-join they
  // replace, so no planner broadcasts the candidate stream
  override def stats: Statistics = {
    val in = child.stats.sizeInBytes
    Statistics(sizeInBytes = in * in)
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): BandPairsNode =
    copy(child = newChild)
}

class BandPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Filter(cond, BandPairsNode(x, y, child)) => BandPairsExec(x, y, Some(cond), planLater(child)) :: Nil
    case BandPairsNode(x, y, child) => BandPairsExec(x, y, None, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class BandPairsExec(
    x: Seq[Attribute],
    y: Seq[Attribute],
    condition: Option[Expression],
    child: SparkPlan) extends UnaryExecNode {
  private def input(name: String): Attribute = child.output.find(_.name == name).get
  override def output: Seq[Attribute] = x ++ y
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(input("bucket"), input("band"))) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(input("bucket"), Ascending)))
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)
  override protected def withNewChildInternal(newChild: SparkPlan): BandPairsExec =
    copy(child = newChild)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidate pairs"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "groups of 2+ rows"),
    "maxGroupRows" -> BandPairs.maxMetric(sparkContext, "rows in the largest group"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val types = in.map(_.dataType).toArray
    val cols = BandPairs.Cols(in.indexOf(input("doc_id")), input("doc_id").dataType,
      in.indexOf(input("band")), in.indexOf(input("bucket")), in.indexOf(input("pfx")))
    val inMemory = conf.sortMergeJoinExecBufferInMemoryThreshold
    val spillRows = conf.sortMergeJoinExecBufferSpillThreshold
    val spillBytes = conf.sortMergeJoinExecBufferSpillSizeThreshold
    val m = BandPairs.Metrics(longMetric("numCandidates"), longMetric("numOutputRows"),
      longMetric("numGroups"), longMetric("maxGroupRows"), longMetric("spillSize"))
    child.execute().mapPartitionsWithIndex { (index, it) =>
      val buf = new ExternalAppendOnlyUnsafeRowArray(inMemory, spillBytes, spillRows, spillBytes)
      val keep = condition.map { cond =>
        val p = Predicate.create(cond, output)
        p.initialize(index)
        p
      }.orNull
      new BandPairsIterator(it, types, cols, buf, keep, m)
    }
  }
}

object BandPairs {
  private[plans] case class Cols(id: Int, idType: DataType, band: Int, bucket: Int, pfx: Int)
  private[plans] case class Metrics(
      candidates: SQLMetric, out: SQLMetric, groups: SQLMetric, maxRows: SQLMetric, spill: SQLMetric)

  /** A task sets its own maximum; the driver-side merge keeps the largest
    * (per-task aggregation by metric type still sums them).
    */
  private final class MaxMetric extends SQLMetric("sum") {
    override def merge(other: AccumulatorV2[Long, Long]): Unit =
      if (other.value > value) set(other.value)
  }

  private[plans] def maxMetric(sc: org.apache.spark.SparkContext, name: String): SQLMetric = {
    val m = new MaxMetric
    sc.register(m, name)
    m
  }

  /** The band pairs of `rows` (see [[BandPairsNode]]): `doc_id` of any
    * orderable type, `band` int, `bucket` bigint, `pfx` array<bigint>.
    */
  def apply(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    Strategies.install(spark, new BandPairsStrategy)
    val in = rows.queryExecution.analyzed
    def check(name: String, ok: DataType => Boolean, want: String): Unit = {
      val a = in.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"BandPairs: no column '$name' in ${in.output.map(_.name).mkString(", ")}"))
      require(ok(a.dataType), s"BandPairs: '$name' must be $want, got ${a.dataType.simpleString}")
    }
    check("doc_id", RowOrdering.isOrderable, "of an orderable type")
    check("band", _ == IntegerType, "int")
    check("bucket", _ == LongType, "bigint")
    check("pfx", { case ArrayType(LongType, _) => true; case _ => false }, "array<bigint>")
    def side(q: String): Seq[Attribute] = in.output.map(a =>
      AttributeReference(a.name, a.dataType, a.nullable, a.metadata)(qualifier = Seq(q)))
    ColumnShim.ofRows(spark, BandPairsNode(side("x"), side("y"), in))
  }
}

/** The pairs of one partition, bucket run by bucket run (see [[BandPairsNode]]). */
private final class BandPairsIterator(
    in: Iterator[InternalRow],
    types: Array[DataType],
    c: BandPairs.Cols,
    buf: ExternalAppendOnlyUnsafeRowArray,
    keep: BasePredicate,
    m: BandPairs.Metrics) extends Iterator[InternalRow] {

  private val toUnsafe = UnsafeProjection.create(types)
  private val result = UnsafeProjection.create(types ++ types)
  private val joined = new JoinedRow
  private val NullBand = Long.MinValue

  // the first row of the next run, copied out of the input's reused buffer
  private val head = new UnsafeRow(types.length)
  private var headBytes = new Array[Byte](256)
  private var hasHead = false

  // the current run: rows in `buf` (once it has two), keys of row k in
  // ids(k), bands(k), pfx(pfxStart(k) until pfxStart(k + 1)). An id of a
  // non-integral type is copied to idVals(k), and ids(k) is its rank.
  private val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(c.idType)
  private val idOrder = if (integral) null else TypeUtils.getInterpretedOrdering(c.idType)
  private var idVals = if (integral) null else new Array[AnyRef](16)
  private var n = 0
  private var ids = new Array[Long](16)
  private var bands = new Array[Long](16)
  private var pairable = new Array[Boolean](16)
  private var pfxStart = new Array[Int](17)
  private var pfx = new Array[Long](256)
  private var scratch = new Array[Long](16)

  // pair cursor (i, j), and the rows of the pair last emitted
  private var i = 0
  private var j = 1
  private var outer: Iterator[UnsafeRow] = _
  private var outerAt = -1
  private var rowI: UnsafeRow = _
  private var inner: Iterator[UnsafeRow] = _
  private var innerFor = -1
  private var innerAt = -1
  private var rowJ: UnsafeRow = _

  private var largest = 0L
  private var done = false
  private var pending: InternalRow = _

  override def hasNext: Boolean = {
    if (pending == null && !done) pending = advance()
    pending != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  private def advance(): InternalRow = {
    while (true) {
      while (i < n) {
        if (pairable(i)) {
          while (j < n) {
            val k = j
            j += 1
            if (pairs(i, k)) {
              val r = emit(i, k)
              if (r != null) return r
            }
          }
        }
        i += 1
        j = i + 1
      }
      if (!nextRun()) {
        m.spill += buf.spillSize
        buf.clear()
        done = true
        return null
      }
    }
    null
  }

  private def pairs(a: Int, b: Int): Boolean =
    pairable(b) && bands(a) == bands(b) && ids(a) != ids(b) && !agreeEarlier(a, b)

  private def agreeEarlier(a: Int, b: Int): Boolean = {
    val sa = pfxStart(a)
    val sb = pfxStart(b)
    val len = math.min(pfxStart(a + 1) - sa, pfxStart(b + 1) - sb)
    var k = 0
    while (k < len) {
      if (pfx(sa + k) == pfx(sb + k)) return true
      k += 1
    }
    false
  }

  /** The output row of candidate (a, b), or null where `keep` rejects it. */
  private def emit(a: Int, b: Int): InternalRow = {
    while (outerAt < a) { rowI = outer.next(); outerAt += 1 }
    if (innerFor != a) { inner = buf.generateIterator(b); innerAt = b - 1; innerFor = a }
    while (innerAt < b) { rowJ = inner.next(); innerAt += 1 }
    m.candidates += 1
    if (ids(a) < ids(b)) joined(rowI, rowJ) else joined(rowJ, rowI)
    if (keep != null && !keep.eval(joined)) return null
    m.out += 1
    result(joined)
  }

  private def unsafe(r: InternalRow): UnsafeRow = r match {
    case u: UnsafeRow => u
    case o => toUnsafe(o)
  }

  private def keepHead(r: UnsafeRow): Unit = {
    val size = r.getSizeInBytes
    if (headBytes.length < size) headBytes = new Array[Byte](math.max(size, 2 * headBytes.length))
    r.writeToMemory(headBytes, Platform.BYTE_ARRAY_OFFSET)
    head.pointTo(headBytes, size)
    hasHead = true
  }

  /** Reads the next run of equal non-null buckets; false at the end. */
  private def nextRun(): Boolean = {
    buf.clear()
    n = 0; i = 0; j = 1
    outer = null; outerAt = -1; inner = null; innerFor = -1
    while (!hasHead && in.hasNext) {
      val r = unsafe(in.next())
      if (!r.isNullAt(c.bucket)) keepHead(r)
    }
    if (!hasHead) return false
    hasHead = false
    val bucket = head.getLong(c.bucket)
    extract(head)
    while (!hasHead && in.hasNext) {
      val r = unsafe(in.next())
      if (!r.isNullAt(c.bucket)) {
        if (r.getLong(c.bucket) == bucket) {
          if (n == 1) buf.add(head)
          buf.add(r)
          extract(r)
        } else keepHead(r)
      }
    }
    if (!integral && n > 1) rankIds()
    countGroups()
    if (n > 1) outer = buf.generateIterator()
    true
  }

  /** Replaces the run's non-null ids by their dense ranks under `idOrder`,
    * so `==` and `<` on ranks are the SQL comparisons of the ids.
    */
  private def rankIds(): Unit = {
    val byId = (0 until n).filter(idVals(_) != null).sortWith((a, b) => idOrder.lt(idVals(a), idVals(b)))
    var rank = 0L
    var k = 0
    while (k < byId.length) {
      if (k > 0 && idOrder.lt(idVals(byId(k - 1)), idVals(byId(k)))) rank += 1
      ids(byId(k)) = rank
      k += 1
    }
  }

  private def extract(r: UnsafeRow): Unit = {
    if (n == ids.length) {
      val cap = 2 * n
      ids = java.util.Arrays.copyOf(ids, cap)
      bands = java.util.Arrays.copyOf(bands, cap)
      pairable = java.util.Arrays.copyOf(pairable, cap)
      pfxStart = java.util.Arrays.copyOf(pfxStart, cap + 1)
      if (!integral) idVals = java.util.Arrays.copyOf(idVals, cap)
    }
    val idNull = r.isNullAt(c.id)
    ids(n) = if (idNull || !integral) 0L else c.idType match {
      case LongType => r.getLong(c.id)
      case IntegerType => r.getInt(c.id).toLong
      case ShortType => r.getShort(c.id).toLong
      case _ => r.getByte(c.id).toLong
    }
    // the row's bytes are reused: keep a copy of a non-integral id
    if (!integral) idVals(n) = if (idNull) null else InternalRow.copyValue(r.get(c.id, c.idType)).asInstanceOf[AnyRef]
    bands(n) = if (r.isNullAt(c.band)) NullBand else r.getInt(c.band).toLong
    var end = pfxStart(n)
    val pfxNull = r.isNullAt(c.pfx)
    if (!pfxNull) {
      val a = r.getArray(c.pfx)
      val len = a.numElements()
      if (end + len > pfx.length) pfx = java.util.Arrays.copyOf(pfx, math.max(end + len, 2 * pfx.length))
      var k = 0
      while (k < len) { pfx(end + k) = a.getLong(k); k += 1 }
      end += len
    }
    pfxStart(n + 1) = end
    pairable(n) = !idNull && bands(n) != NullBand && !pfxNull
    n += 1
  }

  /** Adds the run's (band, bucket) groups to `numGroups` and `maxGroupRows`. */
  private def countGroups(): Unit = {
    if (scratch.length < n) scratch = new Array[Long](math.max(n, 2 * scratch.length))
    var g = 0
    var k = 0
    while (k < n) {
      if (bands(k) != NullBand) { scratch(g) = bands(k); g += 1 }
      k += 1
    }
    if (g > 1) java.util.Arrays.sort(scratch, 0, g)
    var start = 0
    while (start < g) {
      var end = start + 1
      while (end < g && scratch(end) == scratch(start)) end += 1
      val size = end - start
      if (size > 1) m.groups += 1
      if (size > largest) { largest = size; m.maxRows.set(largest) }
      start = end
    }
  }
}
