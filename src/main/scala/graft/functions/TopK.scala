package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state top-k entries ordered best-first: highest score, ties
  * broken by LOWEST id (matching `ORDER BY score DESC, id` rank
  * semantics everywhere in the similarity surface).
  */
private[graft] object TopK {
  /** "Worse" ranks greater: lower score, then higher id. A max-heap
    * under this ordering keeps the worst entry at the head for O(log k)
    * eviction.
    */
  object WorstFirst extends Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  final class Buffer(val k: Int) {
    val heap = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(WorstFirst)
    def add(score: Double, id: Long): Unit = {
      if (heap.size < k) heap.enqueue((score, id))
      else if (WorstFirst.compare((score, id), heap.head) < 0) {
        heap.dequeue(); heap.enqueue((score, id))
      }
    }
    def sortedBestFirst: Array[(Double, Long)] = heap.toArray.sorted(WorstFirst)
  }
}

/** `topk_score_id(score, id, k)` — per-group top-k as a
  * TypedImperativeAggregate with a BOUNDED k-entry heap buffer.
  *
  * Why it exists: the ANN queries need "top-k candidates per query".
  * The `row_number().over(Window.partitionBy(q))` spelling shuffles
  * EVERY candidate row to the query's reducer before discarding all
  * but k — fine for a 10-query batch, quadratic pain at a million
  * queries over 100 TB of candidates. As an aggregate, partial
  * aggregation applies: each map task sends at most k (score, id)
  * pairs per group into the shuffle, so shuffle volume is
  * O(groups × k × partitions-touched) regardless of candidate count.
  *
  * Semantics: entries ordered by score DESC, id ASC (the engine-wide
  * rank tie-break); null score or id contributes nothing. Returns
  * `array<struct<score:double, id:bigint>>`, possibly empty, never
  * null — `posexplode` of the result reconstructs (rank-1, score, id)
  * rows exactly like the window spelling.
  *
  * k must be a foldable non-negative int (it is baked into every
  * partial buffer).
  */
case class TopKScoreId(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_score_id: score must be DOUBLE, got ${score.dataType.catalogString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_score_id: id must be BIGINT, got ${id.dataType.catalogString}")
    else if (!kExpr.foldable ||
        !Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure("topk_score_id: k must be a foldable int")
    else if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Number].intValue() < 0)
      TypeCheckResult.TypeCheckFailure("topk_score_id: k must be >= 0")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): TopK.Buffer = new TopK.Buffer(k)

  override def update(buf: TopK.Buffer, input: InternalRow): TopK.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopK.Buffer, other: TopK.Buffer): TopK.Buffer = {
    other.heap.foreach { case (s, i) => buf.add(s, i) }
    buf
  }

  override def eval(buf: TopK.Buffer): Any =
    new GenericArrayData(buf.sortedBestFirst.map { case (s, i) =>
      InternalRow(s, i): Any
    })

  override def serialize(buf: TopK.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.heap.size)
    buf.heap.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopK.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopK.Buffer(in.readInt())
    var n = in.readInt()
    while (n > 0) { buf.add(in.readDouble(), in.readLong()); n -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoreId =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScoreId =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))

  override def prettyName: String = "topk_score_id"
}

object TopKScoreId {
  val fnId: FunctionIdentifier = FunctionIdentifier("topk_score_id")
  val info = new ExpressionInfo(classOf[TopKScoreId].getName, "topk_score_id")
  val builder: Seq[Expression] => Expression =
    es => TopKScoreId(es.head, es(1), es(2))
}
