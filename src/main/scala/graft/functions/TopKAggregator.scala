package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed top-k aggregator (SURVEY.md §2.11 "Top-k UDAF"): keeps a bounded
  * buffer of the k best (value desc, id asc) pairs per group instead of
  * sorting the whole group — the map-side-combining form of the
  * reference's per-index top-k + merge (`faiss_manager.py:254-291`). The
  * buffer is at most 2k elements on every executor, so group skew cannot
  * blow memory, and partial aggregation cuts the shuffle to k rows per
  * (partition, key).
  *
  * Pruning is amortized: append until the buffer hits 2k, then one
  * sort+take(k) — O(log k) amortized per row instead of the naive
  * O(k log k) per-row re-sort.
  */
case class ScoredId(value: Double, id: Long)

class TopKByValue(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  private val ord: Ordering[ScoredId] = Ordering.by(s => (-s.value, s.id))
  private def prune(buf: Seq[ScoredId]): Seq[ScoredId] =
    if (buf.size >= 2 * k) buf.sorted(ord).take(k) else buf

  override def zero: Seq[ScoredId] = Seq.empty
  override def reduce(buf: Seq[ScoredId], a: ScoredId): Seq[ScoredId] = prune(buf :+ a)
  override def merge(a: Seq[ScoredId], b: Seq[ScoredId]): Seq[ScoredId] = prune(a ++ b)
  override def finish(buf: Seq[ScoredId]): Seq[ScoredId] = buf.sorted(ord).take(k)
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
}

/** Bounded earliest-k rows per group, ordered (ts asc, id asc) — the
  * association fan-out cap (reference `clients/company_client.py:97`:
  * limit=500 engagements per company) WITHOUT the full per-group window
  * sort: a hot company with 10^8 engagements costs each executor at most a
  * 2k-element buffer, and the map-side partial aggregation means at most k
  * rows per (partition, company) ever reach the shuffle.
  */
case class EngRow(ts: java.sql.Timestamp, engagement_id: Long, etype: String, content: String)

class EarliestKEngagements(k: Int) extends Aggregator[EngRow, Seq[EngRow], Seq[EngRow]] {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  private val ord: Ordering[EngRow] = Ordering.by(e => (e.ts.getTime, e.engagement_id))
  private def prune(buf: Seq[EngRow]): Seq[EngRow] =
    if (buf.size >= 2 * k) buf.sorted(ord).take(k) else buf

  override def zero: Seq[EngRow] = Seq.empty
  // Null-ts rows are EXCLUDED — the same contract as the Catalyst-native
  // EarliestKAgg, so the two forms stay interchangeable (a row without a
  // timestamp has no position in the earliest-k order).
  override def reduce(buf: Seq[EngRow], a: EngRow): Seq[EngRow] =
    if (a.ts == null) buf else prune(buf :+ a)
  override def merge(a: Seq[EngRow], b: Seq[EngRow]): Seq[EngRow] = prune(a ++ b)
  override def finish(buf: Seq[EngRow]): Seq[EngRow] = buf.sorted(ord).take(k)
  override def bufferEncoder: Encoder[Seq[EngRow]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[EngRow]] = ExpressionEncoder()
}

/** Catalyst-native bounded earliest-k (SURVEY §2.11 "TypedImperativeAggregate
  * semantics", realized literally): same bounded-buffer contract as
  * `EarliestKEngagements`, but the buffer is a mutable ArrayBuffer held as a
  * JVM object inside ObjectHashAggregate — no Encoder round-trip per row, no
  * O(buffer) Seq copy per append. Serialization to bytes happens ONLY at the
  * partial/final shuffle boundary. `UTF8String`s are copied on update
  * because eval-time references point into the current scan row's buffer.
  *
  * Contract: rows whose `ts` evaluates to null are EXCLUDED from the
  * buffer (they have no position in the earliest-k order). The UDAF twin
  * `EarliestKEngagements` applies the same rule, so both forms agree; note
  * this differs from a nulls-first `row_number` window, which would rank
  * null-ts rows ahead of everything.
  */
case class EarliestKAgg(
    ts: org.apache.spark.sql.catalyst.expressions.Expression,
    id: org.apache.spark.sql.catalyst.expressions.Expression,
    etype: org.apache.spark.sql.catalyst.expressions.Expression,
    content: org.apache.spark.sql.catalyst.expressions.Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    scala.collection.mutable.ArrayBuffer[(Long, Long, String, String)]] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String
  import scala.collection.mutable.ArrayBuffer

  type Buf = ArrayBuffer[(Long, Long, String, String)]

  override def children: Seq[Expression] = Seq(ts, id, etype, content)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ts", TimestampType), StructField("engagement_id", LongType),
    StructField("etype", StringType), StructField("content", StringType))))

  override def createAggregationBuffer(): Buf = ArrayBuffer.empty

  private def ord: Ordering[(Long, Long, String, String)] =
    Ordering.by(t => (t._1, t._2))

  private def prune(buf: Buf): Buf =
    if (buf.size >= 2 * k) {
      val kept = buf.sorted(ord).take(k)
      buf.clear(); buf ++= kept
    } else buf

  override def update(buf: Buf, input: InternalRow): Buf = {
    val t = ts.eval(input)
    if (t == null) buf
    else {
      buf += ((t.asInstanceOf[Long], id.eval(input).asInstanceOf[Long],
        etype.eval(input).asInstanceOf[UTF8String].toString,
        content.eval(input).asInstanceOf[UTF8String].toString))
      prune(buf)
    }
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1 ++= b2; prune(b1) }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.sorted(ord).take(k).map { case (t, i, e, c) =>
      InternalRow(t, i, UTF8String.fromString(e), UTF8String.fromString(c))
    }.toArray[Any])

  // Strings are length-prefixed raw UTF-8 (writeInt + write(bytes)), NOT
  // writeUTF: modified-UTF-8 caps at 65535 bytes and would throw at the
  // shuffle boundary for long content (e.g. full message bodies).
  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length); out.write(b)
  }
  private def readStr(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt()); in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, i, e, c) =>
      out.writeLong(t); out.writeLong(i); writeStr(out, e); writeStr(out, c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf: Buf = ArrayBuffer.empty
    var i = 0
    while (i < n) {
      buf += ((in.readLong(), in.readLong(), readStr(in), readStr(in)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EarliestKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EarliestKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EarliestKAgg =
    copy(ts = newChildren(0), id = newChildren(1), etype = newChildren(2),
      content = newChildren(3))
  override def prettyName: String = "earliest_k"
}

/** Catalyst-native bounded top-k of (value, id) pairs per group, ordered
  * (value DESC, id ASC) — the generalization of `EarliestKAgg` to a
  * value-ranked ordering, and the native replacement for the `TopKByValue`
  * Encoder-round-trip UDAF on the hot query path. Same bounded-buffer
  * contract: ≤2k JVM tuples per group inside ObjectHashAggregate, one
  * sort+take(k) amortized prune, serialization only at the partial/final
  * shuffle boundary. Rows whose `value` is null are excluded (they have no
  * rank), matching the UDAF twin's non-null input contract.
  */
case class TopKByValueAgg(
    value: org.apache.spark.sql.catalyst.expressions.Expression,
    id: org.apache.spark.sql.catalyst.expressions.Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    scala.collection.mutable.ArrayBuffer[(Double, Long)]] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types._
  import scala.collection.mutable.ArrayBuffer

  type Buf = ArrayBuffer[(Double, Long)]

  override def children: Seq[Expression] = Seq(value, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): Buf = ArrayBuffer.empty

  private def ord: Ordering[(Double, Long)] = Ordering.by(t => (-t._1, t._2))

  private def prune(buf: Buf): Buf =
    if (buf.size >= 2 * k) {
      val kept = buf.sorted(ord).take(k)
      buf.clear(); buf ++= kept
    } else buf

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = value.eval(input)
    if (v == null) buf
    else {
      buf += ((v.asInstanceOf[Double], id.eval(input).asInstanceOf[Long]))
      prune(buf)
    }
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1 ++= b2; prune(b1) }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.sorted(ord).take(k).map { case (v, i) =>
      InternalRow(v, i)
    }.toArray[Any])

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (v, i) => out.writeDouble(v); out.writeLong(i) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf: Buf = ArrayBuffer.empty
    var i = 0
    while (i < n) { buf += ((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByValueAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByValueAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): TopKByValueAgg =
    copy(value = newChildren(0), id = newChildren(1))
  override def prettyName: String = "top_k_by_value"
}

object TopKAggregator {

  /** Catalyst-native bounded top-k column (value DESC, id ASC). */
  def topK(k: Int, value: Column, id: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      TopKByValueAgg(GraftSqlBridge.expression(value), GraftSqlBridge.expression(id), k)
        .toAggregateExpression())
  }

  /** Top-k events per user as flat ranked rows — rides the native
    * `TopKByValueAgg` (ObjectHashAggregate, no per-row Encoder round-trip);
    * the `TopKByValue` UDAF twin stays as the property-tested reference
    * implementation.
    */
  def topEventsPerUser(events: DataFrame, k: Int = 3): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(topK(k, col("value"), col("event_id")).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))
      .orderBy(col("user_id"), col("rank"))

  /** Catalyst-native form of the fan-out cap (preferred): builds the
    * `EarliestKAgg` aggregate expression directly — ObjectHashAggregate
    * keeps the buffer as a JVM object, so there is no per-row Encoder
    * round-trip.
    */
  def earliestK(k: Int, ts: Column, id: Column, etype: Column, content: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      EarliestKAgg(GraftSqlBridge.expression(ts), GraftSqlBridge.expression(id),
        GraftSqlBridge.expression(etype), GraftSqlBridge.expression(content), k)
        .toAggregateExpression())
  }
}
