package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Catalyst-native bounded earliest-k rows per group, ordered (ts asc, id
  * asc) — the association fan-out cap (reference
  * `clients/company_client.py:97`: limit=500 engagements per company)
  * WITHOUT the full per-group window sort (SURVEY §2.11
  * "TypedImperativeAggregate semantics", realized literally). A hot company
  * with 10^8 engagements costs each executor at most a 2k-element buffer,
  * and the map-side partial aggregation means at most k rows per
  * (partition, company) ever reach the shuffle. The buffer is a mutable
  * ArrayBuffer held as a JVM object inside ObjectHashAggregate — no Encoder
  * round-trip per row, no O(buffer) Seq copy per append; pruning is
  * amortized (append until 2k, then one sort+take(k)). Serialization to
  * bytes happens ONLY at the partial/final shuffle boundary. `UTF8String`s
  * are copied on update because eval-time references point into the
  * current scan row's buffer.
  *
  * Contract: rows whose `ts` evaluates to null are EXCLUDED from the
  * buffer (they have no position in the earliest-k order); note this
  * differs from a nulls-first `row_number` window, which would rank
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
  * value-ranked ordering, and the map-side-combining form of the
  * reference's per-index top-k + merge (`faiss_manager.py:254-291`). Same
  * bounded-buffer contract: ≤2k JVM tuples per group inside
  * ObjectHashAggregate, so group skew cannot blow memory, one sort+take(k)
  * amortized prune, serialization only at the partial/final shuffle
  * boundary. Rows whose `value` is null are excluded (they have no rank).
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
    * `TopKByValueAgg` (ObjectHashAggregate, no per-row Encoder round-trip).
    */
  def topEventsPerUser(events: DataFrame, k: Int = 3): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(topK(k, col("value"), col("event_id")).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))
      .orderBy(col("user_id"), col("rank"))

  /** The fan-out cap as a column: builds the
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
