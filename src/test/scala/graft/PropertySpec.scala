package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.vector.HashingEmbedder

/** ScalaCheck properties for the pure kernels (no SparkSession needed). */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val texts: Gen[String] =
    Gen.listOf(Gen.oneOf("spark", "join", "key", "row", "the", "a", "scan"))
      .map(_.mkString(" "))

  test("embedder: deterministic, fixed-dim, unit-norm (or zero for empty)") {
    check(Prop.forAll(texts) { t =>
      val v1 = HashingEmbedder.embed(t, 64)
      val v2 = HashingEmbedder.embed(t, 64)
      val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
      v1.toSeq == v2.toSeq && v1.length == 64 &&
        (math.abs(norm - 1.0) < 1e-6 || norm == 0.0)
    })
  }

  test("embedder: insensitive to surrounding whitespace") {
    check(Prop.forAll(texts) { t =>
      HashingEmbedder.embed(t, 32).toSeq == HashingEmbedder.embed(s" $t ", 32).toSeq
    })
  }

  test("native earliest-k: partial/serialize/merge path equals global sort take k") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val agg = graft.functions.EarliestKAgg(
      BoundReference(0, TimestampType, nullable = true),
      BoundReference(1, LongType, nullable = false),
      BoundReference(2, StringType, nullable = false),
      BoundReference(3, StringType, nullable = false), k = 5)
    val rows: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 1000L)))
    check(Prop.forAll(rows, Gen.choose(0, 10)) { (xs, splitSeed) =>
      val expected = xs.sortBy(identity).take(5)
      def row(t: Long, i: Long): InternalRow = InternalRow(
        t, i, UTF8String.fromString(s"e$i"), UTF8String.fromString(s"c$t"))
      val (l, r) = xs.partition { case (_, i) => (i + splitSeed) % 3 == 0 }
      // Each side is a partial aggregation; the shuffle boundary is the
      // serialize/deserialize round-trip, exactly as ObjectHashAggregate
      // would drive it.
      val partL = l.foldLeft(agg.createAggregationBuffer()) { case (b, (t, i)) =>
        agg.update(b, row(t, i))
      }
      val partR = r.foldLeft(agg.createAggregationBuffer()) { case (b, (t, i)) =>
        agg.update(b, row(t, i))
      }
      val merged = agg.merge(agg.deserialize(agg.serialize(partL)),
        agg.deserialize(agg.serialize(partR)))
      val out = agg.eval(merged).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map { i =>
        val s = out.getStruct(i, 4); (s.getLong(0), s.getLong(1))
      }.toList
      got == expected
    })
  }

  test("native top-k-by-value: partial/serialize/merge path equals global sort take k") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val agg = graft.functions.TopKByValueAgg(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = false), k = 5)
    val rows: Gen[List[(Double, Long)]] =
      Gen.listOf(Gen.zip(Gen.choose(-100.0, 100.0), Gen.choose(0L, 50L)))
    check(Prop.forAll(rows, Gen.choose(0, 10)) { (xs, splitSeed) =>
      val expected = xs.sortBy { case (v, i) => (-v, i) }.take(5)
      val (l, r) = xs.partition { case (_, i) => (i + splitSeed) % 3 == 0 }
      val partL = l.foldLeft(agg.createAggregationBuffer()) { case (b, (v, i)) =>
        agg.update(b, InternalRow(v, i))
      }
      val partR = r.foldLeft(agg.createAggregationBuffer()) { case (b, (v, i)) =>
        agg.update(b, InternalRow(v, i))
      }
      val merged = agg.merge(agg.deserialize(agg.serialize(partL)),
        agg.deserialize(agg.serialize(partR)))
      val out = agg.eval(merged).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map { i =>
        val s = out.getStruct(i, 2); (s.getDouble(0), s.getLong(1))
      }.toList
      got == expected
    })
  }

  test("native earliest-k: serialize survives >64KB strings and drops null-ts rows like the UDAF") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val agg = graft.functions.EarliestKAgg(
      BoundReference(0, TimestampType, nullable = true),
      BoundReference(1, LongType, nullable = false),
      BoundReference(2, StringType, nullable = false),
      BoundReference(3, StringType, nullable = false), k = 3)
    // writeUTF would throw UTFDataFormatException past 65535 bytes; the
    // length-prefixed encoding must round-trip a long multi-byte body.
    val longBody = "é" * 70000
    val buf = agg.update(agg.createAggregationBuffer(),
      InternalRow(5L, 1L, UTF8String.fromString("EMAIL"), UTF8String.fromString(longBody)))
    val rt = agg.deserialize(agg.serialize(buf))
    assert(rt.size == 1 && rt.head._4 == longBody)
    // Null-ts rows are excluded by contract (documented in the scaladoc).
    val afterNull = agg.update(rt,
      InternalRow(null, 2L, UTF8String.fromString("CALL"), UTF8String.fromString("x")))
    assert(afterNull.size == 1)
  }

  private val tokenStreams: Gen[List[String]] =
    Gen.listOf(Gen.frequency(
      (8, Gen.oneOf("a", "b")),
      (4, Gen.oneOf("c", "d", "e")),
      (1, Gen.choose(0, 50).map("rare" + _))))

  test("misra-gries: guarantees hold under any partitioning and merge order") {
    check(Prop.forAll(tokenStreams, Gen.choose(1, 6), Gen.choose(1, 5)) { (xs, cap, nParts) =>
      val agg = new graft.functions.MisraGries(cap)
      val parts = xs.zipWithIndex.groupBy(_._2 % nParts).values.toList
        .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val est = agg.finish(parts.foldLeft(agg.zero)(agg.merge))
      val estRev = agg.finish(parts.reverse.foldLeft(agg.zero)(agg.merge))
      val exact = xs.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val n = xs.size.toLong
      // integer-exact forms of the n/(cap+1) guarantees
      est.size <= cap &&
        exact.forall { case (w, c) => c * (cap + 1) <= n || est.contains(w) } &&
        est.forall { case (w, e) => e <= exact(w) && (exact(w) - e) * (cap + 1) <= n } &&
        estRev.size <= cap &&
        exact.forall { case (w, c) => c * (cap + 1) <= n || estRev.contains(w) } &&
        estRev.forall { case (w, e) => e <= exact(w) && (exact(w) - e) * (cap + 1) <= n }
    })
  }
}
