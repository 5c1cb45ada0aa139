package graftbench

import java.sql.{Date, Timestamp}
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Seeded input generators. Every input the program receives comes from
  * here: the same seed gives the same rows, byte for byte; a different seed
  * gives different rows. Shapes follow the repository's fixture tables (FIXTURES.md §A).
  */
object Gen {
  /** One independent stream per (seed, purpose, index). */
  def rng(seed: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 17L)

  /** The fixture corpus's 30-word vocabulary. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  val Langs: Array[String] = Array("en", "en", "en", "zh", "es", "fr", "de")
  val Dim = 64

  def words(r: Random, n: Int): Seq[String] = Seq.fill(n)(Vocab(r.nextInt(Vocab.length)))

  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  // ---- CRM star schema (the tables the CRM views derive from) -------------

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int)
  /** A fifth of the sf0.01 fixture sizes (lineitem ~12k rows): tool calls
    * cost per-call fixed work, so table size barely moves their latency.
    */
  val CrmSizes: Sizes = Sizes(customers = 300, suppliers = 50, parts = 400,
    orders = 3000, events = 2000)

  private val Day0 = java.time.LocalDate.of(1995, 1, 1)
  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(Day0.plusDays(day.toLong).atStartOfDay())

  def lineitem(spark: SparkSession, seed: Long, orders: Int, suppliers: Int,
      parts: Int): (DataFrame, Long) = {
    import spark.implicits._
    val r = rng(seed, 7)
    val flags = Array(("A", "O"), ("N", "F"), ("R", "O"), ("N", "O"), ("A", "F"), ("R", "F"))
    val rows = (0 until orders).flatMap { o =>
      val day = rng(seed, 1000000L + o).nextInt(2404)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        val (rf, ls) = flags(r.nextInt(flags.length))
        (o.toLong, r.nextInt(parts).toLong, r.nextInt(suppliers).toLong, ln, qty,
          math.round(qty * (900 + r.nextInt(200000) / 100.0) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, rf, ls, ts(day + 1 + r.nextInt(120)))
      }
    }
    (rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      rows.size.toLong)
  }

  /** Writes region, nation, customer, supplier, part, orders, lineitem and
    * events under `dir`; returns row counts per table (counted as generated,
    * so writing costs no read-back job).
    */
  def writeCrm(spark: SparkSession, seed: Long, dir: String,
      n: Sizes = CrmSizes): Map[String, Long] = {
    import spark.implicits._
    val segs = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val status = Array("O", "F", "P")
    val r = rng(seed, 1)
    def money(max: Int) = r.nextInt(max * 100) / 100.0
    def table[T <: Product : TypeTag](rows: Seq[T], cols: String*): (DataFrame, Long) =
      (rows.toDF(cols: _*), rows.size.toLong)
    val tables: Seq[(String, (DataFrame, Long))] = Seq(
      "region" -> table(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => (i, nm) }, "r_regionkey", "r_name"),
      "nation" -> table((0 until 25).map(i => (i, s"NATION_$i", i % 5)),
        "n_nationkey", "n_name", "n_regionkey"),
      "customer" -> table((0 until n.customers).map(k => (k.toLong, f"Customer#$k%09d",
          r.nextInt(25), money(11000) - 1000, segs(r.nextInt(segs.length)))),
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> table((0 until n.suppliers).map(k => (k.toLong, f"Supplier#$k%09d",
          r.nextInt(25), money(11000) - 1000)),
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> table((0 until n.parts).map { k =>
          val types = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
          (k.toLong, s"${Vocab(r.nextInt(30))} ${Vocab(r.nextInt(30))}",
            s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)),
            1 + r.nextInt(50), 900 + k / 10.0)
        }, "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> table((0 until n.orders).map { k =>
          val pri = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          (k.toLong, r.nextInt(n.customers).toLong, status(r.nextInt(3)),
            1000 + money(499000), ts(rng(seed, 1000000L + k).nextInt(2404)),
            pri(r.nextInt(pri.length)))
        }, "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority"),
      "lineitem" -> lineitem(spark, seed, n.orders, n.suppliers, n.parts),
      "events" -> table((0 until n.events).map { k =>
          val types = Array("signup", "click", "error", "view", "purchase")
          (k.toLong, new Timestamp(1704067200000L + r.nextInt(30 * 86400) * 1000L +
            r.nextInt(1000)), r.nextInt(n.customers).toLong, types(r.nextInt(types.length)),
            money(560), s"""{"k": ${r.nextInt(100)}}""")
        }, "event_id", "ts", "user_id", "event_type", "value", "props"))
    tables.map { case (name, (df, rows)) =>
      write(df, s"$dir/$name.parquet")
      name -> rows
    }.toMap
  }

  // ---- documents, embeddings, images ---------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  def doc(id: Long, text: String, r: Random): Doc =
    Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)

  /** Resident corpus for the ingest gates. Every doc with id % 4 == 0 is
    * "plantable": 100-140 words ending in an `x y x y` run, so appending `x`
    * re-uses an existing 3-shingle and yields a different text with the
    * IDENTICAL shingle set (Jaccard 1: every LSH band collides, so the near-dup
    * verdict is certain, not probabilistic).
    */
  def residentDocs(seed: Long, n: Int): Seq[Doc] = (0 until n).map { i =>
    val r = rng(seed, 2000000L + i)
    val text =
      if (i % 4 == 0) {
        val x = Vocab(r.nextInt(15))
        val y = Vocab(15 + r.nextInt(15))
        (words(r, 96 + r.nextInt(40)) ++ Seq(x, y, x, y)).mkString(" ")
      } else words(r, 8 + r.nextInt(80)).mkString(" ")
    doc(i.toLong, text, r)
  }

  /** Corpus for the batch pipeline: `n` random docs, one in 20 a near copy
    * of an earlier doc (two words replaced), so dedup has clusters to find.
    */
  def corpusDocs(seed: Long, n: Int): Seq[Doc] = {
    val out = new Array[Doc](n)
    (0 until n).foreach { i =>
      val r = rng(seed, 3000000L + i)
      val text =
        if (i > 10 && i % 20 == 0) {
          val w = out(r.nextInt(i)).text.split(" ")
          w(r.nextInt(w.length)) = Vocab(r.nextInt(30))
          w(r.nextInt(w.length)) = Vocab(r.nextInt(30))
          w.mkString(" ")
        } else words(r, 8 + r.nextInt(90)).mkString(" ")
      out(i) = doc(i.toLong, text, r)
    }
    out.toSeq
  }

  def randomVec(r: Random): Array[Float] = Array.fill(Dim)((r.nextGaussian() / 8).toFloat)

  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  /** `n` random 64-d vectors; one in 25 a near copy (tiny noise) of an
    * earlier one, so semantic dedup has pairs above 0.95 cosine.
    */
  def embeddings(seed: Long, n: Int, salt: Long = 4000000L): Seq[Emb] = {
    val out = new Array[Emb](n)
    (0 until n).foreach { i =>
      val r = rng(seed, salt + i)
      val v =
        if (i > 10 && i % 25 == 0) out(r.nextInt(i)).embedding.map(x =>
          x + (r.nextGaussian() * 1e-3).toFloat)
        else randomVec(r)
      out(i) = Emb(i.toLong, v, r.nextInt(10))
    }
    out.toSeq
  }

  /** 16×16 gray pixels, uniformly random per (seed, id). */
  def pixels(seed: Long, id: Long): Array[Int] = {
    val r = rng(seed, 5000000L + id)
    Array.fill(256)(r.nextInt(256))
  }

  /** Amplify a corpus `reps`× with perturbed replicas, not copies: replica r
    * tags every 3rd word with `_r`, so replicas share no shingle across
    * replica boundaries while each replica keeps the corpus's own dup
    * structure.
    */
  def amplifyDocs(docs: Seq[Doc], reps: Int): Seq[Doc] =
    docs ++ (1 until reps).flatMap { rep =>
      docs.map { d =>
        val t = d.text.split(" ").zipWithIndex
          .map { case (w, i) => if (i % 3 == 0) s"${w}_$rep" else w }.mkString(" ")
        d.copy(doc_id = d.doc_id + rep * 10000000L, text = t, n_chars = t.length.toLong)
      }
    }

  /** Amplify embeddings `reps`× by rotating dimensions (replica r shifts by
    * r): inner products within a replica are preserved, across replicas
    * they scatter.
    */
  def amplifyEmb(embs: Seq[Emb], reps: Int): Seq[Emb] =
    embs ++ (1 until reps).flatMap { rep =>
      embs.map(e => e.copy(vec_id = e.vec_id + rep * 10000000L,
        embedding = e.embedding.drop(rep % Dim) ++ e.embedding.take(rep % Dim)))
    }

  /** Digest of a written table's rows, read back in file order. Parquet
    * file bytes are no use here: the footer lists each column's encodings
    * in a JVM-dependent order.
    */
  def rowDigest(spark: SparkSession, path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    spark.read.parquet(path).collect().foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def date(day: Int): Date = Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(day.toLong))
}
