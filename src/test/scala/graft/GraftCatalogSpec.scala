package graft

import org.apache.spark.sql.functions._

/** The SQL surface: after GraftCatalog.register, every table/view/function
  * is reachable from spark.sql and produces the same results as the
  * DataFrame formulation (same Catalyst plans either way).
  */
class GraftCatalogSpec extends SparkSpec {

  test("SQL over registered views equals the DataFrame ops") {
    GraftCatalog.register(spark, sf)

    val sqlClosed = spark.sql(
      """SELECT id, subject FROM tickets
        |WHERE hs_pipeline_stage = '4' OR hs_ticket_status = 'closed'
        |ORDER BY hs_lastmodifieddate DESC, CAST(id AS BIGINT) LIMIT 50""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dfClosed = crm.CrmOps.ticketsClosed(spark, sf).select("id", "subject")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sqlClosed == dfClosed)

    val sqlJoin = spark.sql(
      """SELECT c.industry, COUNT(*) AS n FROM companies c GROUP BY 1 ORDER BY 1""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val dfJoin = crm.CrmViews.companies(spark, sf)
      .groupBy(col("industry")).agg(count(lit(1)).as("n")).orderBy(col("industry"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sqlJoin == dfJoin)
  }

  test("native vector functions are callable from SQL over the embeddings view") {
    GraftCatalog.register(spark, sf)
    val viaSql = spark.sql(
      """SELECT a.vec_id, vec_l2sq(a.embedding, b.embedding) AS d2
        |FROM embeddings a JOIN embeddings b ON b.vec_id = 0
        |ORDER BY d2, a.vec_id LIMIT 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaDf = ops.Similarity.knnL2(Tables.embeddings(spark, sf), 0L, 5)
      .select(col("vec_id"), col("dist_sq"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql == viaDf)
  }

  test("GraftExtensions injects the same function builders as GraftFunctions.register") {
    // Applying the extensions must register cleanly...
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new plans.GraftExtensions()(ext)
    // ...and the descriptor list mirrors the temp-function surface, so a
    // SQL-first cluster user (spark.sql.extensions=graft.plans.GraftExtensions)
    // can form the vec_l2sq ORDER BY shape without programmatic setup.
    val fns = plans.GraftExtensions.functions
    assert(fns.map(_._1.funcName) == Seq("vec_dot", "vec_l2sq", "feature_hash_embed"))
    val b = fns.map(f => f._1.funcName -> f._3).toMap
    // Raw Catalyst literals — the same shape the SQL parser hands builders.
    import org.apache.spark.sql.catalyst.expressions.Literal
    val args = Seq(Literal.create(Array(1.0f, 2.0f)), Literal.create(Array(3.0f, 4.0f)))
    assert(b("vec_l2sq")(args).isInstanceOf[functions.FloatVecL2Sq])
    assert(b("vec_dot")(args).isInstanceOf[functions.FloatVecDot])
    val fh = b("feature_hash_embed")(Seq(Literal.create("text"), Literal(16)))
    assert(fh.isInstanceOf[graft.vector.FeatureHashEmbed])
  }
}
