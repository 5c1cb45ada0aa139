package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The batch-side halves every persisted ingest gate shares
  * (`LshIndex.ingestBatch`, `IvfIndex.dedupIngest`,
  * `Hash64Index.dedupIngest`): the within-batch exact tier, the survivor
  * filter and the per-doc verdict resolution. They work on a driver-local
  * batch ([[LocalFrame]]) and driver-side id sets — a delivery is bounded
  * by contract, and so is every tier result (at most one id per batch doc).
  */
object GateBatch {

  /** Ids of the within-batch copies that lose: every row sharing `key`
    * with a lower-id row (only the min-id copy proceeds).
    */
  def losers(batch: DataFrame, idCol: String, key: Column): Set[Any] =
    batch.groupBy(key.as("_key"))
      .agg(min(col(idCol)).as("_keep"), collect_list(col(idCol)).as("_ids"))
      .select(explode(col("_ids")).as("_id"), col("_keep"))
      .filter(col("_id") =!= col("_keep"))
      .select(col("_id")).collect().map(_.get(0)).toSet

  /** The rows of `df` whose `idCol` no tier holds — the survivors that
    * append. A null id survives, as it would a left anti-join.
    */
  def survivors(df: DataFrame, idCol: String, dead: Set[Any]): DataFrame =
    df.filter(coalesce(!col(idCol).isin(dead.toSeq: _*), lit(true)))

  /** (id, verdict) for every row of the one-column local frame `ids`,
    * ordered by id: the first tier in `tiers` (priority order) that holds
    * an id decides its verdict; an id in no tier is `ingested`. Each tier
    * is computed over the whole batch, so the resolution equals a chain
    * that hands each tier only the previous tier's survivors — a doc's
    * tier verdict depends on that doc and the resident tables alone.
    */
  def verdicts(ids: DataFrame, tiers: Seq[(String, Set[Any])]): DataFrame = {
    val rows = ids.collect().toSeq.map { r =>
      val id = r.get(0)
      Row(id, tiers.collectFirst { case (v, held) if held(id) => v }.getOrElse("ingested"))
    }
    val schema = StructType(Seq(ids.schema.head, StructField("verdict", StringType, nullable = false)))
    // one partition: the sort then needs no exchange, so reading the
    // report costs one job
    LocalFrame.of(ids.sparkSession, schema, rows).coalesce(1).orderBy(col(ids.columns.head))
  }
}
