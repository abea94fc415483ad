package graft.plans

import graft.operators.PartitionConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The metadata plane (SURVEY.md §2B-1/B2, M3): derive the engine's
  * `PartitionConfig(columnIndex, maxPartitionCount, seed)` from
  *   (a) a hash-partitioning policy document (JSON — the shape returned by
  *       the reference's `.show table T policy partitioning`,
  *       EtlRun.cs:149-159), and
  *   (b) the table's ordered column list (`.show table T` + client-side
  *       IndexOf, EtlRun.cs:160-174).
  *
  * Both steps are DataFrame pipelines, so the same logic serves a config
  * file, a catalog table, or an inline document.
  */
object PartitionPolicy {

  val policySchema: StructType = StructType(Seq(
    StructField("PartitionKeys", ArrayType(StructType(Seq(
      StructField("ColumnName", StringType),
      StructField("Kind", StringType),
      StructField("Properties", StructType(Seq(
        StructField("MaxPartitionCount", IntegerType),
        StructField("Seed", IntegerType))))))))))

  /** B1: policy JSON → (column_name, max_partition_count, seed) rows
    * (one per Hash key; the reference takes the single hash key).
    */
  def parsePolicy(spark: SparkSession, policyJson: String): DataFrame =
    spark.range(1).select(lit(policyJson).as("policy"))
      .select(from_json(col("policy"), policySchema).as("p"))
      .select(explode(col("p.PartitionKeys")).as("k"))
      .filter(col("k.Kind") === "Hash")
      .select(col("k.ColumnName").as("column_name"),
        col("k.Properties.MaxPartitionCount").as("max_partition_count"),
        col("k.Properties.Seed").as("seed"))

  /** B2: resolve the hash column's ordinal against the table's column list
    * and produce the runnable config. Fails loudly when the policy names a
    * column that the schema doesn't have, or when no Hash key exists.
    */
  def resolve(spark: SparkSession, policyJson: String,
              columns: Seq[String]): PartitionConfig = {
    val rows = parsePolicy(spark, policyJson).collect()
    require(rows.nonEmpty, "partitioning policy has no Hash key")
    val r = rows.head
    val name = r.getAs[String]("column_name")
    val idx = columns.indexOf(name)
    require(idx >= 0, s"policy column '$name' not in schema ${columns.mkString(",")}")
    PartitionConfig(idx, r.getAs[Int]("max_partition_count"), r.getAs[Int]("seed"))
  }
}
