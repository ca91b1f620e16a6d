package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{OutputField, OutputFieldEncodingType => Enc, OutputFieldType => F}
import graft.connector.{OutputFields, Records}
import graft.queries.Registry

/** Driver contract — see SURVEY.md §7.
  *
  * Each `queries` entry re-expresses one operator from SURVEY.md §2 (the
  * reference S3-sink-connector surface) or one training-data-pipeline
  * operator as a batch DataFrame query over the driver's parquet tables;
  * `oracleSql` holds the equivalent DuckDB SQL. Both are views of
  * [[graft.queries.Registry]], where each query sits beside its oracle in
  * its family's file.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 minimum end-to-end slice): events →
    * canonical records → grouped by (topic, partition) → base64 CSV lines
    * with rendered `{{topic}}-{{partition}}-{{start_offset}}.gz` file names.
    */
  def entry(spark: SparkSession): DataFrame = {
    val records = Records.fromEvents(spark, "/root/testdata/sf0.001")
    val fields = Seq(
      OutputField(F.Value, Enc.Base64), OutputField(F.Key, Enc.Base64),
      OutputField(F.Timestamp, Enc.None), OutputField(F.Offset, Enc.None))
    val w = Window.partitionBy(col("topic"), col("partition"))
    records
      .withColumn("_start_offset", min(col("offset")).over(w))
      .select(
        concat(col("topic"), lit("-"), col("partition"), lit("-"),
          lpad(col("_start_offset").cast(StringType), 20, "0"), lit(".gz"))
          .as("filename"),
        OutputFields.csvLine(fields).as("line"))
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (n, d) => n -> d.build }

  lazy val oracleSql: Map[String, String] =
    Registry.byName.map { case (n, d) => n -> d.oracleSql }
}
