package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.connector.Records

/** One registry query: the Spark build over the driver's parquet tables
  * under `dir`, and the equivalent DuckDB SQL over the same tables. Column
  * names and row order are deterministic and identical on both sides. */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracleSql: String)

/** Every query of every family, built once. */
object Registry {

  val byName: Map[String, QueryDef] = index(
    ConnectorQueries.defs ++ TextQueries.defs ++ SamplingQueries.defs ++
      DedupQueries.defs ++ PipelineQueries.defs ++ SimilarityQueries.defs ++
      MultimodalQueries.defs ++ RelationalQueries.defs ++
      StreamingQueries.defs)

  /** Name → definition; a duplicated name throws instead of one entry
    * silently replacing the other. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** The named queries in name order — all of them when `names` is empty.
    * An unknown name throws, listing the known ones. */
  def select(names: Seq[String]): Seq[QueryDef] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unknown queries ${unknown.mkString(", ")}; known: " +
        byName.keys.toSeq.sorted.mkString(", "))
    (if (names.isEmpty) byName.keys else names.distinct)
      .toSeq.sorted.map(byName)
  }
}

/** Table readers and the DuckDB record-model prefix shared by the
  * families. */
private[queries] object Inputs {

  def rec(s: SparkSession, dir: String): DataFrame =
    Records.fromEvents(s, dir)

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Shared DuckDB CTE prefix adapting `events` to the record model. */
  val R = "WITH " + Records.duckRecordsCte + "\n"
}
