package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** All implemented inventory entries, in SURVEY §2 order. */
  def all: Seq[Entry] =
    Core.entries ++ CoreB.entries ++ TextQ.entries ++ VecQ.entries ++
      SketchQ.entries ++ PrepQ.entries ++ LmQ.entries ++ SubstrQ.entries ++
      WebQ.entries ++ LayoutQ.entries ++ SimQ.entries ++ SearchQ.entries ++
      SubQ.entries ++ QualityQ.entries ++ MergeQ.entries ++
      DeltaQ.entries ++ graft.multimodal.Multimodal.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Core.q01(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(e => e.name -> e.run).toMap

  /** DuckDB-equivalent SQL for every SQL-expressible query. */
  def oracleSql: Map[String, String] =
    all.flatMap(e => e.oracle.map(e.name -> _)).toMap
}
