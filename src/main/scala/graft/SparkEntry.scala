package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOf, Bpe, Curation, Dedup, EventAnalytics, Multimodal, RangeJoin, Relational, Similarity, Skew, Solar, TextAnalysis, Windows}
import graft.sources.Tables
/** Driver contract — see SURVEY.md §7.
  *
  * Every query is a pure function (SparkSession, sfDir) => DataFrame whose
  * column names match its DuckDB oracle exactly (the driver sorts columns by
  * name before hashing). Double-typed outputs are rounded (4 decimals, or 1
  * where the reference itself rounds) in BOTH engines so that
  * summation-order nondeterminism in parallel sums can't flip the hash.
  */
object SparkEntry extends EntryShared with EntryQueries
    with EntryOraclesA with EntryOraclesB {


  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q08_flagship_anomalies")(spark, "/root/testdata/sf0.001")

  /** Public hook for the fuzzer's MV kind: build + register the q188
    * documents summary for this (session, dir) so generated rollups run
    * THROUGH the MvRewrite rule.
    */
  def ensureMvRegistered(spark: SparkSession, dir: String): Unit = {
    mvShared(spark, dir); ()
  }

  /** Every query's DuckDB oracle over `dir`. The learned-model oracles
    * (q118, q123, q129, q133, q138) interpolate the artifact their query
    * reads from `spark`'s [[SessionArtifacts]], building it on a miss, so
    * the SQL does not depend on which queries ran before.
    */
  def oracleSql(spark: SparkSession, dir: String): Map[String, String] =
    oraclesA ++ oraclesB(spark, dir)
}
