package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{PetroQueries, Relational, TextQueries}
import graft.petro.Minerals

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the oracle-checked operator inventory: every implemented
  * operator from SURVEY.md §2 (plus the large-scale text/dedup/similarity
  * extensions) is registered here with a DuckDB-equivalent in `oracleSql`.
  *
  * Registry id conventions: p* petro, q* relational, t* text/similarity.
  * Ids are append-only and never reused; `t75` is an intentionally
  * retired id (its z-order query moved to `q24_zorder`), so the t74→t76
  * gap is deliberate, not a lost query.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's flagship pipeline shape (oxides -> APFU ->
    * Droop split -> garnet end members) over the synthetic oxide table. */
  def entry(spark: SparkSession): DataFrame = {
    val ox = PetroQueries.oxFrame(spark, "/root/testdata/sf0.001")
      .drop("grp", "wt")
    Minerals.endMembers(Minerals.Grt, ox, carry = Seq("id"))
  }

  /** The local session every graft entry point runs on — `Bench`,
    * `Verify` and every `graft.tools` main: `local[$SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions as cores, UTC session
    * time, UI off, WARN logging. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ PetroQueries.queries ++ TextQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ PetroQueries.oracle ++ TextQueries.oracle
}
