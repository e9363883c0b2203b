package graft.tools

import org.apache.spark.sql.functions._
import graft.petro.{Convert, Minerals, Units}

/** End-to-end demo/smoke entry: drives the public petro API on a real
  * EMPA table (CSV path given as arg). Mirrors the reference's flagship
  * pipeline: clean -> filter mineral -> end members.
  *
  * Usage: sbt "runMain graft.tools.Demo <minerals.csv>"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val csv = args.headOption.getOrElse(
      "/root/reference/src/petropandas/data/minerals.csv")
    val spark = graft.SparkEntry.localSession()

    val raw = spark.read.option("header", "true").option("inferSchema", "true").csv(csv)
    val cleaned = Convert.clean(raw)
    val garnets = cleaned.filter(col("Mineral").contains("Garnet"))
    println(s"garnet rows: ${garnets.count()}")

    val em = Minerals.endMembers(Minerals.Grt, garnets,
      carry = Seq("Analysis_ID", "Mineral"), units = Units.WtPct)
    em.show(8, truncate = false)

    val apfu = Minerals.apfu(Minerals.Grt, garnets, carry = Seq("Analysis_ID"))
    apfu.show(4, truncate = false)

    println("=== explain (end members plan) ===")
    em.explain("formatted")
    spark.stop()
  }
}
