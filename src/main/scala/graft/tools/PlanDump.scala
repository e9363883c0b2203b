package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Plan evidence for registry queries, in three modes:
  *
  *  - `formatted <sfDir> [names...]` prints `explain("formatted")` — the
  *    scan-pushdown / broadcast-vs-shuffle / WholeStageCodegen checklist;
  *  - `files <sfDir> <outDir> [prefix,prefix,...]` writes one formatted
  *    plan per query to `<outDir>/<name>.txt` (the plans/r* evidence);
  *  - `size <sfDir> [names...]` prints the optimized plan's node count
  *    and expression-tree size ([[exprNodes]]), the metric behind the
  *    end-member staging work: a re-inlined shared subexpression shows
  *    up as an order-of-magnitude larger tree. PlanSizeSpec bounds the
  *    same number.
  *
  * Usage: runMain graft.tools.PlanDump formatted|files|size <sfDir> ...
  */
object PlanDump {
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.tools.PlanDump")

  private def planNodes(plan: LogicalPlan): Int = plan.collect { case p => p }.size

  /** Expression nodes summed over every operator of `plan`. */
  def exprNodes(plan: LogicalPlan): Int = plan.collect { case p =>
    p.expressions.map(e => e.collect { case x => x }.size).sum
  }.sum

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("formatted", "files", "size")(mode) && args.length >= 2,
      "usage: PlanDump formatted|files|size <sfDir> ...")
    val sfDir = args(1)
    val spark = SparkEntry.localSession()
    def plan(name: String) = SparkEntry.queries(name)(spark, sfDir).queryExecution
    def named(defaults: String*) =
      if (args.length > 2) args.drop(2).toSeq else defaults
    mode match {
      case "formatted" =>
        named("q01_pricing_summary", "q04_brand_quantity",
          "p05_garnet_endmembers", "t04_minhash_signature",
          "t23_mixture_sample", "t24_pack_sequences", "t26_top_ngrams")
          .foreach { n =>
            println(s"===== $n =====")
            println(plan(n).explainString(FormattedMode))
          }
      case "files" =>
        val outDir = args.lift(2).getOrElse(sys.error("files needs <outDir>"))
        val prefixes = args.lift(3).map(_.split(',').toSeq)
        Files.createDirectories(Paths.get(outDir))
        val sel = SparkEntry.queries.keys.toSeq.sorted
          .filter(n => prefixes.forall(_.exists(n.startsWith)))
        val failed = sel.filterNot { name =>
          try {
            Files.writeString(Paths.get(s"$outDir/$name.txt"),
              plan(name).explainString(FormattedMode))
            true
          } catch { case e: Throwable =>
            log.error(s"$name failed: ${e.getMessage}")
            false
          }
        }
        println(s"PLANDUMP wrote ${sel.size - failed.size} plans to $outDir" +
          (if (failed.nonEmpty) s"; FAILED: ${failed.mkString(",")}" else ""))
      case "size" =>
        named("p05_garnet_endmembers", "p24_cpx_endmembers",
          "p25_amp_endmembers", "p26_spl_endmembers", "p17_site_allocation",
          "p04_droop_split", "p06_alumina_shand").foreach { n =>
          val p = plan(n).optimizedPlan
          println(f"PLANSIZE $n%-26s planNodes=${planNodes(p)}%3d " +
            f"exprNodes=${exprNodes(p)}%7d")
        }
    }
    spark.stop()
  }
}
