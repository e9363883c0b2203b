package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Per-query cost of a prefix-selected subset of the registry, on the
  * bench's session, in three modes:
  *
  *  - `time`: Bench's discipline in miniature — two passes over the
  *    selection with the data caches dropped between them (JIT warmth
  *    kept), the min reported; one pass on a shared host swings 2-10x.
  *  - `jobs`: the orchestration-overhead census — wall against the
  *    query's Spark jobs, stages and tasks and its summed task, CPU,
  *    deserialize and GC time. A wall far above task time / cores marks
  *    a query bound by job launch, planning and codegen (many small
  *    eager jobs: barrier populates, heavy-key counts, kernel rounds),
  *    not by compute.
  *  - `trace`: one level below `jobs` — each job's wall, tasks, task
  *    time and SQL execution / description / call site.
  *
  * `jobs` and `trace` run one untimed warm pass per query first, so JIT
  * and codegen warmth match the bench's min-reported second pass.
  *
  * Usage: runMain graft.tools.QueryStats time|jobs|trace <prefix,...> [sfDir]
  */
object QueryStats {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "jobs", "trace")(mode) && args.length >= 2,
      "usage: QueryStats time|jobs|trace <prefix,prefix,...> [sfDir]")
    val prefixes = args(1).split(',').toSeq
    val sfDir = Census.sfDir(args.lift(2))
    val spark = SparkEntry.localSession()
    val census = Census(spark)
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    def run(fn: (SparkSession, String) => DataFrame): Long = fn(spark, sfDir).count()
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      graft.util.DistRank.clearKeyCountCache()
    }
    if (mode == "time") {
      def pass() = sel.map { case (name, fn) => name -> census.measure(name)(run(fn)) }
      val p1 = pass()
      clearCaches()
      val p2 = pass().toMap
      p1.foreach { case (name, s1) =>
        val (t1, t2) = (s1.wallS, p2(name).wallS)
        println(f"QTIME $name%-28s rows=${s1.out}%7d wall=${math.min(t1, t2)}%7.2f s" +
          f"  (p1=$t1%.2f p2=$t2%.2f)")
      }
    } else sel.foreach { case (name, fn) =>
      run(fn)
      clearCaches()
      val s = census.measure(name)(run(fn))
      if (mode == "jobs")
        println(f"JOBSTATS $name%-34s wall=${s.wallS}%7.2f s jobs=${s.jobs}%3d " +
          f"stages=${s.stages}%3d tasks=${s.tasks}%5d taskTime=${s.taskS}%8.2f s " +
          f"cpu=${s.cpuS}%8.2f s deser=${s.deserS}%7.2f s gc=${s.gcS}%6.2f s " +
          f"rows=${s.out}%7d")
      else {
        println(f"JOBTRACE $name wall=${s.wallS}%.2f s rows=${s.out} jobs=${s.jobs}")
        s.trace.zipWithIndex.foreach { case (j, i) =>
          println(f"  job#$i%3d wall=${j.wallMs}%6d ms tasks=${j.tasks}%5d " +
            f"taskMs=${j.taskMs}%7d  ${j.desc.take(110)}")
        }
      }
      clearCaches()
    }
    spark.stop()
  }
}
