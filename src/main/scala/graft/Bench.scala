package graft
import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    // Warm up JIT/codegen/parquet-reader paths so the first timed query
    // isn't charged the one-time JVM startup cost. The WHOLE block is
    // try/catch-guarded: a warm-up failure costs one cold (noisy) first
    // measurement, but an unguarded warm-up death costs the entire
    // round's bench signal (r7: one analysis error in the events
    // warm-up → rc=1, parsed:null, no number at all).
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").agg(sum("l_quantity")).collect()
      // events warm-up goes through the same schema-adaptive helper the
      // q08-q14 family uses (handles nanos-as-Long AND micros variants).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      graft.streaming.EventStreams.withEventTime(ev)
        .agg(max("event_time")).collect()
      spark.range(1000)
        .select(explode(split(md5(col("id").cast("string")), "")).as("c"))
        .groupBy("c").count().collect()
      // Dataset.map / Encoders.row path (CIPW row functions) has its own
      // deserializer + codegen warm-up separate from the SQL-only paths.
      // Shape matches p14/p15 exactly (id carry + the 12 present inputs +
      // normsum) so the SAME generated (de)serializers are compiled, and
      // 30k rows push the row functions past HotSpot's C2 compile
      // threshold (10k invocations) before anything is timed.
      val ox = spark.range(30000).selectExpr(
        "id",
        "55.0 + id % 10 as SiO2", "1.0 as TiO2", "16.0 as Al2O3",
        "2.0 as Fe2O3", "6.0 as FeO", "0.1 as MnO", "4.0 as MgO",
        "7.0 as CaO", "3.5 as Na2O", "2.0 as K2O", "0.3 as P2O5",
        "0.1 + id % 3 as Cr2O3")
      graft.petro.Cipw.cipwNorm(ox, carry = Seq("id"),
        normsum = true, completeResults = true).count()
      graft.petro.Cipw.cipwNormHb(ox, carry = Seq("id"),
        normsum = true, completeResults = true).count()
      // Text + similarity tracks: a miniature corpus through the full
      // curate pipeline (shingle/minhash/LSH/jaccard/CC/quality gate)
      // plus SimHash banding and the vector kernels, so the first timed
      // t* query isn't charged the whole track's codegen/JIT (r3 driver
      // bench: t12 6.9s cold vs 1.2s warm with no text warm-up).
      // Groups of 5 near-identical docs (one unique suffix word) force
      // real LSH collisions, Jaccard survivors, and CC iterations.
      val docs = spark.range(1500).selectExpr(
        "id as doc_id",
        "concat(concat_ws(' ', transform(sequence(1, 40), " +
          "i -> concat('w', cast((id div 5) * 7 + i % 23 as string)))), " +
          "' v', cast(id as string)) as text")
      graft.text.TextOps.curateCorpus(docs, "doc_id", "text").count()
      graft.text.TextOps.simhashNearDupPairs(docs, "doc_id", "text").count()
      graft.text.TextOps.winnowFingerprints(docs, "doc_id", "text").count()
      graft.text.TextOps.bpeTokenStats(docs, "doc_id", "text").count()
      val vecs = spark.range(600).selectExpr("id",
        "transform(sequence(0, 7), " +
          "j -> cast((id * 31 + j * 17) % 97 as double) / 97.0) as embedding")
      val planes = graft.sim.Similarity.randomPlanes(8, 8)
      graft.sim.Similarity.cosineNearDupPairs(
        vecs, "id", "embedding", planes, 0.9).count()
      val cent = graft.sim.Similarity
        .kmeansCentroids(vecs, "id", "embedding", 0L until 8L, 1)
        .select(col("cell").as("id"), col("centroid").as("embedding"))
      val indexed = graft.sim.Similarity.ivfAssign(vecs, cent, "id", "embedding")
      graft.sim.Similarity.ivfSearch(
        indexed, cent, vecs.limit(20), "id", "embedding", k = 5, nProbe = 2).count()
      graft.sim.Similarity.cosineTopK(
        vecs, vecs.limit(10), "id", "embedding", k = 5).count()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // Diagnostic only — the timed loop below still runs; each query
        // has its own failure accounting.
        LogManager.getLogger("graft.Bench")
          .warn(s"warm-up failed (continuing): ${e.getMessage}")
    }
    // A query that throws is recorded with time -1 and listed under
    // "failed" so a broken query can never masquerade as a fast one.
    var failed = List.empty[String]
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => failed ::= name; -1.0 }
    }
    val cold = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeOne(name, fn)
    }.toMap
    // Drop DATA warmth between the passes while keeping JIT/codegen
    // warmth: operators cache() shared frames and nothing else ever
    // unpersists them in this JVM, so without this the second pass is
    // served from the MEMORY_AND_DISK blocks the first pass populated
    // and the min-of-two systematically reports the cache-assisted
    // time. With the clear, the rerun re-pays every cache populate the
    // first pass paid — the min now filters host-scheduler contention
    // only, not data warmth. (Within-pass cross-query reuse remains,
    // deterministically, in sorted registry order — the same regime a
    // real session running the registry once sees; the first-pass
    // total is reported as "total_cold" so the gate can be audited on
    // a number with no second-pass influence at all.)
    spark.catalog.clearCache()
    // The session-scoped heavy-key count cache must drop with the data
    // cache: heavy-key counts computed from pass 1 would otherwise skip
    // the count job in pass 2 and flatter the min-of-two q-track numbers
    // (r17 verdict finding 4; `graft.tools.QueryStats` clears it the
    // same way).
    graft.util.DistRank.clearKeyCountCache()
    // This VM shows transient host-scheduler contention: the SAME query
    // measured in consecutive cold JVMs swings 10-20x in either
    // direction (e.g. 1.5s vs 19.5s), while back-to-back in-JVM re-runs
    // are stable. So EVERY query that succeeded is re-timed once and the
    // MINIMUM is reported: a genuine cost repeats in both runs and
    // survives; a one-off scheduling spike does not. (A >1s-only
    // threshold let a uniform ~+0.7s contention plateau inflate the
    // sub-second block p01-p04/p80 in one recorded round — queries
    // sitting just under the cutoff were never re-timed.) Both raw
    // passes are printed on the diagnostic line below.
    val rerunRaw = cold.filter { case (_, t) => t >= 0 }.map { case (name, _) =>
      // own try/catch, NOT timeOne: the cold run already passed, so a
      // transient rerun error must neither mark the query failed nor
      // discard the valid cold measurement.
      val t2 =
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      name -> t2
    }
    val rerun = rerunRaw.map { case (name, t2) =>
      name -> (if (t2 >= 0) math.min(cold(name), t2) else cold(name))
    }
    val results = cold ++ rerun
    // Locale.ROOT: a comma-decimal default locale would render 1,234
    // and corrupt the JSON the harness parses.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qsFull = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    // First-pass raw timings for the re-measured set, so a reader can
    // see exactly which spikes the min-of-two filtered out.
    val cs = rerun.keys.toSeq.sorted
      .map(k => s"\"$k\":${fmt(cold(k))}").mkString("{", ",", "}")
    // Full-name timings + raw first pass, for humans reading the whole log.
    println(s"""{"diag":"full_names","queries":$qsFull,"first_pass":$cs}""")
    val (line, diags) =
      renderFinal(results, rerunRaw.toMap, failed, sfDir.split('/').last,
        coldTotal = cold.values.filter(_ >= 0).sum)
    diags.foreach(println)
    println(line)
    spark.stop()
  }

  /** The final JSON line + any degrade diagnostics, pure so the
    * overflow ladder is unit-testable at simulated registry sizes.
    *
    * The harness that collects stdout keeps only its TAIL (~2000
    * chars) plus sbt's trailing "[success]" footer (~70 chars), so the
    * WHOLE final line must fit in ~1900 chars or its head is cut and
    * the driver records parsed:null (the r4 failure at 3 decimals
    * with 129 queries). Query keys are the short id prefix
    * ("p14_cipw_gcdkit" -> "p14", unique across the registry; full
    * names are in CORRECTNESS_r*.json and the diag line) and times are
    * 2-dp with trailing zeros trimmed. Degrade ladder when a growing
    * registry overflows the budget anyway:
    * 1. drop the warm (second-pass) map;
    * 2. grouped subtotals — per-track totals (track = the key's
    *    leading letter run) plus ONLY the >0.5s queries itemized, so
    *    every slow query still resolves per-query while the
    *    sub-half-second tail collapses into its track subtotal
    *    (~15 chars/slow query: holds hundreds of registry entries as
    *    long as the slow set stays bounded, which is what a bench
    *    regression watch actually reads);
    * 3. last ditch: the per-track subtotals at 1 decimal and the
    *    omitted-query count, no per-query map — its length depends on
    *    the number of tracks only, so it fits any registry size (every
    *    query's time is still on the full_names diag line). */
  private[graft] def renderFinal(results: Map[String, Double],
      rerunRaw: Map[String, Double], failed: List[String],
      sfShort: String, budget: Int = 1900,
      coldTotal: Double = -1.0): (String, Seq[String]) = {
    def trim0(s: String): String =
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".")
      else s
    def fmt2(v: Double): String =
      trim0(String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)))
    def fmt1(v: Double): String =
      trim0(String.format(java.util.Locale.ROOT, "%.1f", Double.box(v)))
    val prefixes = results.keys.groupBy(_.takeWhile(_ != '_'))
    // Fall back to the full name if two ids ever share a prefix, so the
    // compaction can never silently merge two queries into one key.
    def short(name: String): String = {
      val p = name.takeWhile(_ != '_')
      if (prefixes(p).size == 1) p else name
    }
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"${short(k)}\":${fmt2(v)}" }
      .mkString("{", ",", "}")
    // Warm (second-pass) timings for the re-measured subset, in the
    // FINAL json so round-over-round comparisons of the slow queries
    // don't depend on what the stdout tail happened to preserve. A
    // transiently-failed rerun (t2 = -1) is omitted rather than emitted
    // as a negative duration.
    val warm = rerunRaw.toSeq.filter(_._2 >= 0).sortBy(_._1)
      .map { case (k, v) => s"\"${short(k)}\":${fmt2(v)}" }
      .mkString("{", ",", "}")
    // Two length savers (every char postpones a degrade): the failed
    // list appears only when NON-empty, and sf is the directory
    // basename (the full path is on the diag line and in the driver's
    // own run metadata).
    val failedField = if (failed.isEmpty) "" else s""","failed":$fs"""
    // First-pass-only total: min-of-two can only mask contention, not
    // help a cached rerun, after the inter-pass clearCache — but this
    // field lets any reader audit the gate on a number with zero
    // second-pass influence.
    val coldField =
      if (coldTotal >= 0) s""","total_cold":${fmt2(coldTotal)}""" else ""
    val head =
      s"""{"metric":"total","value":${fmt2(total)}$coldField,"unit":"sec""""
    val tail = s"""$failedField,"sf":"$sfShort"}"""
    val withWarm = s"""$head,"queries":$qs,"queries_warm":$warm$tail"""
    val noWarm = s"""$head,"queries":$qs$tail"""
    val tracks = results.toSeq.groupBy(_._1.takeWhile(_.isLetter))
      .toSeq.sortBy(_._1)
    def trackTotals(fmt: Double => String) = tracks
      .map { case (t, kvs) =>
        s"\"$t\":${fmt(kvs.map(_._2).filter(_ >= 0).sum)}" }
      .mkString("{", ",", "}")
    val slow = results.toSeq.filter(_._2 > 0.5)
    val slowQs = slow.sortBy(_._1)
      .map { case (k, v) => s"\"${short(k)}\":${fmt2(v)}" }
      .mkString("{", ",", "}")
    val grouped = s"""$head,"tracks":${trackTotals(fmt2)},"queries":$slowQs""" +
      s""","queries_omitted":${results.size - slow.size}$tail"""
    val coarse = s"""$head,"tracks":${trackTotals(fmt1)}""" +
      s""","queries_omitted":${results.size}$tail"""
    if (withWarm.length <= budget) (withWarm, Nil)
    else if (noWarm.length <= budget) (noWarm, Nil)
    else if (grouped.length <= budget)
      (grouped, Seq(s"""{"diag":"final_line_grouped_subtotals","len_2dp":${noWarm.length}}"""))
    else
      (coarse, Seq(s"""{"diag":"final_line_degraded_to_1dp","len_grouped":${grouped.length}}"""))
  }
}
