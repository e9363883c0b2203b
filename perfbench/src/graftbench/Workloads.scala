package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.petro.{Cipw, Convert, Minerals, PetroFrame, Stoich, Thermo}
import graft.petro.hpxeos.{Metabasite, Metapelite}

/** How a timed call consumes its whole result. */
sealed trait Consume
object Consume {
  /** [[Checksum.frame]] as the action: one aggregate over every column. */
  case object Aggregate extends Consume
  /** `collect()` to the driver; the rows are hashed after the pass. */
  case object Collect extends Consume
  /** Text files written to `dir`; read back and hashed after the pass. */
  final case class WriteText(dir: String) extends Consume
}

/** One library call: `build` returns the DataFrame the library made
  * from inputs loaded at set-up (a session holding its tables, so the
  * parquet footer read is set-up work, not call work). `rowsOk` is a
  * cheap invariant on the result's row count. */
final case class Call(layer: String, function: String, inputRows: Long,
    build: () => DataFrame, consume: Consume,
    rowsOk: Long => Boolean = _ > 0) {
  def name: String = s"$layer.$function"
}

/** The generated inputs of one set-up: the stated input properties
  * and the pass (the fixed call sequence) over them. */
final case class Inputs(properties: Seq[(String, String)], pass: Seq[Call]) {
  def inputRows: Long = pass.map(_.inputRows).sum
}

sealed trait Workload {
  def name: String
  def generate(spark: SparkSession, seed: Long, dir: String): Inputs
}

object Workload {
  val all: Seq[Workload] = Seq(PetroBatch, InteractiveMix)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  def layoutProps(prefix: String, l: Gen.Layout): Seq[(String, String)] =
    Seq(s"$prefix.files" -> l.files.toString, s"$prefix.row_groups" -> l.rowGroups.toString,
      s"$prefix.bytes" -> l.bytes.toString)

  val Carry = Seq("Analysis_ID")

  /** Analysis id + oxide columns of one `Mineral` label, cleaned. */
  def mineralRows(empa: DataFrame, mineral: String): DataFrame =
    PetroFrame.clean(empa, Carry).df
      .filter(col("Mineral") === mineral)
      .select((Carry ++ Gen.Oxides).map(col): _*)
}

/** Large EMPA table through every petro layer. Row compute and codegen
  * bound with almost no shuffle: the petro layers do nearly all the
  * work and the text layers none. */
object PetroBatch extends Workload {
  import Workload._
  val name = "petro_batch"
  val Rows = 40000
  val BulkShare = 0.15
  val Jitter = 0.03

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val path = s"$dir/empa.parquet"
    val rows = Gen.empaRows(seed, Rows, BulkShare, Jitter)
    val layout = Gen.writeParquet(spark, rows, Gen.EmpaSchema, path)
    val empa = spark.read.parquet(path)
    val count = rows.groupBy(_.getString(1)).map { case (m, rs) => m -> rs.size.toLong }
    val n = Rows.toLong
    val bulkN = count.getOrElse(Gen.BulkLabel, 0L)
    val (amp, grt) = (count("Amphibole"), count("Garnet"))
    def bulk(): DataFrame = mineralRows(empa, Gen.BulkLabel)
    // the order parameters the registry's p28_tc_amphibole query uses
    val ampOrder: Map[String, Either[Double, org.apache.spark.sql.Column]] = Map(
      "z" -> Left(0.05), "a" -> Left(0.1), "k" -> Left(0.3), "Q1" -> Left(0.02), "Q2" -> Left(-0.02))
    val pass = Seq(
      Call("petro", "clean", n, () => PetroFrame.clean(empa, Carry).df, Consume.Aggregate, _ == n),
      Call("petro", "toApfu", n - bulkN, () => Convert.toApfu(
          PetroFrame.clean(empa, Carry).df.filter(col("Mineral") =!= Gen.BulkLabel),
          nOxygens = Some(12.0), carry = Carry :+ "Mineral"),
        Consume.Aggregate, _ == n - bulkN),
      Call("petro", "endMembers", amp,
        () => Minerals.endMembers(Minerals.Amp, mineralRows(empa, "Amphibole"), Carry),
        Consume.Aggregate, _ == amp),
      Call("petro", "checkStoichiometry", grt,
        () => Stoich.checkStoichiometry(Minerals.Grt, mineralRows(empa, "Garnet"), Carry),
        Consume.Aggregate, _ == grt),
      Call("hpxeos", "endMembers", amp, () => Metabasite.TcAmphibole.endMembers(
          mineralRows(empa, "Amphibole"), Carry, orderParameters = ampOrder),
        Consume.Aggregate, _ == amp),
      Call("cipw", "cipwNorm", bulkN, () => Cipw.cipwNorm(bulk(), Carry),
        Consume.Aggregate, _ == bulkN),
      Call("export", "tcBulk", bulkN,
        () => Thermo.tcBulk(bulk(), col("Analysis_ID"), carry = Carry)._2.select("line"),
        Consume.WriteText(s"$dir/out/tcbulk"), _ == bulkN),
      Call("export", "magemim", bulkN,
        () => Thermo.magemim(bulk(), col("Analysis_ID"), carry = Carry).select("line"),
        Consume.WriteText(s"$dir/out/magemin"), _ == bulkN))
    Inputs(Seq("empa.rows" -> Rows.toString, "empa.bulk_share" -> BulkShare.toString,
        "empa.jitter" -> Jitter.toString,
        "empa.mix" -> count.toSeq.sorted.map { case (m, c) => s"$m=$c" }.mkString("|")) ++
        layoutProps("empa", layout), pass)
  }
}

/** Closed loop, one client, no think time: a seeded order of small
  * calls whose results are collected to the driver. Every layer outside
  * petro_batch is called once per pass — the event operators on a
  * seeded day of Zipf-skewed events, an IVF similarity search, a MinHash
  * signature pass and corpusToShards (which curates the corpus with
  * curateCorpus first) — beside small petro calls. Per-call cost here is
  * DataFrame building, planning and job launch (corpusToShards fires
  * about 80 jobs while its DataFrame is built), not row work. The set of
  * calls is fixed; the seed picks their order, days and query vectors,
  * so a pass costs the same on every seed. */
object InteractiveMix extends Workload {
  import Workload._
  val name = "interactive_mix"
  val PerMineral = 200
  val Events = 12000
  val Users = 500
  val ZipfS = 1.1
  val Vectors = 2000
  val Dim = 16
  val Cells = 8
  val Docs = 200
  val Sources = 3
  val DupShare = 0.3
  val BenchDocs = 20

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val rnd = new SplittableRandom(seed ^ 0x1F2E3D4CL)
    val ePath = s"$dir/empa.parquet"
    val empa = Gen.empaRows(seed, PerMineral * Gen.Ideal.size, 0.0, PetroBatch.Jitter)
    Gen.writeParquet(spark, empa, Gen.EmpaSchema, ePath)
    val grt = empa.count(_.getString(1) == "Garnet").toLong

    val evPath = s"$dir/events.parquet"
    val events = Gen.events(seed, Events, Users, ZipfS)
    val evLayout = Gen.writeParquet(spark, events, Gen.EventSchema, evPath)
    val perDay = events.groupBy(r =>
      ((r.getTimestamp(1).getTime - Gen.EventStart) / 86400000L).toInt).map {
      case (d, rs) => d -> rs.size.toLong
    }

    val vPath = s"$dir/vectors.parquet"
    val cellPath = s"$dir/centroids.parquet"
    val idxPath = s"$dir/ivf_index.parquet"
    val (vectors, centres) = Gen.vectors(seed, Vectors, Dim, Cells)
    Gen.writeParquet(spark, vectors, Gen.VectorSchema, vPath)
    Gen.writeParquet(spark, centres, Gen.VectorSchema, cellPath)
    graft.sim.Similarity.ivfAssign(spark.read.parquet(vPath), spark.read.parquet(cellPath),
      "vec_id", "embedding").write.mode("overwrite").parquet(idxPath)

    val cPath = s"$dir/corpus.parquet"
    val bPath = s"$dir/bench.parquet"
    val (docs, bench) = Gen.corpus(seed, Docs, Sources, DupShare, BenchDocs)
    val cLayout = Gen.writeParquet(spark, docs, Gen.CorpusSchema, cPath)
    Gen.writeParquet(spark, bench, Gen.BenchSchema, bPath)
    val langs = docs.groupBy(_.getString(2)).toSeq.sortBy(_._1)
      .map { case (l, rs) => s"$l=${rs.size}" }.mkString("|")

    val empaDf = spark.read.parquet(ePath)
    val eventsDf = spark.read.parquet(evPath)
    val vectorsDf = spark.read.parquet(vPath)
    val indexDf = spark.read.parquet(idxPath)
    val cellsDf = spark.read.parquet(cellPath)
    val corpusDf = spark.read.parquet(cPath)
    val benchDf = spark.read.parquet(bPath)

    val days = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle((0 until Gen.EventDays).toList)
    def day(d: Int): DataFrame = {
      val lo = new java.sql.Timestamp(Gen.EventStart + d * 86400000L)
      val hi = new java.sql.Timestamp(Gen.EventStart + (d + 1) * 86400000L)
      eventsDf.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    }
    def dayRows(d: Int): Long = perDay.getOrElse(d, 0L)
    def queries(): DataFrame = {
      val ids = Seq.fill(8)(rnd.nextInt(Vectors).toLong).distinct
      vectorsDf.filter(col("vec_id").isin(ids: _*))
    }
    val garnet = mineralRows(empaDf, "Garnet")
    val Seq(d0, d1, d2, d3) = days.take(4)
    // Nine calls, one of them corpusToShards: over three passes the
    // nearest-rank p90 (rank 25 of 27) is the fastest of its three runs,
    // and p50 falls among the small calls.
    val q = queries()
    val calls = Seq(
      Call("petro", "endMembers", grt,
        () => Minerals.endMembers(Minerals.Grt, garnet, Carry), Consume.Collect),
      Call("hpxeos", "endMembers", grt,
        () => Metapelite.TcGarnet.endMembers(garnet, Carry), Consume.Collect),
      Call("streaming", "sessionizeBatch", dayRows(d0),
        () => graft.streaming.EventStreams.sessionizeBatch(day(d0)), Consume.Collect),
      Call("ops", "matchSteps", dayRows(d1), () => {
        val ev = day(d1).withColumn("tus", unix_micros(col("ts")))
        graft.ops.Funnel.matchSteps(ev, "user_id", "tus",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
      }, Consume.Collect),
      Call("ops", "asofJoin", dayRows(d2), () => {
        val ev = day(d2)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("et"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("ct"), col("value").as("click_value"),
            col("event_id").as("click_id"))
        graft.ops.Temporal.asofJoin(purchases, clicks, Seq("user_id"), "et", "ct",
          Seq("click_value"), tieBreak = Seq("click_id"))
      }, Consume.Collect),
      Call("ops", "exactPercentiles", dayRows(d3),
        () => graft.ops.Quantiles.exactPercentiles(day(d3), "event_type", "value",
          Seq(50, 90, 99), tieBreak = Seq("event_id")), Consume.Collect),
      Call("sim", "ivfSearch", Vectors, () => graft.sim.Similarity.ivfSearch(
        indexDf, cellsDf, q, "vec_id", "embedding", k = 5, nProbe = 2), Consume.Collect),
      Call("text", "minhashSignature", Docs.toLong,
        () => graft.text.TextOps.minhashSignature(corpusDf, "doc_id", "text"), Consume.Collect,
        _ == Docs),
      Call("pipeline", "corpusToShards", Docs.toLong,
        () => graft.pipeline.Pipeline.corpusToShards(corpusDf, benchDf, "doc_id", "text",
          "source"), Consume.Collect, r => r > 0 && r < Docs))
    val pass = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle(calls)
    Inputs(Seq("empa.rows" -> empa.size.toString, "empa.garnet_rows" -> grt.toString,
        "events.rows" -> Events.toString, "events.users" -> Users.toString,
        "events.user_zipf_s" -> ZipfS.toString, "events.days" -> days.take(4).mkString("|"),
        "vectors.rows" -> Vectors.toString, "vectors.dim" -> Dim.toString,
        "ivf.cells" -> Cells.toString, "corpus.docs" -> Docs.toString,
        "corpus.sources" -> Sources.toString, "corpus.near_dup_share" -> DupShare.toString,
        "corpus.langs" -> langs, "corpus.decontam_docs" -> BenchDocs.toString,
        "sequence" -> pass.map(_.name).mkString("|")) ++
        layoutProps("events", evLayout) ++ layoutProps("corpus", cLayout),
      pass)
  }
}
