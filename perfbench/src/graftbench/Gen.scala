package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table is built on the driver from a
  * `SplittableRandom(seed)`, so one seed always yields the same rows,
  * and written as ONE parquet file with ONE row group — the layout of
  * the repository's sf* test tables, which makes the scan a single task
  * unless the library spreads the work itself. The library under test
  * only ever sees these files. Each generator returns the properties it
  * stated, which the benchmark prints with its result. */
object Gen {

  val Oxides: Seq[String] = Seq("SiO2", "TiO2", "Al2O3", "Cr2O3", "Fe2O3",
    "FeO", "MnO", "MgO", "CaO", "Na2O", "K2O", "P2O5")

  /** Ideal compositions (wt% oxide) after FIXTURES.md §2-§3; absent
    * oxides are written as NULL, as an EMPA export leaves them. */
  val Ideal: Seq[(String, Map[String, Double])] = Seq(
    "Garnet" -> Map("SiO2" -> 37.5, "Al2O3" -> 21.0, "FeO" -> 33.0,
      "MnO" -> 1.5, "MgO" -> 4.0, "CaO" -> 3.0),
    "Clinopyroxene" -> Map("SiO2" -> 52.0, "Al2O3" -> 4.5, "FeO" -> 8.5,
      "MgO" -> 15.0, "CaO" -> 18.0, "Na2O" -> 1.5, "TiO2" -> 0.5),
    "Feldspar" -> Map("SiO2" -> 60.0, "Al2O3" -> 24.5, "CaO" -> 6.5,
      "Na2O" -> 8.0, "K2O" -> 0.5),
    "Amphibole" -> Map("SiO2" -> 44.0, "TiO2" -> 1.5, "Al2O3" -> 11.0,
      "FeO" -> 15.0, "MnO" -> 0.3, "MgO" -> 12.0, "CaO" -> 11.5,
      "Na2O" -> 1.5, "K2O" -> 0.5),
    "Biotite" -> Map("SiO2" -> 36.0, "TiO2" -> 3.0, "Al2O3" -> 16.0,
      "FeO" -> 20.0, "MnO" -> 0.2, "MgO" -> 10.0, "Na2O" -> 0.2,
      "K2O" -> 9.5),
    "Chlorite" -> Map("SiO2" -> 26.0, "Al2O3" -> 21.0, "FeO" -> 20.0,
      "MgO" -> 18.0, "Cr2O3" -> 0.1, "TiO2" -> 0.1),
    "Ilmenite" -> Map("TiO2" -> 52.66, "FeO" -> 46.5, "MnO" -> 0.8))

  /** Whole-rock compositions for the CIPW and thermo-export rows. */
  val Rocks: Seq[(String, Map[String, Double])] = Seq(
    "granite" -> Map("SiO2" -> 72.0, "TiO2" -> 0.3, "Al2O3" -> 14.0,
      "Fe2O3" -> 0.8, "FeO" -> 1.2, "MnO" -> 0.05, "MgO" -> 0.5,
      "CaO" -> 1.5, "Na2O" -> 3.5, "K2O" -> 4.5, "P2O5" -> 0.1),
    "basalt" -> Map("SiO2" -> 49.0, "TiO2" -> 1.8, "Al2O3" -> 15.5,
      "Fe2O3" -> 2.5, "FeO" -> 8.0, "MnO" -> 0.17, "MgO" -> 7.0,
      "CaO" -> 10.5, "Na2O" -> 2.7, "K2O" -> 0.6, "P2O5" -> 0.25),
    "diorite" -> Map("SiO2" -> 58.0, "TiO2" -> 0.9, "Al2O3" -> 16.5,
      "Fe2O3" -> 2.0, "FeO" -> 5.0, "MnO" -> 0.12, "MgO" -> 3.5,
      "CaO" -> 6.5, "Na2O" -> 3.5, "K2O" -> 1.8, "P2O5" -> 0.2))

  val BulkLabel = "Bulk"

  val EmpaSchema: StructType = StructType(
    Seq(StructField("Analysis_ID", StringType, nullable = false),
      StructField("Mineral", StringType, nullable = false),
      StructField("Rock", StringType, nullable = true)) ++
      Oxides.map(StructField(_, DoubleType, nullable = true)))

  /** EMPA table: each row one ideal composition with relative jitter
    * uniform in ±`jitter`; a `bulkShare` of the rows are whole-rock
    * analyses labelled [[BulkLabel]]. Minerals are drawn uniformly. */
  def empaRows(seed: Long, rows: Int, bulkShare: Double,
      jitter: Double): Seq[Row] = {
    val rnd = new SplittableRandom(seed)
    (0 until rows).map { i =>
      val bulk = rnd.nextDouble() < bulkShare
      val (mineral, rock, comp) =
        if (bulk) {
          val (r, c) = Rocks(rnd.nextInt(Rocks.size))
          (BulkLabel, r, c)
        } else {
          val (m, c) = Ideal(rnd.nextInt(Ideal.size))
          (m, null, c)
        }
      val values = Oxides.map { ox =>
        comp.get(ox) match {
          case Some(v) => v * (1.0 + jitter * (2.0 * rnd.nextDouble() - 1.0))
          case None => null
        }
      }
      Row.fromSeq(Seq(f"A$i%07d", mineral, rock) ++ values)
    }
  }

  // ---- text corpus --------------------------------------------------------

  private val functionWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that",
      "for", "on", "with", "as", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "zu", "den", "von", "auf", "im", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "un", "des", "du",
      "dans", "qui", "pour", "sur", "au"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en", "por", "con",
      "para", "se", "su", "al", "del"))

  /** Content vocabulary shared by every language: 400 pseudo-words. */
  private val content: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "re", "su", "ta", "ne", "vo", "pi", "da",
      "gu", "ze", "ri", "mo", "ba", "fe", "xi", "wa", "ho", "ly")
    (for (a <- syl; b <- syl) yield a + b).toIndexedSeq
  }

  /** Language mix of the generated corpus (shares sum to 1). */
  val LangMix: Seq[(String, Double)] =
    Seq("en" -> 0.6, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.1)

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  val BenchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def pickLang(rnd: SplittableRandom): String = {
    var u = rnd.nextDouble()
    LangMix.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
  }

  private def document(rnd: SplittableRandom, lang: String): Array[String] = {
    val n = 30 + rnd.nextInt(41)
    val fw = functionWords(lang)
    Array.fill(n) {
      if (rnd.nextDouble() < 0.3) fw(rnd.nextInt(fw.size))
      else content(rnd.nextInt(content.size))
    }
  }

  /** Corpus of `docs` documents over `sources` sources. A `dupShare`
    * of them are near-duplicates: copies of an earlier base document
    * with one or two words replaced (a quarter of those copies are
    * left exact). The decontamination set holds `benchDocs` documents,
    * half of which quote a 15-word span of a corpus document. */
  def corpus(seed: Long, docs: Int, sources: Int, dupShare: Double,
      benchDocs: Int): (Seq[Row], Seq[Row]) = {
    val rnd = new SplittableRandom(seed)
    val texts = ArrayBuffer.empty[(Array[String], String)]
    val rows = (0 until docs).map { i =>
      val (words, lang) =
        if (texts.nonEmpty && rnd.nextDouble() < dupShare) {
          val (base, l) = texts(rnd.nextInt(texts.size))
          val w = base.clone()
          if (rnd.nextDouble() >= 0.25) {
            (0 until 1 + rnd.nextInt(2)).foreach { _ =>
              w(rnd.nextInt(w.length)) = content(rnd.nextInt(content.size))
            }
          }
          (w, l)
        } else {
          val l = pickLang(rnd)
          val w = document(rnd, l)
          texts += ((w, l))
          (w, l)
        }
      Row(i.toLong, words.mkString(" "), lang, s"src${rnd.nextInt(sources)}")
    }
    val bench = (0 until benchDocs).map { j =>
      val words =
        if (j % 2 == 0) {
          val src = rows(rnd.nextInt(rows.size)).getString(1).split(" ")
          val start = rnd.nextInt(math.max(1, src.length - 15))
          src.slice(start, start + 15)
        } else document(rnd, "en")
      Row(1000000L + j, words.mkString(" "))
    }
    (rows, bench)
  }

  // ---- events and vectors -------------------------------------------------

  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val EventStart: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val EventDays = 7

  /** `events` events over [[EventDays]] days; the user of each event is
    * drawn from a Zipf(`zipfS`) law over `users` users, so a few users
    * own most events. */
  def events(seed: Long, events: Int, users: Int, zipfS: Double): Seq[Row] = {
    val rnd = new SplittableRandom(seed)
    val weights = (1 to users).map(k => math.pow(k.toDouble, -zipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    val spanMs = EventDays * 86400000L
    (0 until events).map { i =>
      val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val user = if (u >= 0) u else math.min(-u - 1, users - 1)
      val ts = new Timestamp(EventStart + (rnd.nextDouble() * spanMs).toLong)
      val value = math.rint(rnd.nextDouble() * 10000.0) / 100.0
      Row(i.toLong, ts, user.toLong, EventTypes(rnd.nextInt(EventTypes.size)),
        value)
    }
  }

  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** `n` float vectors of dimension `dim` scattered around `clusters`
    * seeded centres, and the centres themselves (ids 0 until
    * `clusters`, [[VectorSchema]]) — the IVF cell table. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int): (Seq[Row], Seq[Row]) = {
    val rnd = new SplittableRandom(seed)
    val centres = Array.fill(clusters, dim)(rnd.nextDouble() * 2.0 - 1.0)
    val rows = (0 until n).map { i =>
      val c = centres(rnd.nextInt(clusters))
      Row(i.toLong, c.map(x => (x + 0.3 * (rnd.nextDouble() - 0.5)).toFloat).toSeq)
    }
    (rows, centres.toSeq.zipWithIndex.map { case (c, i) => Row(i.toLong, c.map(_.toFloat).toSeq) })
  }

  // ---- files --------------------------------------------------------------

  /** Writes rows as one parquet file with one row group and returns
    * the layout actually on disk: (files, row groups, bytes). */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Layout = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
    layout(spark, path)
  }

  final case class Layout(files: Int, rowGroups: Int, bytes: Long)

  def layout(spark: SparkSession, path: String): Layout = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
    val groups = parts.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRowGroups.size finally r.close()
    }
    Layout(parts.length, groups.sum, parts.map(_.getLen).sum)
  }
}
