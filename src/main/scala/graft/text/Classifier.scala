package graft.text

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Barriers.FirewallOps

/** In-engine text classification: a hashed-bigram logistic regression
  * — the fastText-style quality/domain classifier a curation pipeline
  * trains on a few labeled documents and scores over the whole corpus
  * (fastText itself is a linear classifier over hashed n-gram
  * features; this is the same model family with deterministic
  * full-batch training instead of SGD).
  *
  * Determinism is the design constraint everything else follows from:
  * every floating-point SUM crossing rows is rounded into integer
  * micro-units first ([[TextOps.bm25Rank]]'s discipline — long
  * addition is order-independent where double addition is not), the
  * training loop runs a FIXED iteration count of full-batch gradient
  * descent (no RNG, no early stop), and per-step values are 6-dp
  * rounded — so the DuckDB oracle re-runs the whole training loop and
  * lands on the identical model. */
object Classifier {

  /** Trained model: bucket weights (absent bucket = 0.0) + bias.
    * At most `dim` + 1 numbers — the k-row-model contract. */
  case class TextClassifierModel(weights: Map[Int, Double], bias: Double,
      dim: Int)

  /** Hashed-bigram features: (idCol, bucket, cnt, n) with one row per
    * (doc, bucket) and n the doc's total bigram count. Bucket =
    * "qc:"-salted 60-bit md5 of the bigram mod dim — the hashing-trick
    * feature map, mirrored exactly in SQL. Documents with < 2 tokens
    * produce no rows (their margin is the bias alone).
    *
    * n is computed per row BEFORE the explode (a doc's total bigram
    * count is just the size of its shingle array — every bigram lands
    * in some bucket, so `sum(cnt) over (partition by id)` always
    * equalled it) and carried through the aggregation as a grouping
    * key, removing the corpus-scale window exchange the old
    * `sum over Window.partitionBy(idCol)` paid after the (id, bucket)
    * aggregate: one shuffle for the whole corpus-sized feature pass
    * instead of two (guide §2.4). Adding the per-id-constant n to the
    * group key leaves the groups — and every emitted value —
    * identical. */
  private[text] def features(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val sh = graft.util.FanOut(df)
      .select(col(idCol), TextOps.shinglesOf(col(textCol), 2).as("__sh"))
      .select(col(idCol), size(col("__sh")).cast("long").as("n"),
        explode(col("__sh")).as("sh"))
    val bucket = pmod(TextOps.md5Hash60(concat(lit("qc:"), col("sh"))),
      lit(dim.toLong)).cast("int")
    sh.select(col(idCol), col("n"), bucket.as("bucket"))
      .groupBy(col(idCol), col("n"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(idCol), col("bucket"), col("cnt"), col("n"))
  }

  /** ROUND(x, 6) with SQL semantics (half away from zero on the
    * shortest decimal representation) for the driver-side weight
    * updates, so they match the oracle's ROUND exactly. */
  private def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Train by `iterations` rounds of full-batch gradient descent on
    * log loss: margin m_d = b + sum_j w_j * cnt_dj / n_d, residual
    * r_d = sigmoid(m_d) - y_d, gradients g_j = sum_d r_d * cnt_dj /
    * n_d and g_b = sum_d r_d, update w <- w - lr * g / N. All
    * cross-row sums are micro-unit longs; sigmoid and the updated
    * weights are 6-dp rounded.
    *
    * Scale shape: per iteration, one broadcast join of the (<= dim)-row
    * weight table onto the labeled features, two hash aggs, and a
    * <= dim-row collect — the driver never holds more than the model.
    * The labeled set is the expensive side and label sets are small by
    * nature (the fastText setup: thousands of labels, billions
    * scored); the corpus-sized cost is [[scoreTextClassifier]]'s one
    * narrow pass. */
  def trainTextClassifier(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 256, iterations: Int = 8,
      lr: Double = 2.0): TextClassifierModel = {
    require(dim > 0 && iterations > 0 && lr > 0,
      s"need dim/iterations/lr > 0, got $dim/$iterations/$lr")
    val lab = labeled.select(col(idCol), col(labelCol).cast("double").as("y"))
      .barrierFirewall()
    // ONE aggregate job for the size + distinct-id checks (was two).
    // distinct().count() counted a null id as one distinct value;
    // count_distinct ignores nulls, so add the null bucket back.
    val cRow = lab.agg(count(lit(1)), count_distinct(col(idCol)),
      count(col(idCol))).head()
    val nl = cRow.getLong(0)
    require(nl > 0, "labeled set is empty")
    // Distinct ids are part of the accepted-input contract: with a
    // duplicated id the two loop twins diverge (the local path applies
    // ONE residual per id where the distributed feats-join-res inner
    // join applies one per duplicate row), and the gradient itself is
    // ill-defined when one id carries two labels. Fail loudly instead.
    val nd = cRow.getLong(1) + (if (cRow.getLong(2) < nl) 1L else 0L)
    require(nd == nl,
      s"labeled frame must carry distinct $idCol values: $nl rows but " +
        s"$nd distinct ids — dedup (or re-key) the labeled set first")
    val feats = features(labeled, idCol, textCol, dim).barrierFirewall()
    trainLoop(feats, lab, idCol, nl, dim, iterations, lr)
  }

  /** ROUND(x, 0) with the same SQL HALF_UP semantics as [[round6]] —
    * the micro-unit row rounding of the distributed loop, replicated
    * for the driver fast path. */
  private def round0(x: Double): Long =
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValue()

  /** The shared full-batch GD loop over an already-materialized
    * (feats, lab) pair — [[trainTextClassifier]] prepares both for one
    * binary problem; [[trainMultiClassClassifier]] reuses ONE feature
    * pass across all k one-vs-rest problems.
    *
    * Scale-adaptive fast path (the [[TextOps.nearDupClusters]]
    * `maxLocalEdges` contract class): the labeled set is small by
    * nature, so its feature table (≤ labeled docs × dim rows) is
    * usually collect-safe — below `maxLocalRows` the ENTIRE
    * fixed-iteration loop runs on the driver over ONE collect,
    * collapsing iterations × 3 tiny Spark jobs into plain Scala. Every
    * cross-row sum in the loop is an integer micro-unit Long (order-
    * independent) and every rounding is the same SQL HALF_UP, so the
    * two paths produce BIT-IDENTICAL models (spec-pinned, like the
    * distributed==driver BPE equality). Above the bound — a labeled
    * set that outgrows the driver — the distributed loop runs
    * unchanged. */
  private[text] def trainLoop(feats: DataFrame, lab: DataFrame, idCol: String,
      nl: Long, dim: Int, iterations: Int, lr: Double,
      maxLocalRows: Long = 1L << 20): TextClassifierModel = {
    val spark = feats.sparkSession
    import spark.implicits._
    if (feats.count() <= maxLocalRows) {
      val fr = collectFeatures(feats, idCol)
      val ys = lab.select(col(idCol).cast("string"), col("y"))
        .as[(String, Double)].collect()
      return trainLoopLocal(fr, ys, nl, dim, iterations, lr)
    }
    val buckets = feats.select("bucket").distinct().as[Int].collect().sorted
    var w: Map[Int, Double] = buckets.map(_ -> 0.0).toMap
    var b = 0.0
    (0 until iterations).foreach { _ =>
      val wDf = broadcast(w.toSeq.toDF("bucket", "wt"))
      val mg = feats.join(wDf, "bucket")
        .groupBy(idCol)
        .agg(sum(round(col("wt") * col("cnt") / col("n") * lit(1e6), 0)
          .cast("long")).as("mm"))
      val sig = round(lit(1.0) / (lit(1.0) +
        exp(-(lit(b) + coalesce(col("mm"), lit(0L)) / lit(1e6)))), 6)
      val res = lab.join(mg, Seq(idCol), "left")
        .select(col(idCol),
          round((sig - col("y")) * lit(1e6), 0).cast("long").as("rm"))
        .localCheckpoint() // shared by the bias and weight gradients
      val gb = res.agg(sum("rm")).as[Long].head()
      val g = feats.join(res, Seq(idCol))
        .groupBy("bucket")
        .agg(sum(round(col("rm") / lit(1e6) * col("cnt") / col("n") * lit(1e6), 0)
          .cast("long")).as("gm"))
        .as[(Int, Long)].collect().toMap
      b = round6(b - lr * (gb / 1e6) / nl)
      w = w.map { case (k, v) =>
        k -> round6(v - lr * (g.getOrElse(k, 0L) / 1e6) / nl)
      }
    }
    TextClassifierModel(w, b, dim)
  }

  /** One driver collect of a (small, count-checked) feature frame —
    * ids key only grouping/lookup in the local loop, so the string
    * cast is a safe universal key (feats and lab ids come from the
    * same frame). Shared so [[trainMultiClassClassifier]] collects the
    * features ONCE for all k one-vs-rest problems instead of once per
    * class. */
  private def collectFeatures(feats: DataFrame,
      idCol: String): Array[(String, Int, Long, Long)] = {
    val spark = feats.sparkSession
    import spark.implicits._
    feats.select(col(idCol).cast("string"), col("bucket"),
      col("cnt"), col("n")).as[(String, Int, Long, Long)].collect()
  }

  /** Driver-side twin of the distributed loop body: identical
    * expression shapes (same operand association), identical HALF_UP
    * roundings, Long sums throughout — any drift is a bug the equality
    * spec catches. */
  private def trainLoopLocal(fr: Array[(String, Int, Long, Long)],
      ys: Array[(String, Double)], nl: Long, dim: Int, iterations: Int,
      lr: Double): TextClassifierModel = {
    val buckets = fr.map(_._2).distinct.sorted
    var w: Map[Int, Double] = buckets.map(_ -> 0.0).toMap
    var b = 0.0
    val byDoc: Map[String, Array[(Int, Long, Long)]] =
      fr.groupBy(_._1).map { case (k, v) =>
        k -> v.map(t => (t._2, t._3, t._4)) }
    (0 until iterations).foreach { _ =>
      val mm: Map[String, Long] = byDoc.map { case (id, rows) =>
        id -> rows.map { case (bk, cnt, n) =>
          round0(w(bk) * cnt / n * 1e6) }.sum
      }
      val rm: Array[(String, Long)] = ys.map { case (id, y) =>
        val sig = round6(1.0 / (1.0 +
          math.exp(-(b + mm.getOrElse(id, 0L) / 1e6))))
        id -> round0((sig - y) * 1e6)
      }
      val rmMap = rm.toMap
      val gb = rm.map(_._2).sum
      val g = scala.collection.mutable.HashMap.empty[Int, Long]
      fr.foreach { case (id, bk, cnt, n) =>
        rmMap.get(id).foreach { r =>
          g(bk) = g.getOrElse(bk, 0L) + round0(r / 1e6 * cnt / n * 1e6)
        }
      }
      b = round6(b - lr * (gb / 1e6) / nl)
      w = w.map { case (k, v) =>
        k -> round6(v - lr * (g.getOrElse(k, 0L) / 1e6) / nl)
      }
    }
    TextClassifierModel(w, b, dim)
  }

  /** One-vs-rest multi-class model: one [[TextClassifierModel]] per
    * class over the SAME hashed feature space — k x (<= dim + 1)
    * numbers, still driver/broadcast-sized for any realistic class
    * count (FineWeb-Edu-style ordinal quality scoring is k = 6). */
  case class MultiClassTextModel(classes: Seq[String],
      models: Map[String, TextClassifierModel])

  /** Train a one-vs-rest classifier over a string label column. The
    * feature pass runs ONCE (localCheckpointed) and every class's
    * binary problem reuses it with its own 0/1 target — k x the
    * training loop, 1 x the corpus-touching work. Classes are the
    * label column's distinct values, sorted (deterministic model
    * identity). */
  def trainMultiClassClassifier(labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String, dim: Int = 256,
      iterations: Int = 8, lr: Double = 2.0): MultiClassTextModel = {
    require(dim > 0 && iterations > 0 && lr > 0,
      s"need dim/iterations/lr > 0, got $dim/$iterations/$lr")
    val spark = labeled.sparkSession
    import spark.implicits._
    val labAll = labeled
      .select(col(idCol), col(labelCol).cast("string").as("__cls"))
      .barrierFirewall()
    // ONE aggregate job for the size + distinct-id contract checks
    // (was two separate count jobs); the null-id bucket is added back
    // below because count_distinct ignores nulls where distinct() did not.
    val cRow = labAll.agg(count(lit(1)), count_distinct(col(idCol)),
      count(col(idCol))).head()
    val nl = cRow.getLong(0)
    require(nl > 0, "labeled set is empty")
    // same distinct-id contract as the binary trainer (and doubly so
    // here: a duplicated id with two DIFFERENT labels would make the
    // one-vs-rest targets contradictory)
    val ndAll = cRow.getLong(1) + (if (cRow.getLong(2) < nl) 1L else 0L)
    require(ndAll == nl,
      s"labeled frame must carry distinct $idCol values: $nl rows but " +
        s"$ndAll distinct ids — dedup (or re-key) the labeled set first")
    val classes = labAll.select("__cls").distinct().as[String]
      .collect().sorted.toSeq
    require(classes.size >= 2,
      s"need >= 2 distinct labels, got ${classes.size}")
    val feats = features(labeled, idCol, textCol, dim).barrierFirewall()
    // Scale-adaptive shared fast path (same bound and bit-identical
    // models as [[trainLoop]]'s local branch): below maxLocalRows the
    // feature table and the labels are collected ONCE and all k
    // one-vs-rest loops run on the driver over the same arrays — the
    // old shape paid k * (one feats count + one feats collect + one
    // label collect) for identical data. Above the bound, the
    // distributed loops run concurrently exactly as before.
    if (feats.count() <= (1L << 20)) {
      val fr = collectFeatures(feats, idCol)
      val labArr = labAll.select(col(idCol).cast("string"), col("__cls"))
        .as[(String, String)].collect()
      // (cls === c).cast("double") on a null label is null, which the
      // old per-class Dataset collect rejected; keep that contract.
      labArr.foreach { case (id, cls) => require(cls != null,
        s"null $labelCol label for id $id") }
      val models = classes.map { c =>
        val ys = labArr.map { case (id, cls) =>
          (id, if (cls == c) 1.0 else 0.0) }
        c -> trainLoopLocal(fr, ys, nl, dim, iterations, lr)
      }
      return MultiClassTextModel(classes, models.toMap)
    }
    // The k one-vs-rest problems are independent and each is a chain
    // of SMALL jobs (labeled-set-sized aggregates + <= dim-row
    // collects), so their driver loops run concurrently — the cluster
    // schedules k tiny jobs at once instead of serializing k *
    // iterations of fixed per-job latency. Results are unchanged:
    // each loop is deterministic and touches only its own frames.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val models = Await.result(
      Future.traverse(classes) { c => Future {
        val lab = labAll.select(col(idCol),
          (col("__cls") === c).cast("double").as("y"))
        c -> trainLoop(feats, lab, idCol, nl, dim, iterations, lr)
      }}, Duration.Inf)
    MultiClassTextModel(classes, models.toMap)
  }

  /** Score a corpus under a one-vs-rest model: (idCol, pred_label,
    * score) with pred_label the class whose binary sigmoid is highest
    * (ties break by class name ascending — deterministic and
    * oracle-mirrorable) and score that winning 6-dp sigmoid.
    *
    * Scale shape: ONE narrow feature pass (not k); the k x <= dim
    * weight rows join as a single broadcast long-format table; margins
    * are one (doc, class)-keyed hash agg; the argmax is a window
    * partitioned by doc — the same per-doc shuffle key as the margin
    * agg, so AQE plans them into one exchange. Nothing corpus-sized is
    * collected. */
  def scoreMultiClassClassifier(df: DataFrame, idCol: String,
      textCol: String, model: MultiClassTextModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = features(df, idCol, textCol,
      model.models(model.classes.head).dim)
    val wDf = broadcast(model.classes.flatMap(c =>
        model.models(c).weights.toSeq.map { case (b, wt) => (c, b, wt) })
      .toDF("__cls", "bucket", "wt"))
    val mg = feats.join(wDf, Seq("bucket"))
      .groupBy(col(idCol), col("__cls"))
      .agg(sum(round(col("wt") * col("cnt") / col("n") * lit(1e6), 0)
        .cast("long")).as("mm"))
    // every doc scores every class (a doc sharing no bucket with a
    // class still has that class's bias): doc x class grid via a
    // broadcast of the k-row bias table
    val biases = broadcast(model.classes.map(c =>
      (c, model.models(c).bias)).toDF("__cls", "__bias"))
    val scored = df.select(col(idCol)).crossJoin(biases)
      .join(mg, Seq(idCol, "__cls"), "left")
      .select(col(idCol), col("__cls"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("__bias") +
          coalesce(col("mm"), lit(0L)) / lit(1e6)))), 6).as("__score"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("__score").desc, col("__cls").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__cls").as("pred_label"),
        col("__score").as("score"))
  }

  /** Score a corpus under a trained model: (idCol, score, pred) with
    * score the 6-dp sigmoid of the margin and pred = score >= 0.5.
    * One narrow feature pass + a broadcast join of the <= dim-row
    * weight table + a per-doc hash agg — no corpus-sized shuffle
    * beyond the per-doc aggregation, nothing collected. */
  def scoreTextClassifier(df: DataFrame, idCol: String, textCol: String,
      model: TextClassifierModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = features(df, idCol, textCol, model.dim)
    val wDf = broadcast(model.weights.toSeq.toDF("bucket", "wt"))
    val mg = feats.join(wDf, Seq("bucket"), "left")
      .groupBy(idCol)
      .agg(sum(round(coalesce(col("wt"), lit(0.0)) * col("cnt") / col("n") *
        lit(1e6), 0).cast("long")).as("mm"))
    val score = round(lit(1.0) / (lit(1.0) +
      exp(-(lit(model.bias) + coalesce(col("mm"), lit(0L)) / lit(1e6)))), 6)
    df.select(col(idCol)).join(mg, Seq(idCol), "left")
      .select(col(idCol), score.as("score"), (score >= 0.5).as("pred"))
  }
}
