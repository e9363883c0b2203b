package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** ANN quality measurement: recall@k of each approximate search path
  * — [[Similarity.ivfSearch]] (by nProbe), [[Similarity.pqAdcSearch]]
  * (by m) and [[Similarity.sqSearch]] — against the exact
  * [[Similarity.cosineTopK]] ground truth on the real embeddings
  * table. The correctness oracles prove each path honors its own
  * contract; THIS harness measures the quality axis those contracts
  * don't: how much of the true neighborhood each compression/probing
  * level keeps, the table that turns nProbe/m tuning at 100 TB from
  * guesswork into a lookup. The testdata embeddings are unit-norm, so
  * the L2-ranked PQ/SQ paths are directly comparable to the cosine
  * ground truth (L2^2 = 2 - 2cos on the unit sphere).
  *
  * Usage: runMain graft.tools.RecallScale [sfDir] [nQueries] [k]
  */
object RecallScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = if (args.length > 1) args(1).toInt else 100
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SparkEntry.localSession()

    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val nRows = emb.count()
    val queries = emb.filter(col("vec_id") < nQueries).cache()
    queries.count()

    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k)
      .select(col("query_id"), col("cand_id")).cache()
    val nExact = exact.count()
    println(s"RECALL ground truth: $nExact exact pairs " +
      s"($nQueries queries x k=$k over $nRows rows)")

    def recall(label: String, approx: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val hits = approx.select(col("query_id"), col("cand_id"))
        .join(exact, Seq("query_id", "cand_id")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RECALL op=$label%-16s k=$k recall=${hits.toDouble / nExact}%6.3f " +
        f"wall=$sec%6.2f s")
    }

    // IVF: 16 trained cells; nProbe sweeps the coverage/cost trade.
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      initIds = 0L until 16L, iterations = 2)
    val centArg = cents.select(col("cell").as("vec_id"),
      col("centroid").as("embedding"))
    val indexed = Similarity.ivfAssign(emb, centArg, "vec_id", "embedding")
      .cache()
    indexed.count()
    Seq(1, 2, 4, 8, 16).foreach { nProbe =>
      recall(s"ivf nProbe=$nProbe", Similarity.ivfSearch(indexed, centArg,
        queries, "vec_id", "embedding", k, nProbe))
    }

    // PQ: trained codebooks at m subspaces of dim 64/m; more subspaces
    // = finer quantization = higher recall, bigger codes.
    Seq(4, 8, 16).foreach { m =>
      val subDim = 64 / m
      val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
        m = m, subDim = subDim, initIds = 0L until 16L, iterations = 2)
      val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        m = m, subDim = subDim)
      recall(s"pq m=$m", Similarity.pqAdcSearch(codes, cb, queries,
        "vec_id", "embedding", m = m, subDim = subDim, k = k))
    }

    // IVF-PQ: PQ over RESIDUALS against the trained cells (Jégou
    // IVFADC) — same code budget as raw PQ at each m, plus the probe
    // knob; the residual codebook sees only within-cell offsets, which
    // is where the raw-PQ recall went missing on this corpus.
    val res = Similarity.ivfResiduals(indexed, centArg, "vec_id", "embedding")
      .cache()
    res.count()
    Seq(4, 8).foreach { m =>
      val subDim = 64 / m
      val rcb = Similarity.pqTrainCodebook(res, "vec_id", "res",
        m = m, subDim = subDim, initIds = 0L until 16L, iterations = 2)
      val enc = Similarity.ivfPqEncode(res, rcb, "vec_id",
        m = m, subDim = subDim)
      Seq(4, 16).foreach { nProbe =>
        recall(f"ivfpq m=$m np=$nProbe", Similarity.ivfPqSearch(enc, centArg,
          rcb, queries, "vec_id", "embedding", m = m, subDim = subDim,
          k = k, nProbe = nProbe))
      }
    }

    // SQ: one int8 code per dimension — the cheapest compression.
    val stats = Similarity.sqStats(emb, "embedding", dim = 64)
    val codes = Similarity.sqEncode(emb, "vec_id", "embedding", dim = 64)
    recall("sq int8", Similarity.sqSearch(codes, stats, queries,
      "vec_id", "embedding", k))

    // Two-stage retrieval: compressed shortlist (x2/x4/x8 the final k)
    // -> exact-cosine rerank. The rerank can only ever reorder WITHIN
    // the shortlist, so its recall = fraction of true neighbors the
    // shortlist captured — the number that tells you how big an ANN
    // shortlist must be before rerank recovers exact-search quality.
    {
      val m = 4; val subDim = 16
      val cbR = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
        m = m, subDim = subDim, initIds = 0L until 16L, iterations = 2)
      val codesR = Similarity.pqEncode(emb, cbR, "vec_id", "embedding",
        m = m, subDim = subDim)
      Seq(2, 4, 8).foreach { mult =>
        val short = Similarity.pqAdcSearch(codesR, cbR, queries,
          "vec_id", "embedding", m = m, subDim = subDim, k = k * mult)
        recall(f"pq4+rerank x$mult",
          Similarity.rerankExact(short, emb, queries, "vec_id", "embedding", k))
      }
      Seq(2, 4).foreach { mult =>
        val short = Similarity.ivfSearch(indexed, centArg, queries,
          "vec_id", "embedding", k * mult, nProbe = 4)
        recall(f"ivf np=4+rerank x$mult",
          Similarity.rerankExact(short, emb, queries, "vec_id", "embedding", k))
      }
    }

    // ---- clustered corpus: residual coding's home turf ---------------------
    // The shipped embeddings are near-uniform random, so residuals
    // against any centroid are as random as the originals and IVFADC
    // can only match raw PQ (the table above). REAL embedding corpora
    // cluster; this section measures both paths on a deterministic
    // 16-cluster corpus (seeded unit centers, sigma=0.08 offsets) to
    // show where the residual step pays.
    {
      import spark.implicits._
      val rnd = new scala.util.Random(42)
      def unitVec(): Array[Double] = {
        val a = Array.fill(64)(rnd.nextGaussian())
        val n = math.sqrt(a.map(x => x * x).sum)
        a.map(_ / n)
      }
      val centers = Array.fill(16)(unitVec())
      val rows = (0 until 2000).map { i =>
        (i.toLong, centers(i % 16).map(_ + 0.08 * rnd.nextGaussian()))
      }
      val cemb = rows.toDF("vec_id", "embedding").cache()
      cemb.count()
      val cq = cemb.filter(col("vec_id") < nQueries).cache()
      val cExact = Similarity.cosineTopK(cemb, cq, "vec_id", "embedding", k)
        .select(col("query_id"), col("cand_id")).cache()
      val nCExact = cExact.count()
      def crecall(label: String, approx: DataFrame): Unit = {
        val t0 = System.nanoTime()
        val hits = approx.select(col("query_id"), col("cand_id"))
          .join(cExact, Seq("query_id", "cand_id")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"RECALL op=$label%-22s k=$k recall=${hits.toDouble / nCExact}%6.3f " +
          f"wall=$sec%6.2f s")
      }
      val ccents = Similarity.kmeansCentroids(cemb, "vec_id", "embedding",
        initIds = 0L until 16L, iterations = 2)
      val ccentArg = ccents.select(col("cell").as("vec_id"),
        col("centroid").as("embedding"))
      val cindexed = Similarity.ivfAssign(cemb, ccentArg, "vec_id", "embedding")
        .cache()
      cindexed.count()
      val cres = Similarity.ivfResiduals(cindexed, ccentArg,
        "vec_id", "embedding").cache()
      cres.count()
      Seq(4, 8).foreach { m =>
        val subDim = 64 / m
        val cb = Similarity.pqTrainCodebook(cemb, "vec_id", "embedding",
          m = m, subDim = subDim, initIds = 0L until 16L, iterations = 2)
        val pcodes = Similarity.pqEncode(cemb, cb, "vec_id", "embedding",
          m = m, subDim = subDim)
        crecall(s"clustered pq m=$m", Similarity.pqAdcSearch(pcodes, cb,
          cq, "vec_id", "embedding", m = m, subDim = subDim, k = k))
        val rcb = Similarity.pqTrainCodebook(cres, "vec_id", "res",
          m = m, subDim = subDim, initIds = 0L until 16L, iterations = 2)
        val enc = Similarity.ivfPqEncode(cres, rcb, "vec_id",
          m = m, subDim = subDim)
        Seq(4, 16).foreach { nProbe =>
          crecall(s"clustered ivfpq m=$m np=$nProbe",
            Similarity.ivfPqSearch(enc, ccentArg, rcb, cq, "vec_id",
              "embedding", m = m, subDim = subDim, k = k, nProbe = nProbe))
        }
      }
    }

    spark.stop()
  }
}
