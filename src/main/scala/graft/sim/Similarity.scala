package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

import graft.util.Barriers.FirewallOps

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale design:
  *  - [[cosineTopK]] is the exact brute-force baseline (broadcast the
  *    query set; one narrow pass over the corpus).
  *  - [[srpSignature]] buckets vectors by signed random projections so
  *    near-duplicate candidate generation is a hash-aggregate, not an
  *    O(n^2) cross join.
  *  - [[ivfAssign]]/[[ivfSearch]] partition the corpus into cells
  *    (inverted file); queries probe only the closest cells, cutting the
  *    scanned fraction to nProbe/k at 100 TB corpus scale.
  */
object Similarity {

  /** Dot product of two array<double> columns — a codegen'd [[Dot]]
    * kernel (one compiled multiply-accumulate loop; the HOF form
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is interpreted and was
    * the similarity track's hot spot: one tree-walking fold per
    * hyperplane/candidate per row). Same summation order -> same bits. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(Dot(Bridge.expression(a), Bridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * This is the brute-force baseline: cost is O(|corpus| * |queries|)
    * and the query set is broadcast, so it is only safe for small query
    * batches — `maxQueries` enforces that contract up front (one cheap
    * limit+count on the query side) instead of melting on the cross
    * join. For large query sets use [[srpCandidates]] or [[ivfSearch]].
    *
    * Identity contract: `idCol` values are compared ACROSS the two
    * frames — with `excludeSelf=true` (default) a candidate whose id
    * equals the query's id is dropped, the right behavior when queries
    * are drawn from the corpus itself (self is always the top-1 hit).
    * For genuinely external query vectors whose ids merely coincide
    * with corpus ids, pass `excludeSelf=false` (or namespace the query
    * ids), otherwise a valid nearest neighbor is silently excluded. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, maxQueries: Int = 10000,
      excludeSelf: Boolean = true): DataFrame = {
    val nQ = queries.limit(maxQueries + 1).count()
    require(nQ <= maxQueries,
      s"cosineTopK is the exact brute-force baseline; query set exceeds " +
        s"maxQueries=$maxQueries — use srpCandidates/ivfSearch for large batches")
    val c = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("cand_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** k-NN majority-vote label prediction over an embedding column —
    * label propagation / weak supervision for training-data pipelines:
    * each query vector takes the most frequent label among its k
    * nearest (cosine) corpus neighbors, ties broken toward the
    * smallest label for determinism.
    *
    * Scale shape: the neighbor table is |queries| x k rows — tiny next
    * to the corpus — so the label lookup joins that small side against
    * the corpus projection on the corpus' own id (AQE broadcasts the
    * neighbor side); the vote is a partial+final hash agg on at most
    * |queries| x k rows. The expensive part is the neighbor search
    * itself, which is [[cosineTopK]] (or swap in [[ivfSearch]] results
    * via the same column contract for large query batches).
    *
    * Inherits [[cosineTopK]]'s identity contract: with the default
    * `excludeSelf=true`, a corpus row sharing the query's id never
    * votes (right when queries come from the labeled corpus itself —
    * self-voting would leak the label); set it false for external
    * query vectors whose ids may coincide with corpus ids. */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val nn = cosineTopK(corpus, queries, idCol, vecCol, k, excludeSelf = excludeSelf)
    val labels = corpus.select(col(idCol).as("cand_id"), col(labelCol).as("__lbl"))
    val votes = nn.join(labels, "cand_id")
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id").orderBy(desc("votes"), col("__lbl"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("__lbl").as(s"pred_$labelCol"), col("votes"))
  }

  /** Deterministic pseudo-random hyperplanes (driver-side, seeded). */
  def randomPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  /** Signed-random-projection LSH signature: one bit per hyperplane
    * (sign of the dot product). Vectors sharing a signature are
    * near-duplicate candidates under cosine similarity. */
  def srpSignature(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bits = planes.map { plane =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(v, planeCol) >= 0.0, "1").otherwise("0")
    }
    df.select(col(idCol), concat(bits: _*).as("srp_sig"))
  }

  /** Candidate near-duplicate groups: signatures shared by >1 vector. */
  def srpCandidates(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]]): DataFrame =
    srpSignature(df, idCol, vecCol, planes)
      .groupBy("srp_sig")
      .agg(count(lit(1)).as("n"), min(idCol).as("min_id"), max(idCol).as("max_id"))
      .filter(col("n") > 1)

  /** Embedding-cosine near-duplicate pairs: SRP-bucketed candidate
    * generation (never all-pairs — the join fans out only within shared
    * signatures) followed by exact cosine verification at `minCosine`.
    * The embedding analogue of the minhash -> jaccard text loop:
    * returns (a_id, b_id, cos) for verified pairs. Scale shape: two
    * shuffle joins keyed by signature/id, codegen'd [[Dot]] in the
    * verify projection, no broadcast of anything unbounded.
    *
    * BEHAVIOR CHANGE (r13, see CHANGELOG.md): candidate generation
    * inherits [[graft.text.TextOps.lshCandidatePairs]]' hot-bucket cap
    * BY DEFAULT — inside an SRP bucket larger than
    * [[graft.text.TextOps.HotBucketCap]] only hub (min-id) pairs are
    * emitted, so a borderline pair in a mega-bucket is recalled via
    * the exact-cosine verify of its hub edges / another bucket, not
    * exhaustively. Downstream clustering is unaffected for genuine
    * duplicate clusters (hub keeps the component connected); pair
    * LISTINGS are a capped subset under skew. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], minCosine: Double): DataFrame = {
    val sig = srpSignature(df, idCol, vecCol, planes)
    // signature = bucket: the shared hot-bucket star-edge cap applies
    // (an embedding mega-cluster collapsing onto one SRP signature is
    // the same in-bucket quadratic as the text/image chains)
    val pairs = graft.text.TextOps.lshCandidatePairs(
      sig.select(col(idCol), col("srp_sig").as("bucket")), idCol)
    val v = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    pairs
      .join(v.select(col(idCol).as("a_id"), col("v").as("av")), "a_id")
      .join(v.select(col(idCol).as("b_id"), col("v").as("bv")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(cosine(col("av"), col("bv")), 4).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** IVF centroid training: k-means (Lloyd) with deterministic
    * initialization — the `initIds` rows seed the centroids, then each
    * iteration is one broadcast-assign + one hash-aggregate mean per
    * cell (no driver-side loops over vectors; only the k centroid rows
    * are collected between iterations, mirroring how any distributed
    * k-means keeps model state driver-side while data stays put).
    * Cosine assignment with centroid-id tie-break, like [[ivfAssign]].
    * Returns (cell, centroid array) with cells 0..k-1 ordered by the
    * rank of their seed id. At 100 TB: per-iteration cost is one scan +
    * one shuffle of k partial sums per partition; k and dim are small,
    * so the collected model is a few KB. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // id cast up front: a testdata re-encode to int32 ids must not
    // break the seed collection's getLong (drift-net lesson)
    val c = corpus.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as("v"))
    var centroids = c
      .filter(col(idCol).isInCollection(initIds))
      .select(col(idCol), col("v"))
      .collect()
      .sortBy(r => initIds.indexOf(r.getLong(0)))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
      .toSeq
    (0 until iterations).foreach { _ =>
      val centDf = centroids.toDF("cell", "cv")
      val scored = c.crossJoin(broadcast(centDf))
        .select(col(idCol), col("v"), col("cell"),
          cosine(col("v"), col("cv")).as("sim"))
      val w = Window.partitionBy(idCol).orderBy(desc("sim"), col("cell"))
      val assigned = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      // per-cell mean, element-wise: explode + (cell, pos) average keeps
      // the aggregation a plain hash agg at any dimension
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), expr("transform(pm, e -> e.m)").as("cv"))
        .as[(Long, Seq[Double])].collect().toMap
      // cells that lost every member keep their previous centroid
      centroids = centroids.map { case (cell, cv) =>
        (cell, means.getOrElse(cell, cv))
      }
    }
    centroids.toDF("cell", "centroid")
  }

  /** Assign each vector to its nearest centroid (IVF cell) by cosine;
    * centroids are broadcast. Ties break on centroid id. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val cent = centroids.select(col(idCol).as("cell"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = c.crossJoin(broadcast(cent))
      .select(col(idCol), col("v"), col("cell"),
        round(cosine(col("v"), col("cv")), 4).as("sim"))
    val w = Window.partitionBy(idCol).orderBy(desc("sim"), col("cell"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("v"), col("cell"))
  }

  /** ANN search through the IVF index: probe the nProbe closest cells
    * per query, then brute-force only within those cells.
    *
    * The probed (query x cell) set — full query vectors included — is
    * broadcast to every corpus partition, so like [[cosineTopK]] this
    * carries an explicit size contract: `maxProbedRows` bounds
    * |queries| * nProbe up front (one cheap limit+count on the query
    * side) instead of OOMing the driver on the broadcast. Larger query
    * batches should be split, or joined without the broadcast hint. */
  def ivfSearch(indexed: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      maxProbedRows: Int = 100000): DataFrame = {
    // The probe set (query vectors x nProbe cells) is broadcast when it
    // fits the size contract — one hash join, no shuffle of the corpus.
    // A larger batch falls back to a shuffle join keyed on the cell id:
    // both sides repartition by cell, the corpus side once, and no
    // driver-size limit applies. Same results either way; the switch is
    // the same class of decision AQE makes for join strategies.
    val maxQ = math.max(1, maxProbedRows / math.max(1, nProbe))
    val smallBatch = queries.limit(maxQ + 1).count() <= maxQ
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cent = centroids.select(col(idCol).as("cell"),
      col(vecCol).cast("array<double>").as("cv"))
    val qCells = q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cell"),
        cosine(col("qv"), col("cv")).as("sim"))
    val wq = Window.partitionBy("query_id").orderBy(desc("sim"), col("cell"))
    val probed = qCells.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe).select("query_id", "qv", "cell")
    val probeSide = if (smallBatch) broadcast(probed) else probed
    val cands = indexed.join(probeSide, Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("cand_id"),
        round(cosine(col("qv"), col("v")), 4).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("cand_id"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  // ---- product quantization (PQ) -------------------------------------------

  /** Per-subspace slices of a vector column: (sub_idx, slice) structs,
    * exploded. ONE definition shared by codebook, encode, and search so
    * the three stages can never disagree on subspace boundaries. */
  private def subvectors(df: DataFrame, idAs: String, idCol: String,
      vecCol: String, m: Int, subDim: Int, sliceAs: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val subs = (0 until m).map(s =>
      struct(lit(s).as("sub_idx"), slice(v, s * subDim + 1, subDim).as(sliceAs)))
    df.select(col(idCol).as(idAs), explode(array(subs: _*)).as("e"))
      .select(col(idAs), col("e.sub_idx").as("sub_idx"),
        col(s"e.$sliceAs").as(sliceAs))
  }

  /** Squared L2 distance rounded to 6 decimals — the dot identity
    * dot(a,a) - 2 dot(a,b) + dot(b,b) on the codegen'd [[Dot]] kernel.
    * ONE definition shared by [[pqEncode]] (assignment argmin) and
    * [[pqAdcSearch]] (lookup table) so encode and search can never
    * drift to different distance semantics; mirrored term-for-term by
    * the oracle's PQ_SQL. */
  private def sqDist6(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 6)

  /** PQ codebook from a small source frame (Jégou et al. 2011): each
    * source vector contributes one centroid per subspace — returns
    * (code_id, sub_idx, subvec) with m rows per source vector, where
    * subspace s covers dimensions [s*subDim, (s+1)*subDim). Callers pick
    * the source: a deterministic id-prefix sample (this library's oracle
    * path), or a per-subspace [[kmeansCentroids]] run reshaped to the
    * same three columns — encode/search only contract on the shape. */
  def pqCodebook(source: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    subvectors(source, "code_id", idCol, vecCol, m, subDim, "subvec")

  /** Int8 scalar quantization (FAISS SQ8-style): per-dimension
    * [min, max] over the corpus, each component mapped to
    * round(255 * (x - min) / (max - min)) in 0..255, plus the rounded
    * total squared reconstruction error (recon_d = min_d + code_d *
    * (max_d - min_d) / 255). The memory-for-precision trade one tier
    * milder than PQ: 1 byte per DIMENSION (4x smaller than float32,
    * exact per-dim bounds) vs PQ's 1 byte per SUBSPACE. A constant
    * dimension (max == min) encodes to 0 and reconstructs exactly.
    * Returns (idCol, codes array<int> in dimension order, err).
    *
    * Determinism: min/max involve no summation (exact under any
    * aggregation order); per-dim squared errors are rounded into
    * integer nano-units before the fixed-order array sum, and the
    * final err is 6-dp rounded — both engines bit-agree.
    *
    * Scale shape: the stats row is one partial+final aggregate of
    * 2*dim scalars (KBs, broadcast back); encoding is a narrow
    * per-row map over the corpus — no explode, no shuffle. The codes
    * are the 100 TB point: an int8 array per vector scans 4x faster
    * than the float array it replaces. */
  /** Per-dimension [min, max] training row for [[sqEncode]] /
    * [[sqSearch]]: one partial+final aggregate collapsing the corpus
    * to a single (__mn, __mx) array pair — KBs, broadcast wherever
    * the bounds are needed. */
  def sqStats(corpus: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val v = (d: Int) => element_at(col(vecCol), d + 1).cast("double")
    corpus.agg(
      array((0 until dim).map(d => min(v(d))): _*).as("__mn"),
      array((0 until dim).map(d => max(v(d))): _*).as("__mx"))
  }

  def sqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val stats = sqStats(corpus, vecCol, dim)
    // Array HOFs (one compiled loop), NOT per-dim unrolled expressions:
    // the original array((0 until 64).map(code)) + 64-term err chain
    // inlined ~1500 expression nodes into one generated method, blowing
    // Janino's method-size limit — the whole SQ stage then ran on the
    // interpreted fallback after a multi-second failed compile. Same
    // arithmetic per dimension (identical association and rounding, so
    // the t56/t57 oracles are bit-unchanged); the err fold sums longs
    // ascending-d exactly like the old reduce chain.
    val v = slice(col(vecCol).cast("array<double>"), 1, dim)
    val mnD = (d: Column) => element_at(col("__mn"), d + 1)
    val mxD = (d: Column) => element_at(col("__mx"), d + 1)
    val codeOf = (x: Column, d: Column) =>
      when(mxD(d) === mnD(d), lit(0)).otherwise(
        round(lit(255.0) * (x - mnD(d)) / (mxD(d) - mnD(d)), 0).cast("int"))
    val errTerms = transform(v, (x, d) => {
      val recon = mnD(d) + codeOf(x, d).cast("double") * (mxD(d) - mnD(d)) /
        lit(255.0)
      round((x - recon) * (x - recon) * lit(1e9), 0).cast("long")
    })
    corpus.crossJoin(broadcast(stats))
      .select(col(idCol),
        transform(v, (x, d) => codeOf(x, d)).as("codes"),
        round(aggregate(errTerms, lit(0L), (a, x) => a + x).cast("double") /
          lit(1e9), 6).as("err"))
  }

  /** Trained PQ codebook — per-subspace k-means (Jégou et al. 2011
    * §III-A: a separate quantizer per subspace), Lloyd's algorithm with
    * deterministic seeding: code c of subspace s starts at the s-th
    * subvector of the initIds(c) row. Assignment uses the SAME
    * [[sqDist6]] rounding and smaller-code tie-break as [[pqEncode]],
    * and centroid means are rounded to 6 decimals, so training is
    * bit-reproducible across engines (summation-order ULP drift in an
    * unrounded mean could flip a downstream argmin). Returns the same
    * (code_id, sub_idx, subvec) contract as [[pqCodebook]] with
    * code_id = rank in `initIds`; codes that lose every member keep
    * their previous centroid.
    *
    * Scale shape: all m subspace problems advance in ONE corpus pass
    * per Lloyd iteration — slice+explode (narrow), broadcast join of
    * the m*k centroid rows (KBs), argmin as a min-struct hash agg (no
    * window sort), then a per-(sub, code, pos) hash-agg mean; only the
    * m*k model rows are ever collected, data stays put. */
  def pqTrainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, initIds: Seq[Long], iterations: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val subs = subvectors(corpus, "__vid", idCol, vecCol, m, subDim, "sv")
    var centroids: Seq[(Long, Int, Seq[Double])] =
      subvectors(corpus.filter(col(idCol).isInCollection(initIds)),
          "__sid", idCol, vecCol, m, subDim, "sv")
        .as[(Long, Int, Seq[Double])].collect().toSeq
        .map { case (sid, sub, sv) => (initIds.indexOf(sid).toLong, sub, sv) }
        .sortBy(t => (t._1, t._2))
    (0 until iterations).foreach { _ =>
      val centDf = centroids.toDF("code_id", "sub_idx", "subvec")
      val assigned = subs.join(broadcast(centDf), Seq("sub_idx"))
        .select(col("__vid"), col("sub_idx"), col("sv"),
          sqDist6(col("sv"), col("subvec")).as("d2"), col("code_id"))
        .groupBy(col("__vid"), col("sub_idx"))
        // sv is constant within the (__vid, sub_idx) group, so first()
        // is deterministic here
        .agg(min(struct(col("d2"), col("code_id"))).as("b"),
          first(col("sv")).as("sv"))
        .select(col("sub_idx"), col("b.code_id").as("code_id"), col("sv"))
      val means = assigned
        .select(col("sub_idx"), col("code_id"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub_idx", "code_id", "pos")
        .agg(round(avg("x"), 6).as("mv"))
        .groupBy("sub_idx", "code_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("code_id"), col("sub_idx"),
          expr("transform(pm, e -> e.mv)").as("sv"))
        .as[(Long, Int, Seq[Double])].collect()
        .map(t => ((t._1, t._2), t._3)).toMap
      centroids = centroids.map { case (cid, sub, sv) =>
        (cid, sub, means.getOrElse((cid, sub), sv))
      }
    }
    centroids.toDF("code_id", "sub_idx", "subvec")
  }

  /** PQ encode: nearest codebook entry per subspace by squared L2 —
    * computed as dot(a,a) - 2 dot(a,b) + dot(b,b) on the codegen'd
    * [[Dot]] kernel and rounded to 6 decimals BEFORE the argmin so
    * engines agree on ties, which then break toward the smaller code
    * id. Returns (idCol, codes array ordered by subspace, err = rounded
    * total squared quantization error).
    *
    * Scale shape: the codebook (m * nCodes rows, KBs) is broadcast; the
    * corpus side is one narrow projection + m-way explode + two hash
    * aggregates (min(struct) per (id, sub), then the per-id code
    * array). The output is the point of PQ at 100 TB: m small code ids
    * per vector instead of the full float array, so the ADC scan in
    * [[pqAdcSearch]] never touches original vectors. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, m: Int, subDim: Int): DataFrame = {
    val exploded = subvectors(corpus, idCol, idCol, vecCol, m, subDim, "sv")
    val scored = exploded.join(broadcast(codebook), Seq("sub_idx"))
      .select(col(idCol), col("sub_idx"), col("code_id"),
        sqDist6(col("sv"), col("subvec")).as("d2"))
    val best = scored.groupBy(col(idCol), col("sub_idx"))
      .agg(min(struct(col("d2"), col("code_id"))).as("b"))
      .select(col(idCol), col("sub_idx"),
        col("b.code_id").as("code"), col("b.d2").as("d2"))
    best.groupBy(idCol)
      .agg(
        expr("transform(array_sort(collect_list(struct(sub_idx, code))), e -> e.code)")
          .as("codes"),
        round(sum("d2"), 6).as("err"))
  }

  /** Asymmetric-distance (ADC) PQ search: the exact query-subvector to
    * centroid squared distances form a lookup table of
    * |queries| * m * nCodes rows — broadcast, it is KBs — and each
    * encoded corpus vector's approximate distance is the sum of its m
    * codes' table entries (rounded like [[pqEncode]]). Top-k per query
    * by (distance asc, cand id). The corpus pass reads ONLY the code
    * ids, never the original vectors — the PQ memory shape that makes
    * exhaustive ANN scans feasible at 100 TB.
    *
    * Identity contract mirrors [[cosineTopK]]: with the default
    * `excludeSelf=true` a candidate sharing the query's id is dropped
    * (right when queries come from the encoded corpus); pass false for
    * external queries whose ids merely coincide with corpus ids. */
  def pqAdcSearch(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val qsubs = subvectors(queries, "query_id", idCol, vecCol, m, subDim, "qsv")
    val lut = qsubs.join(codebook, Seq("sub_idx"))
      .select(col("query_id"), col("sub_idx"), col("code_id"),
        sqDist6(col("qsv"), col("subvec")).as("d2"))
    val expanded = codes.select(col(idCol).as("cand_id"),
      posexplode(col("codes")).as(Seq("sub_idx", "code_id")))
    val dists = expanded.join(broadcast(lut), Seq("sub_idx", "code_id"))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(round(sum("d2"), 6).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("cand_id"))
    dists.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  // ---- IVF-PQ (residual product quantization) -----------------------------

  /** Residual vectors after IVF assignment: each vector minus its
    * cell's centroid (Jégou et al. 2011 §III — quantizing residuals
    * concentrates the PQ codebook on the within-cell distribution,
    * which is why IVF-PQ recall beats raw PQ at the same code budget;
    * measured in BASELINE.md's recall table). Input is [[ivfAssign]]'s
    * output; centroids are broadcast. Returns (idCol, cell, res).
    * Scale shape: one broadcast join + a zip_with projection — narrow,
    * no shuffle. */
  def ivfResiduals(indexed: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cent = centroids.select(col(idCol).as("cell"),
      col(vecCol).cast("array<double>").as("cv"))
    indexed.join(broadcast(cent), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("res"))
  }

  /** PQ-encode IVF residuals, keeping the cell id alongside the codes:
    * same assignment rule as [[pqEncode]] (6-dp-rounded squared L2,
    * smaller-code tie-break) with `cell` carried through the
    * aggregation keys — the inverted-list layout an IVF-PQ index scan
    * reads (cell -> [cand codes]). Returns (idCol, cell, codes, err).
    * Scale shape identical to [[pqEncode]]: broadcast codebook, m-way
    * explode, two hash aggregates. */
  def ivfPqEncode(residuals: DataFrame, codebook: DataFrame, idCol: String,
      m: Int, subDim: Int): DataFrame = {
    val exploded = residuals.select(col(idCol), col("cell"),
        explode(array((0 until m).map(s => struct(lit(s).as("sub_idx"),
          slice(col("res"), s * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col(idCol), col("cell"),
        col("e.sub_idx").as("sub_idx"), col("e.sv").as("sv"))
    val scored = exploded.join(broadcast(codebook), Seq("sub_idx"))
      .select(col(idCol), col("cell"), col("sub_idx"), col("code_id"),
        sqDist6(col("sv"), col("subvec")).as("d2"))
    scored.groupBy(col(idCol), col("cell"), col("sub_idx"))
      .agg(min(struct(col("d2"), col("code_id"))).as("b"))
      .groupBy(col(idCol), col("cell"))
      .agg(
        expr("transform(array_sort(collect_list(struct(sub_idx, b.code_id as code))), e -> e.code)")
          .as("codes"),
        round(sum("b.d2"), 6).as("err"))
  }

  /** IVF-PQ ANN search: probe the nProbe closest cells per query
    * (cosine, [[ivfSearch]]'s rule), form the QUERY RESIDUAL against
    * each probed cell's centroid, build the per-(query, cell) ADC
    * lookup table against the residual codebook, and score only the
    * probed cells' encoded candidates by summed table entries — the
    * full Jégou IVFADC pipeline. Top-k per query by (adist, cand id).
    *
    * Scale shape: the LUT is |queries| * nProbe * m * nCodes rows of
    * scalars — KBs, broadcast; the corpus side reads ONLY (cell,
    * codes), joined on (cell, sub_idx, code_id), so like
    * [[pqAdcSearch]] no original vector is touched, and like
    * [[ivfSearch]] only probed cells contribute candidates. */
  def ivfPqSearch(encoded: DataFrame, centroids: DataFrame,
      codebook: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, nProbe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cent = centroids.select(col(idCol).as("cell"),
      col(vecCol).cast("array<double>").as("cv"))
    val qCells = q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cell"), col("cv"),
        cosine(col("qv"), col("cv")).as("sim"))
    val wq = Window.partitionBy("query_id").orderBy(desc("sim"), col("cell"))
    val probed = qCells.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
    val lutBase = probed.select(col("query_id"), col("cell"),
        explode(array((0 until m).map(s => struct(lit(s).as("sub_idx"),
          slice(col("qr"), s * subDim + 1, subDim).as("qsv"))): _*)).as("e"))
      .select(col("query_id"), col("cell"),
        col("e.sub_idx").as("sub_idx"), col("e.qsv").as("qsv"))
    val lut = lutBase.join(codebook, Seq("sub_idx"))
      .select(col("query_id"), col("cell"), col("sub_idx"), col("code_id"),
        sqDist6(col("qsv"), col("subvec")).as("d2"))
    val expanded = encoded.select(col(idCol).as("cand_id"), col("cell"),
      posexplode(col("codes")).as(Seq("sub_idx", "code_id")))
    val dists = expanded.join(broadcast(lut), Seq("cell", "sub_idx", "code_id"))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(round(sum("d2"), 6).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("cand_id"))
    dists.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Exact re-ranking of an approximate shortlist — the standard
    * two-stage retrieval shape at scale: an ANN path ([[ivfSearch]] /
    * [[pqAdcSearch]] / [[ivfPqSearch]] / [[sqSearch]]) produces a
    * shortlist of candidates per query from compressed codes WITHOUT
    * touching raw vectors, then only those (query, cand) pairs are
    * joined back to the original vectors and scored with the exact
    * rounded cosine ([[cosineTopK]]'s 4-dp score and (desc score,
    * cand_id) tie contract, so reranked output is directly comparable
    * to the brute-force baseline). Returns (query_id, cand_id, score),
    * top `k` per query.
    *
    * Scale shape: the shortlist is |queries| x shortK rows — tiny —
    * so the corpus join is keyed on the candidate id with the small
    * side broadcast by AQE; the corpus is scanned once, projecting
    * only (id, vector); the re-rank window runs over |queries| x
    * shortK rows. Recall follows the shortlist: RecallScale measures
    * the shortlist-size -> exact-recall trade per ANN path. */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val cand = shortlist.select(col("query_id"), col("cand_id"))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = cand.join(c, Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 4).as("score"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("cand_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Embedding outlier detection — the corrupt-vector hygiene pass a
    * large embedding corpus needs before ANN indexing or SemDeDup: a
    * vector whose squared distance to its IVF centroid sits more than
    * `z` standard deviations ABOVE its cell's mean is flagged (encoder
    * failures, zero/garbage vectors, wrong-modality rows all land in
    * the far tail of their cell). Returns (idCol, cell, d2,
    * is_outlier).
    *
    * Determinism: per-vector d2 is 6-dp rounded into integer
    * micro-units; cell mean/variance come from EXACT integer sums
    * (decimal accumulation — a long sum of squared micro-units
    * overflows at corpus scale) converted to double once, and the
    * z-test compares (d2-mean)^2 > z^2 * var with dev > 0 — no sqrt,
    * no builtin stddev (whose engine-specific accumulation would put
    * ulp noise on the flag boundary).
    *
    * Scale shape: [[ivfAssign]] + [[ivfResiduals]] (broadcast
    * centroids, narrow), one |cells|-row stats aggregate broadcast
    * back, one narrow compare. No corpus shuffle beyond the stats
    * hash agg. */
  def embeddingOutliers(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, z: Double = 2.0): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val indexed = ivfAssign(corpus, centroids, idCol, vecCol)
    val res = ivfResiduals(indexed, centroids, idCol, vecCol)
    val d = res.select(col(idCol), col("cell"),
      round(round(dot(col("res"), col("res")), 6) * lit(1e6), 0)
        .cast("long").as("__d"))
    val dec = col("__d").cast("decimal(38,0)")
    val stats = d.groupBy("cell").agg(
      count(lit(1)).cast("double").as("__n"),
      sum(dec).cast("double").as("__s"),
      sum(dec * dec).cast("double").as("__ss"))
    val mean = col("__s") / col("__n")
    val variance = col("__ss") / col("__n") - mean * mean
    val dev = col("__d").cast("double") - mean
    d.join(broadcast(stats), Seq("cell"))
      .select(col(idCol), col("cell"),
        (col("__d").cast("double") / lit(1e6)).as("d2"),
        (dev > 0 && dev * dev > lit(z * z) * variance).as("is_outlier"))
  }

  /** Matryoshka-style embedding truncation: keep the first `dims`
    * components and L2-renormalize — the cheap first-stage retrieval
    * representation for prefix-trained (MRL-style) embeddings, where
    * the leading dimensions carry a usable coarse embedding on their
    * own. Components are emitted as integer micro-units (round(x/norm
    * * 1e6)) so the result is exactly comparable across engines with
    * no float-to-string formatting drift; `norm` is the 6-dp-rounded
    * prefix norm. A zero prefix (norm 0) passes through as zeros.
    * Returns (idCol, emb_trunc array<long> micro-units, norm).
    * Scale shape: pure narrow projection (slice + Dot-kernel norm +
    * one transform), no shuffle. */
  def truncateEmbeddings(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    val s = slice(col(vecCol).cast("array<double>"), 1, dims)
    corpus.select(col(idCol), s.as("__s"))
      .select(col(idCol), col("__s"),
        sqrt(dot(col("__s"), col("__s"))).as("__n"))
      .select(col(idCol),
        transform(col("__s"), x =>
          round(when(col("__n") === 0.0, lit(0.0)).otherwise(x / col("__n"))
            * lit(1e6), 0).cast("long")).as("emb_trunc"),
        round(col("__n"), 6).as("norm"))
  }

  /** Cluster-balanced (diversity-preserving) downsampling: assign the
    * corpus to trained k-means cells, then keep a deterministic
    * `perCell` members of each cell — the coverage-preserving data-
    * pruning shape (uniform sampling over-represents dense regions;
    * sampling per cell keeps the corpus's geometric spread). Member
    * choice within a cell is the salted id-hash order, so the output
    * is reproducible across runs and engines. Returns
    * (cell, idCol, rank) with rank 1..perCell per cell.
    *
    * Scale shape: the assignment is [[ivfAssign]] (broadcast
    * centroids, narrow argmax); the per-cell pick delegates to
    * [[graft.text.TextOps.stratifiedSample]], whose count-derived
    * keep-threshold prefilter bounds the rank window's input to
    * ~oversample*perCell rows per cell — a hot cell never sorts its
    * full membership. */
  def cellBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int, perCell: Int): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val trained = kmeansCentroids(corpus, idCol, vecCol, initIds, iterations)
    val assigned = ivfAssign(corpus,
      trained.select(col("cell").as(idCol), col("centroid").as(vecCol)),
      idCol, vecCol)
    graft.text.TextOps.stratifiedSample(assigned, idCol, "cell", perCell)
  }

  /** Asymmetric top-k search over [[sqEncode]]'s int8 codes: each
    * corpus row is reconstructed on the fly from its codes + the
    * broadcast [min, max] stats row, and ranked against the exact
    * query vector by squared L2 (rounded 6-dp before the argsort,
    * cand-id tie-break — [[pqAdcSearch]]'s discipline). The corpus
    * pass reads only the int8 codes, never the original floats: the
    * SQ memory shape for exhaustive ANN scans, one tier more precise
    * than PQ's LUT sums. `excludeSelf` mirrors [[cosineTopK]].
    *
    * Scale shape: stats + queries broadcast; one narrow
    * reconstruct-and-score projection over the codes, then the
    * per-query top-k window over candidate rows. */
  def sqSearch(codes: DataFrame, stats: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val recon = transform(col("codes"), (c, d) => {
      val mn = element_at(col("__mn"), d + 1)
      val mx = element_at(col("__mx"), d + 1)
      mn + c.cast("double") * (mx - mn) / lit(255.0)
    })
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val dists = codes.crossJoin(broadcast(stats))
      .select(col(idCol).as("cand_id"), recon.as("__rv"))
      .crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("cand_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("cand_id"),
        round(dot(col("__qv"), col("__qv")) -
          lit(2.0) * dot(col("__qv"), col("__rv")) +
          dot(col("__rv"), col("__rv")), 6).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("cand_id"))
    dists.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with [[kmeansCentroids]],
    * then within each cluster drop every vector that has a
    * smaller-id member whose rounded cosine similarity reaches
    * `simThreshold` — keeping the first (smallest-id) representative
    * of each near-duplicate group as seen through its cluster.
    * Returns the surviving (idCol, cell) rows.
    *
    * Scale shape: the clustering IS the scalability mechanism — the
    * pairwise cosine check joins the assigned frame to itself keyed
    * on the cell id, so the work is sum over cells of |cell|^2
    * instead of n^2, and k (via `initIds`) tunes the cell size the
    * same way SemDeDup's paper sweeps cluster counts. The drop rule
    * is "exists an earlier similar member": one keyed join + distinct
    * + left_anti, no connected-components iteration; a skewed hot
    * cell splits under AQE like any keyed join. The assigned frame is
    * checkpointed once so the self-join's two branches share one
    * assignment pass instead of re-running k-means per branch.
    *
    * `maxCellSize` guards the |cell|^2 worst case (measured 28x wall
    * at 10x rows when one cell holds ~half the corpus — the SemDeDup
    * cell-skew table in BASELINE.md): when > 0, up to `refineRounds`
    * deterministic refinement passes split every cell above the cap
    * by re-assigning its members to the cell's ceil(n/cap) smallest-id
    * member vectors (rounded-cosine, member-x-seed-hash tie-break so
    * even an all-ties degenerate cell spreads uniformly), so the
    * self-join cost is bounded by n * maxCellSize instead of the worst
    * cell's square. Refined cell ids are path strings ("3" -> "3/17");
    * with the cap on, the `cell` column is a string. Near-duplicates
    * are mutually close, so they land in the same sub-cell with the
    * same affinity reasoning as the paper's raised-k sweep. The cap is
    * ON by default (500, the `ScaleStep dedup`-measured safe value: it
    * flattens the skewed 32x wall blow-up to ~linear) because the
    * uncapped |cell|^2 worst case is a scale-killer an unsuspecting
    * caller should not inherit; pass maxCellSize = 0 to opt out and
    * get raw integer cell ids + exact paper semantics. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int,
      simThreshold: Double, maxCellSize: Int = 500,
      refineRounds: Int = 3): DataFrame = {
    require(simThreshold > 0 && simThreshold <= 1,
      s"simThreshold must be in (0, 1], got $simThreshold")
    require(maxCellSize >= 0, s"maxCellSize must be >= 0, got $maxCellSize")
    val trained = kmeansCentroids(corpus, idCol, vecCol, initIds, iterations)
    var assigned = ivfAssign(corpus,
        trained.select(col("cell").as(idCol), col("centroid").as(vecCol)),
        idCol, vecCol)
      .localCheckpoint()
    if (maxCellSize > 0) {
      assigned = assigned.withColumn("cell", col("cell").cast("string"))
      var round_ = 0
      var done = false
      while (round_ < refineRounds && !done) {
        // ceil(n/cap) sub-seeds per oversized cell; the seed-selection
        // window sorts only oversized cells' members (linearithmic in
        // the hot cell, never quadratic), and each member joins only
        // its OWN cell's seeds: cost sum |cell|^2 / cap per round.
        val over = assigned.groupBy("cell")
          .agg(count(lit(1)).as("__n")).filter(col("__n") > maxCellSize)
          .select(col("cell"),
            ceil(col("__n") / lit(maxCellSize.toDouble)).cast("int").as("__k"))
        if (over.limit(1).count() == 0) done = true
        else {
          val members = assigned.join(over, Seq("cell"))
          val wSeed = Window.partitionBy("cell").orderBy(col(idCol))
          val seeds = members
            .withColumn("__r", row_number().over(wSeed))
            .filter(col("__r") <= col("__k"))
            .select(col("cell"), col(idCol).as("__sid"), col("v").as("__sv"))
          // Tie-break by member-x-seed hash, NOT by smallest seed id: a
          // cell of near-IDENTICAL vectors ties every seed at the 4-dp
          // rounded cosine, and a seed-id tie-break would re-collapse
          // the whole cell onto seed 1 — the refinement could then
          // never split degenerate mass and the |cell|^2 bound failed
          // exactly on the worst input (measured: the adversarial skew
          // table stayed superlinear). The hash spreads tied members
          // ~uniformly over the sub-seeds, so even an all-duplicates
          // cell lands under ~cap per sub-cell; non-tied assignments
          // (distinct rounded sims) are unaffected. md5Hash60 keeps the
          // DuckDB oracle bit-identical (same expression both engines).
          val wA = Window.partitionBy(idCol)
            .orderBy(desc("__sim"),
              graft.text.TextOps.md5Hash60(concat(col(idCol).cast("string"),
                lit("/"), col("__sid").cast("string"))),
              col("__sid"))
          val refined = members.join(seeds, Seq("cell"))
            .select(col(idCol), col("v"), col("cell"), col("__sid"),
              round(cosine(col("v"), col("__sv")), 4).as("__sim"))
            .withColumn("__rn", row_number().over(wA))
            .filter(col("__rn") === 1)
            .select(col(idCol), col("v"),
              concat_ws("/", col("cell"), col("__sid")).as("cell"))
          // checkpoint per round: the next round's sizes/seeds re-read
          // this frame twice, and the early-exit count above is an
          // action — without the barrier each round re-runs the whole
          // refinement lineage (same reasoning as curateCorpus's
          // load-bearing barriers).
          assigned = assigned.join(over, Seq("cell"), "left_anti")
            .unionByName(refined)
            .localCheckpoint()
        }
        round_ += 1
      }
    }
    val later = assigned.select(col(idCol).as("__aid"),
      col("v").as("__av"), col("cell"))
    val earlier = assigned.select(col(idCol).as("__bid"),
      col("v").as("__bv"), col("cell"))
    val dropIds = later.join(earlier, Seq("cell"))
      .filter(col("__bid") < col("__aid") &&
        round(cosine(col("__av"), col("__bv")), 4) >= simThreshold)
      .select(col("__aid").as(idCol)).distinct()
    assigned.join(dropIds, Seq(idCol), "left_anti")
      .select(idCol, "cell")
  }

  /** Embedding-space decontamination report — the semantic sibling of
    * [[graft.text.TextOps.decontaminate]] (shingle overlap) and
    * [[graft.text.TextOps.bloomDecontaminate]] (membership): a corpus
    * document is contaminated when its embedding's 4-dp rounded cosine
    * to ANY benchmark item reaches `minCosine`, catching the
    * paraphrased / reformatted / translated eval leakage that n-gram
    * overlap structurally misses (the similarity-tier contamination
    * check modern model cards report alongside exact-match). Returns
    * one row per contaminated corpus document:
    * (idCol, `bench_id` — the nearest benchmark item, ties to the
    * smallest bench id — and `cos`, the rounded max similarity).
    *
    * Scale shape: the benchmark side is eval-suite sized BY CONTRACT —
    * `maxBench` enforces it up front ([[cosineTopK]]'s guard
    * discipline) — and is broadcast, so the corpus streams through one
    * narrow scored projection; the threshold filter runs BEFORE the
    * per-corpus-row top-1 window, so only contaminated pairs (≤ |hits|
    * x |bench|, typically a sliver) ever reach state. The corpus is
    * never shuffled on a content key and never self-joined. For a
    * benchmark too big to broadcast, pre-bucket both sides with
    * [[srpCandidates]] and verify the surviving pairs the same way. */
  def semanticDecontaminateReport(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      maxBench: Int = 100000): DataFrame = {
    require(minCosine > 0 && minCosine <= 1,
      s"minCosine must be in (0, 1], got $minCosine")
    val nB = bench.limit(maxBench + 1).count()
    require(nB <= maxBench,
      s"semanticDecontaminateReport broadcasts the benchmark; it exceeds " +
        s"maxBench=$maxBench — pre-bucket with srpCandidates instead")
    val c = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__cv"))
    val b = bench.select(col(idCol).as("bench_id"),
      col(vecCol).cast("array<double>").as("__bv"))
    val scored = c.crossJoin(broadcast(b))
      .select(col(idCol), col("bench_id"),
        round(cosine(col("__cv"), col("__bv")), 4).as("cos"))
      .filter(col("cos") >= minCosine)
    val w = Window.partitionBy(idCol).orderBy(desc("cos"), col("bench_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Survivor view of [[semanticDecontaminateReport]]: the corpus rows
    * (all columns) whose maximum benchmark cosine stays below
    * `minCosine` — the frame a training run should actually read.
    * One broadcast scored pass + a left-anti on the flagged ids. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      maxBench: Int = 100000): DataFrame = {
    val flagged = semanticDecontaminateReport(corpus, bench, idCol, vecCol,
      minCosine, maxBench).select(col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Hard-negative mining for contrastive retrieval training data (the
    * DPR / ANCE / RocketQA prep stage): for each anchor (query) vector,
    * the top-k corpus items inside the similarity band
    * [`minCosine`, `maxCosine`) — similar enough to be informative
    * negatives, but BELOW the near-duplicate cutoff above which a
    * "negative" is more likely an unlabeled positive (the
    * false-negative poisoning RocketQA measures; the band's upper edge
    * exists to exclude it). Returns (query_id, neg_id, rank 1..,
    * score) with [[cosineTopK]]'s determinism: 4-dp rounded score,
    * candidate-id tie-break.
    *
    * Inherits [[cosineTopK]]'s identity contract: with the default
    * `excludeSelf=true` a corpus row sharing the anchor's id never
    * becomes a negative (right when anchors are drawn from the corpus
    * itself); for genuinely EXTERNAL anchor frames whose ids merely
    * coincide with corpus ids, pass `excludeSelf=false` or a valid
    * candidate is silently dropped from that anchor's pool.
    *
    * Scale shape: exactly [[cosineTopK]] — anchors broadcast under the
    * `maxQueries` contract, corpus streamed once through a narrow
    * scored projection, and the band filter runs BEFORE the per-anchor
    * top-k window so easy pairs and duplicates never reach it. For
    * production-size anchor sets, generate candidates with
    * [[ivfSearch]] / [[srpCandidates]] and band-filter their output by
    * the same rule. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, minCosine: Double, maxCosine: Double,
      maxQueries: Int = 10000, excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCosine < maxCosine,
      s"band is [minCosine, maxCosine): got [$minCosine, $maxCosine)")
    val nQ = queries.limit(maxQueries + 1).count()
    require(nQ <= maxQueries,
      s"hardNegatives broadcasts the anchor set; it exceeds " +
        s"maxQueries=$maxQueries — route candidates through ivfSearch")
    val c = corpus.select(col(idCol).as("neg_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val banded = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neg_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neg_id"),
        round(cosine(col("__qv"), col("__cv")), 4).as("score"))
      .filter(col("score") >= minCosine && col("score") < maxCosine)
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("neg_id"))
    banded.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neg_id"),
        col("rank").cast("int").as("rank"), col("score"))
  }

  /** Prototype pruning — the SSL-prototypes data-pruning metric
    * (Sorscher et al. 2022 "Beyond neural scaling laws") that D4
    * (Tirumala et al. 2023, arXiv:2308.12284) runs after SemDeDup:
    * cluster with [[kmeansCentroids]], score every vector by its 4-dp
    * rounded cosine to its OWN cell centroid (prototypicality), and
    * drop the `dropFrac` MOST prototypical members of each cell — the
    * easy, redundant core of dense regions — keeping the hard /
    * diverse remainder. Per-cell drop count is floor(|cell| *
    * dropFrac), so a cell loses nothing until it holds ≥ 1/dropFrac
    * members. Returns the surviving (idCol, cell, proto, rank) rows,
    * `rank` the 1-based prototypicality order within the cell (the
    * dropped rows are exactly ranks 1..floor(n*dropFrac)).
    *
    * Scale shape: assignment is [[ivfAssign]] (broadcast centroids,
    * narrow argmax); the per-cell size is a map-side-combinable
    * groupBy joined back BROADCAST (k rows — the de-skewed
    * [[graft.text.TextOps.lshCandidatePairs]] stats discipline, never
    * a count window over the skewed cell key); the prototypicality
    * rank is [[graft.util.DistRank.perKeyRowNumber]] (r15), NOT a
    * per-cell window: a cell above the heavy-row threshold, or every
    * cell when there are no more cells than partitions, takes the
    * range-partitioned two-pass, so a degenerate corpus whose every
    * vector lands in one k-means cell
    * (near-constant embeddings — exactly the redundancy D4 targets)
    * spreads that cell across all tasks instead of funneling it
    * through one. Ranks are exact; a unique id tiebreaker totalizes
    * the order. */
  def prototypePrune(corpus: DataFrame, idCol: String, vecCol: String,
      initIds: Seq[Long], iterations: Int, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0 && dropFrac < 1,
      s"dropFrac must be in [0, 1), got $dropFrac")
    val trained = kmeansCentroids(corpus, idCol, vecCol, initIds, iterations)
    val assigned = ivfAssign(corpus,
      trained.select(col("cell").as(idCol), col("centroid").as(vecCol)),
      idCol, vecCol)
    // id-scale barrier: the cell sizes, the heavy-key count and the
    // rank scan all read it, so ivfAssign's shuffle runs once
    val scored = assigned.join(broadcast(trained), Seq("cell"))
      .select(col(idCol), col("cell"),
        round(cosine(col("v"), col("centroid")), 4).as("proto"))
      .barrierFirewall()
    val sizes = scored.groupBy("cell").agg(count(lit(1)).as("__n"))
    graft.util.DistRank
      .perKeyRowNumber(scored, "cell", Seq(desc("proto"), col(idCol)), "rank")
      .join(broadcast(sizes), Seq("cell"))
      .filter(col("rank") > floor(col("__n") * lit(dropFrac)))
      .select(col(idCol), col("cell"),
        col("proto"), col("rank").cast("int").as("rank"))
  }

  /** Exact second moments of an embedding corpus — the (mean,
    * covariance-numerator) table behind [[allButTop]], oracled on its
    * own (t82) because it is pure integer arithmetic: components are
    * 6-dp micro-units, the per-(i, j) numerator is
    * `n * Σ x_i x_j - Σ x_i * Σ x_j` over EXACT long/decimal sums —
    * order-independent, bit-identical across engines and
    * partitionings. Output: one row per ordered (i, j) pair with
    * `n`, `sum_i` (micro), and `cov_num` (micro², scaled covariance
    * numerator; divide by n² for the covariance itself).
    *
    * Scale shape: a purely NARROW per-row (i, j) pair stream — each
    * row's pairs are generated in-place by the compiled
    * [[MomentPairs]] kernel and fed straight into the partial
    * aggregate, so the ONLY shuffle is the
    * map-side-combined d(d+1)/2-pair aggregate state (≤ #partitions x
    * 2 080 rows at d = 64), not a rows x d self-join. The d x d moment
    * table is a fixed-size model no matter the corpus size. */
  def embMoments(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // 1-value dim peek (the k-row contract): wide embeddings split into
    // i-blocks so the per-row pair materialization stays ≤ ~blockI x d
    // structs per pass (d = 1024 in one pass would be 524k structs
    // ≈ 16 MB PER ROW); each block is its own narrow pass, unioned
    // ahead of the single partial aggregate.
    val blockI = 64
    // dim peek via max(size) — one tiny aggregate, not a first-row
    // sample: skips null vectors and can never under-read a ragged
    // corpus (a row wider than a first-row peek would silently lose
    // its (i, j) pairs beyond the peeked width in the blocked path)
    val dim = df.agg(max(size(col(vecCol))).as("d")).head(1)
      .headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .filter(_ > 0).getOrElse(0)
    val ranges = if (dim <= 2 * blockI) Seq((0, Int.MaxValue))
      else (0 until dim by blockI)
        .map(i => (i, math.min(i + blockI, dim)))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    ranges.map { case (lo, hi) =>
      val pairs = Bridge.column(
        MomentPairs(Bridge.expression(col(vecCol)), lo, hi))
      df.select(explode(pairs).as("p"))
        .select(col("p.i").as("i"), col("p.j").as("j"),
          col("p.xi").as("xi"), col("p.xj").as("xj"))
    }.reduce(_ unionByName _)
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("xi"))).cast("long").as("si"),
        sum(dec(col("xj"))).cast("long").as("sj"),
        sum(dec(col("xi")) * dec(col("xj"))).cast("decimal(38,0)")
          .as("sij"))
      .select(col("i"), col("j"), col("n"), col("si").as("sum_i"),
        // decimal internally (long sums of micro^2 products overflow
        // at extreme corpus sizes); emitted as long for the oracle's
        // integer compare — fine to ~4e18, i.e. corpora to ~1e6 rows
        // per moment pair at unit-scale embeddings
        (dec(col("n")) * col("sij") - dec(col("si")) * dec(col("sj")))
          .cast("long").as("cov_num"))
  }

  /** All-But-The-Top embedding post-processing (Mu & Viswanath 2018):
    * subtract the corpus mean and remove the projection onto the top
    * `k` principal components — the standard isotropy fix that
    * measurably improves similarity search on anisotropic embedding
    * corpora (the dominant directions carry frequency, not meaning).
    *
    * The eigenvectors come from `iters` fixed power-iteration rounds
    * (with deflation for k > 1) over the EXACT integer covariance of
    * [[embMoments]], collected to the driver as a d x d model (the
    * k-means-centroids contract; d = embedding width, never corpus-
    * sized). Determinism: the covariance is exact, the iteration count
    * is fixed, the start vector is the constant all-ones direction,
    * and each iterate is re-rounded to 9 dp — so the resulting
    * component literals (and therefore every projected output) are
    * reproducible across runs and partitionings (proven in spec; the
    * eigen step itself is driver-side Scala and has no SQL mirror —
    * the moments feeding it are the oracled surface).
    *
    * Returns (idCol, emb_abtt array<long> micro-units): the centered,
    * top-k-removed embedding. Transform is a narrow zip_with/aggregate
    * cascade over broadcast literal vectors — zero shuffle. */
  def allButTop(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 1, iters: Int = 20): DataFrame = {
    require(k >= 1 && iters >= 1, s"bad k=$k / iters=$iters")
    val moments = embMoments(df, idCol, vecCol).collect()
    require(moments.nonEmpty, "empty corpus")
    val d = moments.map(_.getInt(1)).max + 1
    val n = moments.head.getLong(2).toDouble
    val mean = new Array[Double](d)
    val cov = Array.ofDim[Double](d, d)
    moments.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val covNum = r.getLong(4).toDouble
      cov(i)(j) = covNum / (n * n); cov(j)(i) = cov(i)(j)
      if (i == j) mean(i) = r.getLong(3).toDouble / n
    }
    // power iteration + deflation, fixed rounds, 9-dp re-rounding
    val comps = (0 until k).map { _ =>
      var v = Array.fill(d)(1.0 / math.sqrt(d))
      (0 until iters).foreach { _ =>
        val u = Array.tabulate(d)(i =>
          (0 until d).map(j => cov(i)(j) * v(j)).sum)
        val norm = math.sqrt(u.map(x => x * x).sum)
        v = u.map(x =>
          math.rint(x / norm * 1e9) / 1e9)
      }
      val lambda = (0 until d).map(i =>
        (0 until d).map(j => v(i) * cov(i)(j) * v(j)).sum).sum
      for (i <- 0 until d; j <- 0 until d)
        cov(i)(j) -= lambda * v(i) * v(j)
      v
    }
    // transform: x' = (x - mean) - Σ_c <x - mean, e_c> e_c, emitted in
    // micro-units; all dot products run in array-index order in one
    // codegen-friendly cascade over literal component vectors
    val meanLit = lit(mean.map(m => math.rint(m) / 1e6))
    val centered = zip_with(col(vecCol).cast("array<double>"), meanLit,
      (x, m) => x - m)
    // each projection coefficient is MATERIALIZED into its own column
    // before the removal zip_with references it — a lambda-captured
    // aggregate would re-evaluate the d-term dot product once per
    // element (the O(d^2)-per-row HOF pitfall the file header bans)
    val out = comps.zipWithIndex.foldLeft(
      df.withColumn("__c", centered)) { case (acc, (e, idx)) =>
        val eLit = lit(e)
        acc
          .withColumn(s"__p$idx",
            aggregate(zip_with(col("__c"), eLit, (x, c) => x * c),
              lit(0.0), (a, x) => a + x))
          .withColumn("__c",
            zip_with(col("__c"), eLit,
              (x, c) => x - col(s"__p$idx") * c))
      }
    out.select(col(idCol),
      transform(col("__c"), x => round(x * 1e6, 0).cast("long"))
        .as("emb_abtt"))
  }
}
