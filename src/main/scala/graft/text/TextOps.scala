package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.util.Barriers.FirewallOps

/** Text-analysis and dedup operators for large-scale document pipelines.
  *
  * All operators are built from codegen'd `functions._` primitives; hash
  * functions use md5 (portable across engines, so an external SQL oracle
  * can verify results bit-for-bit).
  *
  * Performance notes:
  *  - Higher-order functions (transform/filter/aggregate) are interpreted,
  *    and a lambda body re-evaluates its captured child expression on
  *    every access — so token arrays are ALWAYS materialized into a
  *    column first (a `tokens(col)` expression fed straight into
  *    `shingles` turns O(n) tokenization into O(n^2) per row).
  *  - md5 values feeding multiple aggregates are projected once per row
  *    before the aggregation so partial aggs see a plain column.
  *  - k minhashes need only ceil(k/2) md5 calls: each 32-hex md5 yields
  *    two independent 16-hex (64-bit) halves.
  */
object TextOps {

  /** Lowercased alphanumeric tokens of a text column — a codegen'd
    * [[Tokens]] kernel (one compiled pass; identical semantics to
    * `filter(split(lower(c), "[^a-z0-9]+"), _ != "")`). */
  def tokens(c: Column): Column = Bridge.column(Tokens(Bridge.expression(c)))

  /** n-word shingles straight from the text column — a codegen'd
    * [[Shingles]] kernel (tokenize + window-join in one compiled pass). */
  def shinglesOf(text: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(text), n))

  /** n-word shingles of a materialized token-array column (HOF reference
    * form kept for composability with pre-tokenized frames; the hot path
    * uses [[shinglesOf]]). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array())

  private def fanOut(df: DataFrame): DataFrame = graft.util.FanOut(df)

  /** 60-bit uniform hash of a column: the first 15 hex chars of its md5,
    * parsed as a BIGINT. ONE definition shared by [[winnowFingerprints]],
    * [[mixtureSample]], [[mixtureUpsample]], [[shardAssign]] and
    * [[bloomDecontaminate]] — every DuckDB oracle mirrors this exact
    * expression (`('0x' || substr(md5(x), 1, 15))::BIGINT`), so the
    * call sites must never drift apart. Ops whose hash decisions must
    * be INDEPENDENT of each other salt the input with an op-specific
    * prefix (see [[mixtureUpsample]]). */
  private[graft] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-source rate lookup as a when-cascade over sorted keys — shared
    * by [[mixtureSample]] and [[mixtureUpsample]] so their DuckDB CASE
    * mirrors stay aligned with one definition. */
  private def rateCase(sourceCol: String, rates: Map[String, Double],
      defaultRate: Double): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }



  /** (id, sh) exploded shingle pairs via the compiled shingle kernel. */
  private[graft] def explodedShingles(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int): DataFrame =
    fanOut(df).select(col(idCol), explode(shinglesOf(col(textCol), shingleWords)).as("sh"))

  /** MinHash signature: k min-hashes over n-word shingles. Returns
    * (idCol, h0..h{k-1}, signature). Each md5 yields two disjoint 15-hex
    * (60-bit) halves parsed to BIGINT — numeric mins keep the aggregate
    * in whole-stage HashAggregate (a string MIN degrades to a
    * SortAggregate that sorts every exploded shingle row by id, the
    * single most expensive stage of the dedup track at scale).
    * Documents with fewer than n tokens are dropped. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, shingleWords: Int = 3): DataFrame =
    minhashFromShingles(explodedShingles(df, idCol, textCol, shingleWords), idCol, k)

  /** MinHash aggregation over an exploded (id, sh) shingle frame. min of
    * a hash over a multiset equals min over its distinct set, so callers
    * may pass either raw or distinct'd shingles — [[curateCorpus]]
    * exploits this to share ONE materialized distinct shingle frame
    * between the signature and the Jaccard verify. */
  def minhashFromShingles(sh: DataFrame, idCol: String, k: Int = 8): DataFrame = {
    require(k % 2 == 0, "k must be even (two 60-bit halves per md5)")
    // one md5 per seed pair, materialized pre-aggregation
    val withMd5 = sh.select(col(idCol) +:
      (0 until k / 2).map(j => md5(concat(lit(s"$j:"), col("sh"))).as(s"m$j")): _*)
    val aggs = (0 until k).map { i =>
      val start = if (i % 2 == 0) 1 else 17
      val half = conv(substring(col(s"m${i / 2}"), start, 15), 16, 10).cast("long")
      min(half).as(s"h$i")
    }
    withMd5.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .withColumn("signature",
        concat_ws("|", (0 until k).map(i => col(s"h$i").cast("string")): _*))
  }

  /** LSH band buckets from a minhash signature frame: k hashes in bands
    * of `rows`; docs sharing any band bucket are near-dup candidates.
    * Band members are ':'-separated before hashing — variable-length
    * decimal strings concatenated bare are not injective ("1"+"234"
    * collides with "12"+"34"), which would create spurious candidate
    * buckets. */
  def lshBuckets(sigs: DataFrame, idCol: String, k: Int, rows: Int): DataFrame = {
    val bands = (0 until k / rows).map { b =>
      val cols = (b * rows until (b + 1) * rows)
        .map(i => col(s"h$i").cast("string"))
      md5(concat_ws(":", (lit(s"b$b") +: cols): _*))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("bucket"))
  }

  /** Default hot-bucket cap for [[lshCandidatePairs]]: buckets at or
    * under this size emit all pairs; bigger buckets emit star edges.
    * Shared with the SQL mirrors so both engines bucket identically. */
  val HotBucketCap = 64

  /** Near-dup candidate pairs (a_id < b_id, distinct) from an LSH
    * bucket frame — the one candidate-generation kernel every near-dup
    * consumer shares, with the HOT-BUCKET CAP that keeps candidate
    * volume linear in cluster size: a bucket with at most
    * `hotBucketCap` members emits all C(B,2) pairs (exact, the common
    * case); a bucket beyond the cap emits STAR EDGES to its min-id
    * member (B-1 pairs). Without the cap a templated mega-cluster —
    * the dominant real-corpus skew: millions of near-identical
    * boilerplate pages sharing all bands after trivial edits — makes
    * the in-bucket self-join quadratic IN THE CLUSTER SIZE, the one
    * shuffle in the dedup chain that does not survive a 100x scale-up.
    *
    * Semantics under the cap: the candidate graph keeps every hot
    * bucket connected through its hub, so the downstream
    * connected-components stage still resolves the mega-cluster as one
    * component when the Jaccard verify confirms hub-member similarity
    * (true for template clusters, whose members are all near-identical
    * to the hub). The documented approximation: a borderline pair
    * inside a hot bucket whose members are near the hub's threshold
    * but nearer each other is only recalled if some OTHER band puts
    * the two in a small bucket — the usual banded-LSH multi-chance
    * recall argument, bounded to hot buckets only. Set
    * `hotBucketCap = Int.MaxValue` to opt out (exact all-pairs).
    *
    * Scale shape: per-bucket size/min-id stats come from a map-side
    * combinable `groupBy(bucket).agg(count, min)` streamed back onto
    * the rows with a hash join — NOT a window partitioned on the
    * bucket key. The distinction is exactly the skew this cap exists
    * for: a window over `bucket` lands a mega-bucket's every row on
    * ONE task (buffered in a spillable row array — completes, but a
    * single-task straggler at 100x), whereas partial aggregation
    * collapses the mega-bucket to one (bucket, count, min) row on the
    * map side and the join-back streams row-at-a-time, so max task
    * time stays flat no matter how skewed the bucket histogram is
    * (measured: graft.tools.LshSkew's 50%-one-bucket 200k-doc row in
    * BASELINE.md). Star edges are then a pure filter+project — a
    * hot-bucket row already carries its hub — and only small buckets
    * reach the self-join, whose fan-out the cap bounds at C(cap, 2)
    * per bucket. Shuffle and output both linear in rows + true
    * near-dups, never cluster-quadratic. The returned pair frame is
    * an id-scale cache barrier: consumers (Jaccard verify reads it
    * three times) get exact size stats for their join planning. Five
    * capped designs were A/B'd at sf0.1 (a window over the bucket
    * key; a bounded-collect object aggregate, with and without the
    * sort-based-fallback threshold raised; the uncapped self-join;
    * this groupBy+join-back) — the window measured ~4% cheaper
    * locally but is the straggler shape above; this one is the
    * skew-robust choice (BASELINE.md kernel A/B + LshSkew max-task
    * rows). */
  def lshCandidatePairs(bux: DataFrame, idCol: String,
      hotBucketCap: Int = HotBucketCap,
      materialize: Boolean = true): DataFrame = {
    if (hotBucketCap == Int.MaxValue) {
      // exact opt-out: the plain in-bucket self-join — all pairs
      return bux.as("x").join(bux.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
        .distinct()
    }
    val ids = bux.select(col("bucket"), col(idCol))
    val stats = ids.groupBy("bucket")
      .agg(count(lit(1)).as("__bn"), min(col(idCol)).as("__bmin"))
    val en = ids.join(stats, "bucket")
    val small = en.filter(col("__bn") <= hotBucketCap)
      .select(col("bucket"), col(idCol))
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
    val starPairs = en
      .filter(col("__bn") > hotBucketCap && col(idCol) =!= col("__bmin"))
      .select(col("__bmin").as("a_id"), col(idCol).as("b_id"))
    // Barrier (BASELINE.md's r14 kernel note): the pair frame's first
    // consumer wave is always wide (the Jaccard verify alone reads it
    // three times, and self-joins the corpus against ids derived from
    // these pairs) and this plan scans `bux` twice, so every reader
    // would otherwise recompute the upstream minhash chain.
    //
    // `materialize = false` (r18) is for callers that consume the pair
    // frame LINEARLY — exactly once, inside a chain that never joins
    // the pairs back against their own lineage — and materialize a
    // cheaper frame further downstream themselves
    // ([[graft.multimodal.Media.bandedHammingPairs]] firewalls the
    // Hamming-VERIFIED pairs instead, fusing the kernel populate and
    // the verify pass into one execution).
    val out = smallPairs.union(starPairs).distinct()
    if (materialize) out.barrierFirewall() else out
  }


  /** Incremental near-dup dedup of a NEW batch against an
    * already-curated corpus — the continuous-ingest shape
    * [[curateCorpus]] leaves open: the existing corpus's LSH buckets
    * ([[lshBuckets]] over [[minhashSignature]], persisted once at
    * curation time as just (id, bucket) — no text needed) act as the
    * index. A new document sharing ANY bucket with the index is
    * absorbed by the existing corpus (dropped); the remaining new
    * documents then near-dedup among THEMSELVES through the standard
    * candidate-pairs -> connected-components -> keep-canonical chain.
    * Returns the surviving rows of `newDocs` (all columns).
    *
    * Scale shape: one bucket-keyed join against the index (shuffle ∝
    * bucket rows, never corpus x batch), then the within-batch stage
    * fans out only by the new batch's own candidates. Re-index by
    * unioning the survivors' buckets into the index frame — the next
    * batch's calls see them.
    *
    * BEHAVIOR CHANGE (r13, see CHANGELOG.md): the within-batch stage
    * inherits [[lshCandidatePairs]]' hot-bucket cap BY DEFAULT — a
    * templated mega-bucket inside the NEW batch near-dedups through
    * hub edges rather than all pairs (survivor sets identical for
    * genuine template clusters, measured in BASELINE.md's LshSkew
    * table; recall of borderline in-hot-bucket pairs rides the other
    * bands). The index-clash drop stage is exact and unaffected. */
  def dedupAgainstCorpus(newDocs: DataFrame, indexBuckets: DataFrame,
      idCol: String, textCol: String, k: Int = 8, rows: Int = 2,
      shingleWords: Int = 3): DataFrame = {
    // Both frames are barriers: `fresh` is bux anti-joined against
    // clash-derived-FROM-bux, and `survivors` is newDocs (bux's own
    // leaf) anti-joined against clash, so each is read twice.
    val bux = lshBuckets(
      minhashSignature(newDocs, idCol, textCol, k, shingleWords),
      idCol, k, rows).barrierFirewall()
    val idx = indexBuckets.select(col("bucket")).distinct()
    val clash = bux.join(idx, "bucket").select(col(idCol)).distinct()
      .barrierFirewall()
    val fresh = bux.join(clash, Seq(idCol), "left_anti")
    val pairs = lshCandidatePairs(fresh, idCol)
    val survivors = newDocs.join(clash, Seq(idCol), "left_anti")
    dropNearDuplicates(survivors, idCol, pairs)
  }

  /** Re-index step for the continuous-ingest dedup loop — the
    * "refresh the static frame" half of [[dedupAgainstCorpus]]'s
    * contract (and of the streaming twin [[graft.streaming.DocStreams
    * .dedupAgainstCorpus]], whose static index is re-planned per query
    * RUN, not per microbatch): union the current index's (id, bucket)
    * rows with the LSH buckets of a batch's SURVIVORS, so the next
    * batch — or the restarted stream — sees them as corpus content.
    * The refresh cadence is the operator's compaction story: run it
    * after every batch sweep (exact), or periodically for a stream
    * (between refreshes, within-horizon claims still suppress stream-
    * internal dups; only cross-restart near-dups of not-yet-indexed
    * survivors can slip, bounded by the refresh interval — the spec
    * pins refresh-then-rerun == from-scratch batch). Inputs/outputs
    * are id-scale (id, bucket) frames; persist the result where the
    * index lives (parquet/Delta) — this method only builds the plan. */
  def refreshIndexBuckets(indexBuckets: DataFrame, survivors: DataFrame,
      idCol: String, textCol: String, k: Int = 8, rows: Int = 2,
      shingleWords: Int = 3): DataFrame =
    indexBuckets.select(col(idCol), col("bucket"))
      .unionByName(lshBuckets(
        minhashSignature(survivors, idCol, textCol, k, shingleWords),
        idCol, k, rows))

  /** Exact n-gram Jaccard similarity for an explicit candidate-pair
    * frame (columns a_id, b_id) — the verification stage after LSH
    * bucketing: J(a,b) = |Sa ∩ Sb| / |Sa ∪ Sb| over distinct n-word
    * shingle sets. Scale shape: the only joins fan out by the candidate
    * count (LSH keeps that far below corpus^2), never all-pairs; shingle
    * sets stream through hash joins/aggs with no driver collection.
    * `pairs` is referenced three times (id semi-join, sizes, overlap) —
    * callers whose pair frame has an expensive lineage (e.g. straight
    * out of the LSH pipeline) should persist/localCheckpoint it first. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, shingleWords: Int = 3): DataFrame = {
    // Only candidate documents are shingled: semi-join the corpus to the
    // pair ids first. At scale the candidate set is orders of magnitude
    // smaller than the corpus, and tokenize+shingle+distinct over
    // non-candidates is pure waste (it was the most expensive kernel of
    // the verification stage). The shingle frame is referenced three
    // times below (sizes, a-side, b-side), so it is a barrier (measured
    // r14 at sf0.1: t119 3.59 -> 1.82 s; t12, which reads the chain
    // once, pays +0.16 s of populate — the accepted single-read tax).
    // Candidate-bounded token scale.
    val ids = pairs.select(col("a_id").as(idCol))
      .union(pairs.select(col("b_id").as(idCol))).distinct()
    val docs = df.join(ids, Seq(idCol), "left_semi")
    val sh = explodedShingles(docs, idCol, textCol, shingleWords).distinct()
      .barrierFirewall()
    jaccardFromShingles(sh, idCol, pairs)
  }

  /** Jaccard verify over an already-materialized distinct (id, sh)
    * shingle frame. `sh` is read three times — pass a checkpointed or
    * persisted frame (as [[jaccardPairs]] / [[curateCorpus]] do). */
  def jaccardFromShingles(sh: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val sa = sh.select(col(idCol).as("a_id"), col("sh"))
    val sb = sh.select(col(idCol).as("b_id"), col("sh"))
    val inter = pairs.join(sa, "a_id").join(sb, Seq("b_id", "sh"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
    val ni = coalesce(col("n_inter"), lit(0L))
    // Sizes join LEFT: a pair whose document has fewer than shingleWords
    // tokens (no shingle set) is reported with jaccard 0.0, not dropped —
    // matters for externally supplied pair frames (LSH-derived pairs
    // always have signatures, hence shingles).
    val na = coalesce(col("n_a"), lit(0L))
    val nb = coalesce(col("n_b"), lit(0L))
    val union = na + nb - ni
    pairs
      .join(sizes.select(col(idCol).as("a_id"), col("n_sh").as("n_a")), Seq("a_id"), "left")
      .join(sizes.select(col(idCol).as("b_id"), col("n_sh").as("n_b")), Seq("b_id"), "left")
      .join(inter, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        when(union > 0, ni.cast("double") / union).otherwise(0.0).as("jaccard"))
  }

  /** Near-duplicate cluster resolution: connected components over an
    * undirected candidate-pair frame (a_id, b_id) by iterative
    * minimum-label propagation WITH pointer jumping — each round takes
    * the min over (own label, neighbors' labels, label-of-own-label),
    * so convergence is O(log diameter) rounds (the standard
    * large-star/small-star shape), each round one shuffle join + one
    * hash aggregate. Lineage is truncated per round (localCheckpoint)
    * so the plan stays flat at any scale; the fixpoint test is a cheap
    * limit-1 existence check. Returns (id, cluster) with cluster = the
    * component's minimum id — the canonical survivor convention of the
    * dedup loop.
    *
    * Scale-adaptive fast path: verified near-dup pairs are sparse
    * relative to the corpus (LSH + Jaccard filtering), so the edge set
    * is usually tiny even when the corpus is not. Below `maxLocalEdges`
    * the components are resolved by a driver-side union-find in ONE
    * Spark job (the bounded collect — same contract class as a
    * broadcast-join threshold) instead of 2 jobs per propagation
    * round; above the bound, or for exotic id types, the distributed
    * loop runs unchanged.
    *
    * Pass a persisted/localCheckpointed `pairs` frame when its lineage
    * is expensive (as [[curateCorpus]] does): the fast-path probe
    * executes the lineage once for the bounded collect, and when the
    * bound is exceeded the distributed path executes it again. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20,
      maxLocalEdges: Int = 1 << 20): DataFrame = {
    val idType = pairs.schema("a_id").dataType
    val localOrd: Option[Ordering[Any]] = idType match {
      case org.apache.spark.sql.types.LongType =>
        Some(Ordering.by(_.asInstanceOf[Long]))
      case org.apache.spark.sql.types.IntegerType =>
        Some(Ordering.by(_.asInstanceOf[Int]))
      case org.apache.spark.sql.types.StringType =>
        Some(Ordering.by(_.asInstanceOf[String]))
      case _ => None
    }
    if (localOrd.isDefined) {
      val probe = pairs.select(col("a_id"), col("b_id"))
        .limit(maxLocalEdges + 1).collect()
      if (probe.length <= maxLocalEdges)
        return localComponents(pairs.sparkSession, probe, idType, localOrd.get)
    }
    val edges = pairs.select(col("a_id"), col("b_id"))
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .localCheckpoint()
    var labels = edges.select(col("a_id").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // The previous label rides through the min-aggregate as `old`
      // (non-own sources contribute null, which min ignores), so the
      // fixpoint test is a scan of the just-checkpointed frame — no
      // extra join job per round.
      val idType = labels.schema("cluster").dataType
      val viaNeighbor = edges.join(labels, edges("b_id") === labels("id"))
        .select(edges("a_id").as("id"), col("cluster"),
          lit(null).cast(idType).as("old"))
      val viaLabel = labels.as("l1")
        .join(labels.as("l2"), col("l1.cluster") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.cluster").as("cluster"),
          lit(null).cast(idType).as("old"))
      val next = labels.select(col("id"), col("cluster"),
          col("cluster").as("old"))
        .union(viaNeighbor).union(viaLabel)
        .groupBy("id").agg(min("cluster").as("cluster"), min("old").as("old"))
        .localCheckpoint()
      val changed = next
        .filter(col("cluster") =!= col("old"))
        .limit(1).count()
      labels = next.select(col("id"), col("cluster"))
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** Driver-side union-find over a bounded edge list (the
    * [[nearDupClusters]] fast path). Path-halving find; components are
    * canonicalized to their minimum member under `ord`. The result is a
    * single small partition — downstream anti-joins broadcast it. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      ord: Ordering[Any]): DataFrame = {
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    def idx(v: Any): Int = index.getOrElseUpdate(v, index.size)
    val es = edges.map(r => (idx(r.get(0)), idx(r.get(1))))
    val parent = Array.tabulate(index.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val ids = new Array[Any](index.size)
    index.foreach { case (v, i) => ids(i) = v }
    val minOf = scala.collection.mutable.HashMap.empty[Int, Any]
    ids.zipWithIndex.foreach { case (v, i) =>
      val r = find(i)
      minOf.get(r) match {
        case Some(m) if ord.lteq(m, v) => ()
        case _ => minOf(r) = v
      }
    }
    val rows = ids.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(v, minOf(find(i)))
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster", idType)))
    // LocalRelation, not parallelize(): Catalyst sees a local table
    // with known size (so downstream joins broadcast it on stats, and
    // tools/CacheAudit can tell this driver-materialized result apart
    // from an untagged distributed RDD scan)
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Near-dup dedup completion: drop every clustered document except its
    * cluster's minimum-id canonical; documents in no pair survive. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = nearDupClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dup survivor selection — the production
    * alternative to [[dropNearDuplicates]]' min-id convention: within
    * each connected cluster the member maximizing `score` survives
    * (score ties: minimum id; null scores sort last). Real pipelines
    * keep the longest or highest-classifier-score variant of a
    * duplicated page, not the one that happened to ingest first — the
    * canonical-by-id rule silently prefers truncated early crawls of
    * the same page over later complete ones.
    *
    * Scale shape: the cluster frame is ∝ CLUSTERED docs (sparse after
    * LSH + verify), never the corpus, and unclustered documents never
    * shuffle. The survivor pick is a MIN-STRUCT AGGREGATE on the
    * cluster key (r15 — previously a cluster-partitioned row_number
    * window): a template-heavy corpus puts half its documents in ONE
    * cluster, which is the dedup norm, not an edge case, and a window
    * would funnel that cluster through a single task; the aggregate
    * combines map-side, so the hot cluster reduces to one partial row
    * per map task. The comparator is encoded in the struct: negated
    * score ascending == score descending, null scores forced to +inf
    * so they lose (the window's desc_nulls_last), id ascending as the
    * tie-break. */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, pairs: DataFrame,
      score: Column): DataFrame = {
    // clustered is consumed twice (best-score aggregate + winner join)
    // but needs NO barrier: nearDupClusters returns a LEAF frame
    // (localCheckpoint / LocalRelation), so the recompute is one
    // source scan + a broadcast join per consumer — measured CHEAPER
    // than firewalling the payload-scale frame (GroupSkew: the eager
    // populate added a full materialization pass).
    //
    // Winner selection is max-then-min-id, both map-side-combinable
    // aggregates, and EXACT in the score's own type (no double cast):
    // max() shares the window's ordering semantics (NaN greatest,
    // nulls ignored), the null-safe equality keeps an all-null
    // cluster's members eligible (desc_nulls_last degenerates to
    // min-id there), min(id) is the id-ascending tie-break.
    val cc = nearDupClusters(pairs)
    val clustered = df.select(col(idCol).as("id"), score.as("__score"))
      .join(cc, "id")
    val best = clustered.groupBy("cluster").agg(max("__score").as("__smax"))
    val winners = clustered.join(best, Seq("cluster"))
      .filter(col("__score") <=> col("__smax"))
      .groupBy("cluster").agg(min("id").as("id"))
      .select(col("id"))
    val losers = cc.select(col("id"))
      .join(winners, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-document n-gram NOVELTY score — the data-selection signal
    * behind dedup-aware curricula ("how much of this document's
    * content first appears here?"): for each document, the fraction of
    * its distinct n-word shingles whose corpus-wide FIRST occurrence
    * (minimum id) is this document. Boilerplate-heavy or syndicated
    * docs score near 0, originals near 1; ordering is the id order, so
    * the score is deterministic and incremental-friendly (new batches
    * only ever lower nothing — ids are assigned increasing).
    *
    * Returns (idCol, n_shingles, n_novel, novelty). Documents with
    * fewer than `n` tokens carry no shingles and are omitted, like the
    * other shingle-grain operators.
    *
    * Scale shape: one map-side-combinable distinct + min aggregate on
    * the shingle key (shuffle ∝ distinct shingles, the decontamination
    * cost class), one hash agg back on the id — no window over the
    * corpus, no self-join. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3): DataFrame = {
    // barrier: the per-doc join consumes sh joined against the
    // first-occurrence aggregate derived from sh itself; without it
    // the corpus is scanned and shingle-aggregated twice
    val sh = explodedShingles(df, idCol, textCol, shingleWords).distinct()
      .barrierFirewall()
    val first = sh.groupBy(col("sh"))
      .agg(min(col(idCol)).as("__first"))
    sh.join(first, "sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-word gram, slide a
    * window of `window` consecutive gram hashes, keep each window's
    * minimum; the distinct kept hashes are the fingerprint. Guarantee:
    * any shared run of at least window+k-1 tokens between two documents
    * yields at least one shared fingerprint, while storage is ~2/(w+1)
    * of the gram count — the standard local-similarity sketch for
    * plagiarism/provenance detection at corpus scale.
    *
    * Documents with fewer than `window` grams contribute the minimum
    * over all their grams (one degenerate window) instead of nothing.
    *
    * Scale shape: one shuffle (window partitioned by document), then a
    * partial-aggregated distinct; no driver collection, no all-pairs.
    * Gram hashes are 60-bit md5 prefixes parsed to BIGINT — numeric,
    * portable (an external SQL engine reproduces them exactly), and
    * cheap to compare downstream. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      gramWords: Int = 3, window: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = fanOut(df).select(col(idCol),
      posexplode(shinglesOf(col(textCol), gramWords)).as(Seq("pos", "sh")))
    val hashed = sh.select(col(idCol), col("pos"),
      md5Hash60(col("sh")).as("h"))
    val fwd = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    val whole = Window.partitionBy(idCol)
    hashed
      .withColumn("wmin", min("h").over(fwd))
      .withColumn("wn", count(lit(1)).over(fwd))
      .withColumn("n", count(lit(1)).over(whole))
      .filter(col("wn") === window || (col("n") < window && col("pos") === 0))
      .select(col(idCol), col("wmin").as("fp"))
      .distinct()
  }

  /** 16-bit SimHash over unigram tokens as a bit-string column.
    * Bit b is the sign of the sum over tokens of +-1 by the high bit of
    * the b-th hex digit of md5(token). */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = fanOut(df).select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), explode(col("__w")).as("tok"))
      .select(col(idCol), md5(col("tok")).as("m")) // md5 once per token
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val aggs = (0 until 16).map { b =>
      sum(when(substring(col("m"), b + 1, 1).isin(highHex: _*), 1)
        .otherwise(-1)).as(s"b$b")
    }
    val sums = tok.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    sums.withColumn("simhash",
      concat((0 until 16).map(b => when(col(s"b$b") > 0, "1").otherwise("0")): _*))
  }

  /** Scalar (per-row) 16-bit SimHash — the streaming-safe form of
    * [[simhash16]]: no aggregation state, so it drops into a streaming
    * select/dropDuplicatesWithinWatermark. One md5 per token
    * (`transform` materializes the digests once), then 16 HOF folds
    * over the digest array. Bit-for-bit equal to the batch aggregate
    * (same ±1 vote per token occurrence, same >0 threshold; asserted
    * in spec). One divergence: a document with NO tokens gets the
    * all-zero signature here, while the batch aggregate drops it (no
    * exploded rows to group). Prefer [[simhash16]] for batch corpora —
    * the exploded hash-agg spreads one huge document across tasks,
    * this keeps each document on one row. */
  def simhash16Col(text: Column): Column = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val ms = transform(tokens(text), t => md5(t))
    val bits = (0 until 16).map { b =>
      val vote = aggregate(ms, lit(0L), (acc, m) =>
        acc + when(substring(m, b + 1, 1).isin(highHex: _*), 1L).otherwise(-1L))
      when(vote > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Scalar (per-row) 64-bit SimHash — the streaming-safe twin of
    * [[simhash64]], bit-for-bit equal to the batch aggregate (same
    * packed-long ±1 vote per token occurrence, same >0 threshold;
    * asserted in spec). Each digest's first 16 hex digits are parsed
    * into two longs ONCE per token; the 64 folds then cost only a
    * shift/mask each. Used by streaming dedup, where a 16-bit
    * signature would collide constantly (50% by ~300 docs) and drop
    * unrelated documents. */
  def simhash64Col(text: Column): Column = {
    val xs = transform(tokens(text), t => {
      val m = md5(t)
      struct(
        conv(substring(m, 1, 8), 16, 10).cast("long").as("x0"),
        conv(substring(m, 9, 8), 16, 10).cast("long").as("x1"))
    })
    val bits = (0 until 64).map { b =>
      val k = 31 - (b % 32)
      val vote = aggregate(xs, lit(0L), (acc, x) => {
        val xw = if (b < 32) x.getField("x0") else x.getField("x1")
        acc + (shiftright(xw, k).bitwiseAND(1L) * 2L - 1L)
      })
      when(vote > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Hex-digit bit membership lists: bit k (3 = high) of a lowercase
    * hex digit is set iff the digit is in `hexBit(k)`. Shared by the
    * 64-bit simhash and its SQL mirror. */
  val hexBit: Array[Seq[String]] = Array(
    Seq("1", "3", "5", "7", "9", "b", "d", "f"),
    Seq("2", "3", "6", "7", "a", "b", "e", "f"),
    Seq("4", "5", "6", "7", "c", "d", "e", "f"),
    Seq("8", "9", "a", "b", "c", "d", "e", "f"))

  /** 64-bit SimHash over unigram tokens as a bit-string column: bit b
    * is the sign of the per-token +-1 sum keyed by bit (3 - b%4) of
    * hex digit (b/4 + 1) of md5(token) — i.e. MSB-first bits of the
    * first 16 hex digits. 64 bits is the standard width for web-scale
    * near-dup (16 bits collides constantly on a bounded vocabulary;
    * see [[simhash16]] which is kept for the compact signature case).
    *
    * The hot path parses the 16 digits into two longs ONCE per token
    * and keys each of the 64 sums on a shift/mask — all long
    * arithmetic inside whole-stage codegen. (The first cut evaluated
    * substring+IN-list per bit per token: 4.7x slower at sf0.1.) The
    * SQL mirror keeps the equivalent per-digit [[hexBit]] membership
    * form. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = fanOut(df).select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), md5(col("tok")).as("m"))
      .select(col(idCol),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("x0"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("x1"))
    val aggs = (0 until 64).map { b =>
      val x = if (b < 32) col("x0") else col("x1")
      val k = 31 - (b % 32) // bit b = MSB-first bit of the hex word
      sum(shiftright(x, k).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    val sums = tok.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    sums.select(col(idCol),
      concat((0 until 64).map(b => when(col(s"b$b") > 0, "1").otherwise("0")): _*)
        .as("simhash"))
  }

  /** SimHash near-duplicate pairs: band-bucketed candidate generation
    * over the 64-bit [[simhash64]] signature (4 bands of 16 bits — by
    * pigeonhole, every pair within Hamming distance 3 shares a band),
    * then an exact Hamming verify unrolled into 64 codegen'd character
    * comparisons. Returns (a_id, b_id, hamming) for pairs with
    * hamming <= maxHamming. Same scale shape as the MinHash loop:
    * bucket join fan-out, never all-pairs. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // One signature row per document (tiny), but referenced four times
    // below (band self-join x2, verify joins x2); unmaterialized, the
    // full simhash64 tokenize+aggregate chain re-derived per reference
    // (t21 taskTime 47 s for one ~13 s chain).
    val sigs = simhash64(df, idCol, textCol).select(col(idCol), col("simhash"))
      .barrierFirewall()
    // (band, 16-bit value) flattened to one injective bucket key so the
    // shared [[lshCandidatePairs]] hot-bucket cap applies here too — a
    // SimHash mega-cluster (one signature shared corpus-wide) is the
    // same quadratic the MinHash chain has, and gets the same star-edge
    // treatment above the cap.
    val bux = sigs.select(col(idCol), explode(array((0 until 4).map { b =>
      concat_ws(":", lit(b), substring(col("simhash"), 1 + 16 * b, 16))
    }: _*)).as("bucket"))
    val cand = lshCandidatePairs(bux, idCol)
    // Hamming via packed longs + bit_count(xor): two base-2 parses per
    // DOCUMENT, two long xors per PAIR. (A 64-term per-pair character
    // comparison cascade was 12x slower — too large for codegen, it
    // fell back to interpreted evaluation on every candidate.)
    val sa = sigs.select(col(idCol).as("a_id"),
      conv(substring(col("simhash"), 1, 32), 2, 10).cast("long").as("__a0"),
      conv(substring(col("simhash"), 33, 32), 2, 10).cast("long").as("__a1"))
    val sb = sigs.select(col(idCol).as("b_id"),
      conv(substring(col("simhash"), 1, 32), 2, 10).cast("long").as("__b0"),
      conv(substring(col("simhash"), 33, 32), 2, 10).cast("long").as("__b1"))
    val hamming = expr("bit_count(__a0 ^ __b0) + bit_count(__a1 ^ __b1)")
    cand.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** End-to-end training-corpus curation — the canonical pre-training
    * data pipeline as ONE composed plan:
    *
    *  1. exact dedup (content-hash groups, keep min id);
    *  2. near-dup removal over the survivors: MinHash signatures ->
    *     LSH band buckets -> candidate pairs -> exact Jaccard verify at
    *     `minJaccard` -> connected-component clusters -> keep each
    *     cluster's canonical;
    *  3. quality gate: [[langId]] prediction in `keepLangs`, whitespace
    *     token count within [minTokens, maxTokens], [[repetitionStats]]
    *     top-word fraction at most `maxTopWordFrac`.
    *
    * Returns the surviving rows of `df` (all original columns). Every
    * stage is the already-bucketed/aggregated library operator — the
    * composition adds joins keyed on the id, no new fan-out. */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    // `exact` is referenced by five downstream stages; materializing the
    // corpus itself would be prohibitive at scale, but the exact-dup
    // LOSER ids (duplicates only) are small — materialize those and make
    // every re-reference a cheap anti join instead of re-running the
    // full content-hash aggregation per reference.
    // (A/B, round 4 at sf0.1: replacing ALL the pipeline's barriers
    // with plain lazy frames slowed t22 1.8x — 5.0s ->
    // 9.1s warm — because cand/verified re-derive the whole LSH lineage
    // per consumer. The barriers are load-bearing even at 5k docs; do
    // not make them size-conditional.)
    // Every barrier here is a [[graft.util.Barriers.firewall]] (r14:
    // t94 19.9 -> 13.9 s, net -24% across the 237-query registry in a
    // same-window A/B); iterative loops (CC labels, BPE training) still
    // localCheckpoint — there lineage TRUNCATION is the point.
    val groups = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as("__canon"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    // id-scale barrier: `exact` anti-joins df against losers derived
    // FROM df, and `exact` itself is re-read by the shingle, survivor
    // and quality legs, each of which would otherwise re-run the
    // exact-dup double aggregation.
    val exactLosers = df.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(groups, "__h")
      .filter(col(idCol) =!= col("__canon"))
      .select(col(idCol))
      .barrierFirewall()
    val exact = df.join(exactLosers, Seq(idCol), "left_anti")
    // One tokenize+shingle pass feeds BOTH the minhash signatures and
    // the Jaccard verify (min over the distinct set == min over the
    // multiset, and Jaccard is defined on the distinct set). The
    // materialized frame is token-scale — the same order as the shuffle
    // any one of those stages already pays — and saves a full corpus
    // re-tokenization.
    // The checkpointed frame is byte-small, so AQE coalesces it to a
    // handful of partitions — but the minhash stage multiplies work per
    // row (k/2 md5s + k base-16 parses), so fan it back out to the full
    // core count before the aggregation.
    // token-scale barrier — the deliberate exception to the
    // id-scale-only rule, A/B'd at sf0.1: the minhash and Jaccard-verify
    // legs both read allSh, which would otherwise re-tokenize the
    // corpus per read.
    val allSh = explodedShingles(exact, idCol, textCol, 3).distinct()
      .barrierFirewall()
    val sigs = minhashFromShingles(fanOut(allSh), idCol, k = 8)
    // the capped kernel reads bux twice (rows leg, stats leg)
    val bux = lshBuckets(sigs, idCol, k = 8, rows = 2).barrierFirewall()
    // the kernel output arrives FIREWALLED (materialized RDD leaf) —
    // a second cache here would store the id-pair rows twice
    val cand = lshCandidatePairs(bux, idCol)
    val candIds = cand.select(col("a_id").as(idCol))
      .union(cand.select(col("b_id").as(idCol))).distinct()
    val verified = jaccardFromShingles(
        allSh.join(candIds, Seq(idCol), "left_semi"), idCol, cand)
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id")
      .barrierFirewall() // referenced by clusters across CC iterations
    val deduped = dropNearDuplicates(exact, idCol, verified)
    // The gate is a NARROW single-pass filter (r17): every quantity it
    // reads — token count, top-word fraction, language prediction — is
    // a per-row function of the document's own token array, so the
    // previous shape (wordFracs' explode + two shuffle aggregates,
    // joined to a second langId projection of the corpus, semi-joined
    // back) paid two token-scale shuffles and two joins for what one
    // codegen'd projection computes in place. Values are bit-identical:
    // the multiset top count equals the max over distinct tokens of the
    // per-token count, n_word equals size(tokens), and the rounding/
    // division matches termFracs'. The quadratic-looking top-count loop
    // is GUARDED behind the token-count gate, so its per-row cost is
    // bounded at maxTokens^2 no matter how large a document gets
    // (termFracs' explode would have shuffled that document's every
    // token instead). Docs with no tokens had no wordFracs row and
    // were dropped; here n_word = 0 fails between() (or, with
    // minTokens = 0, the null top fraction fails the <= gate) — same
    // outcome.
    qualityGate(deduped, textCol, minTokens, maxTokens, maxTopWordFrac,
      keepLangs)
  }

  /** [[curateCorpus]]' quality gate as one narrow filter: token-count
    * bounds, top-word-fraction ceiling, language allowlist — all
    * computed from the row's own tokens, no explode, no shuffle, no
    * join. The per-row statistics (token count, exact multiset
    * top-token count, per-language profile-hit counts) come from ONE
    * compiled pass over the text bytes ([[GateStats]] — whole-stage
    * codegen, replacing the interpreted CodegenFallback HOF loop that
    * was O(n_tokens * n_distinct) per row; the kernel's top count is a
    * linear hash pass, and it only evaluates for rows inside the
    * token-count bounds). The ratio/rounding arithmetic stays in
    * Catalyst expressions so every emitted value is bit-identical to
    * the HOF formulation: n = size(tokens); top fraction =
    * `round(top_count / n, 6)` under the same between() guard (null
    * for n = 0, exactly as array_max over an empty array was); each
    * language ratio = `round(hits / n, 6)` with the same null-for-
    * empty contract; [[langPredFromRatios]] unchanged.
    *
    * Note on ids (r17 advice): the gate is a per-row filter on the
    * row's own text. [[curateCorpus]]' id contract (distinct ids —
    * its dedup stages already assume it) is what made the old
    * semi-join-by-id shape and this per-row shape equivalent. */
  private def qualityGate(df: DataFrame, textCol: String,
      minTokens: Long, maxTokens: Long, maxTopWordFrac: Double,
      keepLangs: Seq[String]): DataFrame = {
    val langs = langProfiles.keys.toSeq.sorted
    val reserved = "__qg_s" +: "__qg_n" +: "__qg_top" +:
      langs.map(l => s"__qg_r_$l")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"curateCorpus: input column `$c` collides with an internal name"))
    val stats = Bridge.column(GateStats(
      Bridge.expression(col(textCol)), minTokens, maxTokens,
      langs.map(langProfiles)))
    val n = col("__qg_n")
    val withN = df
      .withColumn("__qg_s", stats)
      .withColumn("__qg_n", element_at(col("__qg_s"), 1))
    val withR = langs.zipWithIndex.foldLeft(withN) { case (d, (l, i)) =>
      d.withColumn(s"__qg_r_$l",
        round(when(n === 0, lit(null)).otherwise(
          element_at(col("__qg_s"), 3 + i).cast("double") / n), 6))
    }
    val top = when(n.between(minTokens, maxTokens) && n > 0,
      round(element_at(col("__qg_s"), 2).cast("double") / n, 6))
    withR.withColumn("__qg_top", top)
      .filter(n.between(minTokens, maxTokens) &&
        langPredFromRatios(l => col(s"__qg_r_$l"), 0.05)
          .isin(keepLangs: _*) &&
        col("__qg_top") <= maxTopWordFrac)
      .drop(reserved: _*)
  }

  /** Exact duplicate groups by content hash: (hash, n, canonical id). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("canonical_id"))

  /** Exact dedup: keep one row (min id) per distinct content. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDupGroups(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Aggressive normalization key for near-exact dedup: casefold, every
    * non-alphanumeric run to one space, trim — then md5. Byte-identical
    * pages already collapse under [[exactDupGroups]]; this key also
    * collapses the trivially-reformatted variants every crawl carries
    * (case changes, punctuation/whitespace edits, added "!!") that are
    * NOT worth the full MinHash machinery. Sits between exact and
    * near dedup in the standard cascade: run it first, so the expensive
    * shingle stages never see cheap variants. One RE2-compatible regex,
    * mirrored verbatim by the SQL oracle. */
  def normalizedContentKey(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")))

  /** [[exactDupGroups]] under [[normalizedContentKey]]: one row per
    * distinct normalized content — (content_key, n, canonical_id). Same
    * min-struct hash-agg shape (map-side combined, 16-byte keys
    * shuffle, never the text). */
  def exactDupGroupsNormalized(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(normalizedContentKey(col(textCol)).as("content_key"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("canonical_id"))

  /** Near-exact dedup completion: keep one row (min id) per distinct
    * NORMALIZED content. */
  def dropExactDuplicatesNormalized(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val keep = exactDupGroupsNormalized(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-doc token statistics: n_chars, n_tokens, n_distinct, avg token
    * length (null for token-less docs). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("n_chars"),
        size(col("__w")).cast("long").as("n_tokens"),
        size(array_distinct(col("__w"))).cast("long").as("n_distinct"),
        when(size(col("__w")) === 0, lit(null))
          .otherwise(
            aggregate(transform(col("__w"), x => length(x).cast("long")),
              lit(0L), (a, x) => a + x)
              .cast("double") / size(col("__w"))).as("avg_token_len"))

  /** Repetition quality signals (the MassiveText/Gopher duplicate-text
    * rules, Rae et al. 2021): fraction of tokens that are the single
    * most frequent word, and duplicate/top fractions over 2-word grams.
    * High values mark boilerplate and degenerate generations — the
    * standard pre-training quality filter alongside [[tokenStats]] /
    * [[langQuality]].
    *
    * Scale shape: explode -> two hash aggregates keyed by (doc, term)
    * then (doc) — partial map-side combine applies, one shuffle per
    * aggregate level, no driver collection. Documents with no tokens
    * (or no bigram) report null for the affected fractions. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fanned = fanOut(df)
    val bigrams = fanned.select(col(idCol),
      explode(shinglesOf(col(textCol), 2)).as("t"))
    df.select(col(idCol))
      .join(wordFracs(df, idCol, textCol), Seq(idCol), "left")
      .join(termFracs(bigrams, idCol, "bigram"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_word"), lit(0L)).as("n_word"),
        col("top_word_frac"), col("dup_word_frac"),
        coalesce(col("n_bigram"), lit(0L)).as("n_bigram"),
        col("top_bigram_frac"), col("dup_bigram_frac"))
  }

  /** (id, n_PREFIX, top_PREFIX_frac, dup_PREFIX_frac) over an exploded
    * (id, t) term frame — the two-level hash-agg core of
    * [[repetitionStats]]. */
  private def termFracs(term: DataFrame, idCol: String, prefix: String): DataFrame =
    term.groupBy(col(idCol), col("t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n"), max("c").as("mx"),
        count(lit(1)).as("nd"))
      .select(col(idCol),
        col("n").as(s"n_$prefix"),
        round(col("mx").cast("double") / col("n"), 6).as(s"top_${prefix}_frac"),
        round((col("n") - col("nd")).cast("double") / col("n"), 6)
          .as(s"dup_${prefix}_frac"))

  /** Word-level fractions only — what the [[curateCorpus]] quality gate
    * needs. The gate previously rode through [[repetitionStats]], whose
    * bigram explode + two aggregate levels + join cannot be pruned by
    * Catalyst (the inner join affects multiplicity), so a full
    * token-scale shuffle was paid for columns the gate never read. */
  private def wordFracs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    termFracs(fanOut(df).select(col(idCol),
      explode(tokens(col(textCol))).as("t")), idCol, "word")

  /** GPT-2-style pretokenizer pattern: contractions, optionally
    * space-prefixed letter runs / digit runs / punctuation runs, space
    * runs. Restricted to constructs with identical semantics in Java
    * regex and RE2 so an external SQL oracle mirrors it exactly. */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  /** BPE-ish token budgeting per document: pretokenizer match count and
    * chars-per-token — the cost signal a training-data pipeline tracks
    * per document (whitespace-token stats live in [[tokenStats]]).
    * Narrow one-pass projection; codegen'd regexp. */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        size(regexp_extract_all(col(textCol), lit(BpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        round(when(col("n_bpe_tokens") === 0, lit(null))
          .otherwise(col("n_chars").cast("double") / col("n_bpe_tokens")), 6))

  // ---- trained byte-pair encoding ------------------------------------------

  /** GPT-2-style visible-space marker: pretoken spaces are mapped to
    * U+0120 before character splitting so symbols never contain the
    * separator the merge representation is built on. */
  val BpeSpaceMark = "Ġ"

  /** Wrapped-symbol form of a pretoken: spaces mapped to
    * [[BpeSpaceMark]], every character surrounded by one space on each
    * side, so [a, b] renders " a  b ". [[bpeTrainMerges]] keys its word
    * table by this string, so the `maxWords` cap breaks count ties in
    * the wrapped string's order — the order the DuckDB oracle's
    * verbatim mirror of this construction reproduces. */
  private def bpeWrap(tok: Column): Column =
    concat(lit(" "),
      array_join(split(replace(tok, lit(" "), lit(BpeSpaceMark)), ""), "  "),
      lit(" "))

  /** Train a deterministic BPE merge table from a corpus (Sennrich
    * 2016; the GPT-2 training shape): pretokenize with [[BpePattern]],
    * aggregate the word-frequency table (ONE corpus-sized pass — all
    * later work is vocabulary-sized, the property that makes BPE
    * training tractable at 100 TB), cap it to the `maxWords` most
    * frequent words (count-desc, wrapped-word-asc tie-break —
    * deterministic), collect that bounded table (the same
    * bounded-driver-state contract as [[nearDupClusters]]'s edge fast
    * path) and run `numMerges` merge iterations in memory: count
    * symbol pairs weighted by word frequency, pick the most frequent
    * pair (count-desc, pair-asc tie-break, symbols compared as UTF-8
    * bytes — Spark's string order, which the oracle's ORDER BY
    * reproduces), and fuse it leftmost-non-overlapping in every word.
    * A merge costs 2-60 ms in memory against ~0.2 s of fixed job
    * overhead as a Spark round trip (BASELINE.md "BPE merge-count
    * scale"), which is what makes 30-50k-merge tokenizers tractable.
    * Throws if the corpus runs out of distinct pairs before
    * `numMerges` merges — a merge table shorter than requested would
    * silently drift from the engine-external mirror; pass
    * `stopAtExhaustion = true` for real training runs where "merge
    * until the vocabulary is fully fused" is the intent (the returned
    * table is then authoritative for its own length, and no
    * fixed-count mirror should be attached). */
  def bpeTrainMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int = 65536,
      stopAtExhaustion: Boolean = false): Seq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    // collect (wrapped word, count) — <= maxWords rows
    val collected = fanOut(
      df.select(explode(regexp_extract_all(col(textCol), lit(BpePattern),
          lit(0))).as("__tok"))
        .groupBy("__tok").agg(count(lit(1)).as("__wc"))
        .select(bpeWrap(col("__tok")).as("__s"), col("__wc"))
        .orderBy(desc("__wc"), asc("__s")).limit(maxWords))
      .collect()
    // wrapped form " a  b  c " -> symbol array
    var words: Array[(Array[String], Long)] = collected.map(r =>
      (r.getString(0).trim.split("  "), r.getLong(1)))
    // UTF-8 unsigned byte order == Spark's UTF8String ordering
    def u8lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    while (m < numMerges) {
      val counts = new java.util.HashMap[(String, String), Long]()
      for ((syms, wc) <- words; i <- 0 until syms.length - 1)
        counts.merge((syms(i), syms(i + 1)), wc, _ + _)
      if (counts.isEmpty && stopAtExhaustion) return merges.result()
      require(!counts.isEmpty,
        s"corpus exhausted after $m merges; requested $numMerges")
      var best: ((String, String), Long) = null
      counts.forEach { (p, c) =>
        if (best == null || c > best._2 ||
          (c == best._2 && (u8lt(p._1, best._1._1) ||
            (p._1 == best._1._1 && u8lt(p._2, best._1._2)))))
          best = (p, c)
      }
      val (l, r) = best._1
      merges += ((l, r))
      // leftmost non-overlapping fuse
      words = words.map { case (syms, wc) =>
        if (syms.length < 2) (syms, wc)
        else {
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), wc)
        }
      }
      m += 1
    }
    merges.result()
  }

  /** Apply a merge table ([[bpeTrainMerges]]) to a corpus through the
    * rank-greedy [[BpeEncode]] kernel: per pretoken, repeatedly merge
    * the lowest-rank adjacent symbol pair in the table (GPT-2
    * `encoder.py` semantics), and emit (idCol, n_tokens, tokens) with
    * the final symbols single-space-joined. One O(1)-node codegen'd
    * projection — no shuffle, partitioning inherited — whose per-row
    * cost is ∝ symbols actually merged, not table depth; the table
    * ships once as a TorrentBroadcast this call creates. On trained
    * tables the result equals applying each merge once in rank order
    * (the DuckDB oracle's shape). `tokens` feeds [[packSequences]] /
    * [[truncateTokens]] / [[chunkDocuments]] directly: their
    * whitespace splitting recovers exactly these symbols, upgrading
    * every token-budget operator from the [[bpeTokenStats]]
    * approximation to trained-BPE counts. */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val table = df.sparkSession.sparkContext.broadcast(
      new BpeApply.MergeTable(merges))
    val toks = Bridge.column(BpeEncode(Bridge.expression(col(textCol)), table))
    df.select(col(idCol),
      when(toks === "", lit(0L))
        .otherwise(size(split(toks, " ")).cast("long")).as("n_tokens"),
      toks.as("tokens"))
  }

  /** Unigram-LM vocabulary training (the SentencePiece seeding stage):
    * candidate pieces are ALL substrings (length ≤ `maxPieceLen`) of
    * the corpus's distinct words, scored by corpus frequency (each
    * occurrence of a word contributes its substring multiset). The
    * kept vocabulary is every single-character piece (segmentability
    * guarantee: Viterbi can never get stuck) plus the top `vocabSize`
    * multi-character pieces by (frequency desc, piece asc). Scores are
    * 6-dp micro-unit longs: round(ln(freq / total_kept_freq) * 1e6) —
    * exact integer DP currency downstream ([[bm25Rank]]'s discipline).
    * Returns (piece, freq, score_micro). SentencePiece's EM refinement
    * over this seed is the documented extension; the frequency seed is
    * the standard ESA-counted init (Kudo 2018 §3).
    *
    * Scale shape: the corpus is touched ONCE (word-count hash agg,
    * map-side combinable); the substring fan-out runs over the
    * DISTINCT-WORD table — vocabulary-sized, not corpus-sized — and
    * the top-V pick is a TakeOrdered (no global sort materialized).
    * The model is |alphabet| + vocabSize rows no matter the corpus. */
  def unigramTrainScores(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 64, maxPieceLen: Int = 8): DataFrame = {
    require(vocabSize >= 0, s"vocabSize must be >= 0, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val wf = fanOut(df)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wf"))
    val subs = flatten(transform(
      sequence(lit(1), length(col("word"))),
      st => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - st + 1)),
        l => col("word").substr(st, l))))
    val pc = wf.select(col("wf"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum("wf").as("freq"))
    val singles = pc.filter(length(col("piece")) === 1)
    val multis = pc.filter(length(col("piece")) >= 2)
      .orderBy(desc("freq"), col("piece")).limit(vocabSize)
    val kept = singles.unionByName(multis)
    kept.crossJoin(broadcast(kept.agg(sum(col("freq")).as("__tot"))))
      .select(col("piece"), col("freq"),
        round(log(col("freq").cast("double") / col("__tot")) * 1e6, 0)
          .cast("long").as("score_micro"))
  }

  /** Unigram-LM Viterbi tokenization with an explicit vocabulary —
    * the apply path: one codegen'd [[UnigramEncode]] projection per
    * row (O(chars x maxPieceLen), no join, no shuffle); the vocab
    * ships once as a TorrentBroadcast this call creates, so a
    * production-size model (32k-256k pieces) costs what a small one
    * does. Returns (idCol, pieces space-joined, n_pieces,
    * score_micro) — score_micro is the exact micro-unit
    * log-likelihood of the optimal segmentation, the sequence-level
    * signal perplexity-style selection reads. */
  def unigramTokenizeWith(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)], maxPieceLen: Int = 8): DataFrame = {
    val model = df.sparkSession.sparkContext.broadcast(
      new UnigramApply.Vocab(vocab, maxPieceLen))
    val enc = Bridge.column(
      UnigramEncode(Bridge.expression(col(textCol)), model))
    df.select(col(idCol), enc.as("__u"))
      .select(col(idCol), col("__u.pieces").as("pieces"),
        col("__u.n_pieces").cast("long").as("n_pieces"),
        col("__u.score_micro").as("score_micro"))
  }

  /** Train-then-apply unigram tokenization over one corpus:
    * [[unigramTrainScores]] collected as the model (bounded at
    * |alphabet| + vocabSize rows — the k-row model contract the BPE
    * trainer and the classifiers share), then
    * [[unigramTokenizeWith]]. */
  def unigramTokenize(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 64, maxPieceLen: Int = 8): DataFrame =
    unigramTokenizeEm(df, idCol, textCol, vocabSize, maxPieceLen,
      emRounds = 0)

  /** One Viterbi-EM re-estimation round for the unigram model (the
    * hard-EM refinement SentencePiece iterates over its seed): decode
    * the corpus under `vocab`, count each piece's occurrences in the
    * optimal segmentations (the E step, Viterbi-approximated), and
    * re-score as round(ln(count / total_count) * 1e6) (the M step).
    * Pieces the decode never uses drop out — the pruning that
    * concentrates mass on pieces that actually win segmentations; a
    * character orphaned by pruning still decodes via the UNK lattice
    * candidate. Returns (piece, freq, score_micro).
    *
    * Scale shape: one [[unigramTokenizeWith]] pass (narrow, codegen'd)
    * + a piece explode into a map-side-combinable hash agg; the new
    * model is ≤ |vocab| rows. */
  def unigramEmStep(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)], maxPieceLen: Int = 8): DataFrame = {
    val counts = unigramTokenizeWith(df, idCol, textCol, vocab, maxPieceLen)
      .filter(col("pieces") =!= "")
      .select(explode(split(col("pieces"), " ")).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("freq"))
    counts.crossJoin(broadcast(counts.agg(sum(col("freq")).as("__tot"))))
      .select(col("piece"), col("freq"),
        round(log(col("freq").cast("double") / col("__tot")) * 1e6, 0)
          .cast("long").as("score_micro"))
  }

  /** Materialize a (piece, score_micro) frame as the driver-side model
    * — the one projection the unigram entry points share. */
  private def collectUnigramModel(scores: DataFrame): Seq[(String, Long)] =
    scores.select("piece", "score_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** [[unigramTokenize]] with `emRounds` Viterbi-EM refinement rounds
    * between seeding and the final decode. Each round collects the
    * ≤ |vocab|-row model (the k-row contract) and re-decodes — the
    * corpus is scanned emRounds + 2 times total, every pass narrow. */
  def unigramTokenizeEm(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 64, maxPieceLen: Int = 8,
      emRounds: Int = 1): DataFrame = {
    require(emRounds >= 0, s"emRounds must be >= 0, got $emRounds")
    var model = collectUnigramModel(
      unigramTrainScores(df, idCol, textCol, vocabSize, maxPieceLen))
    var r = 0
    while (r < emRounds) {
      model = collectUnigramModel(
        unigramEmStep(df, idCol, textCol, model, maxPieceLen))
      r += 1
    }
    unigramTokenizeWith(df, idCol, textCol, model, maxPieceLen)
  }

  /** Function-word profiles for the argmax language classifier
    * ([[langId]]). Small closed-class word lists (the standard
    * stopword-profile approach to language ID — function words are the
    * highest-frequency, most language-specific tokens); extend the map
    * to add languages. Tokens are already lowercased by [[tokens]];
    * accented forms appear as their own tokens. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "you",
      "that", "for", "on", "with", "as", "are", "this", "was", "be"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "eine", "zu", "den", "von", "auf", "im", "sich", "des", "auch"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "un", "des", "du",
      "dans", "que", "qui", "pour", "pas", "sur", "au", "ce", "ne"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "una", "un", "en",
      "que", "de", "por", "con", "para", "no", "se", "su", "al"))

  /** Multi-language ID by function-word profile argmax: one pass
    * computes, per document, the fraction of tokens found in each
    * language's profile; the prediction is the highest-fraction
    * language, or "unknown" when no profile reaches `minRatio` (or the
    * document is empty). Ties break by profile-name order
    * (deterministic, oracle-mirrorable). Narrow projection — no
    * shuffle, no UDF; each ratio is one interpreted `filter` HOF over
    * an already-materialized token array (bounded by tokens-per-doc). */
  def langId(df: DataFrame, idCol: String, textCol: String,
      minRatio: Double = 0.05): DataFrame = {
    val langs = langProfiles.keys.toSeq.sorted
    val withRatios = fanOut(df)
      .select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol) +: langs.map(l =>
        langRatioOf(col("__w"), l).as(s"r_$l")): _*)
    withRatios.select(col(idCol) +: langs.map(l => col(s"r_$l")) :+
      langPredFromRatios(l => col(s"r_$l"), minRatio).as("lang_pred"): _*)
  }

  /** One language's profile-token ratio over an already-materialized
    * token array — [[langId]]'s per-language column, factored out so
    * [[curateCorpus]] can inline the prediction into a narrow filter
    * instead of joining a second projection of the corpus. */
  private def langRatioOf(w: Column, lang: String): Column = {
    val arr = array(langProfiles(lang).map(lit): _*)
    round(when(size(w) === 0, lit(null)).otherwise(
      size(filter(w, x => array_contains(arr, x))).cast("double") / size(w)),
      6)
  }

  /** [[langId]]'s argmax-with-floor prediction over per-language ratio
    * columns (ties break by profile-name order, exactly as langId). */
  private def langPredFromRatios(ratio: String => Column,
      minRatio: Double): Column = {
    val langs = langProfiles.keys.toSeq.sorted
    val best = langs.map(ratio).reduce((a, b) => greatest(a, b))
    langs.foldRight(lit("unknown")) { (l, rest) =>
      when(ratio(l).isNotNull && ratio(l) >= minRatio &&
        ratio(l) === best, l).otherwise(rest)
    }
  }

  /** Unicode-range script classes for [[scriptDetect]] — literal-char
    * ranges only (no \p{Script} property classes: Java and RE2 disagree
    * on property-name spelling, but literal ranges mean the same code
    * points everywhere). One (name, character-class) per script, in
    * dominance tie-break order. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[一-鿿぀-ヿ가-힯]"),
    ("arabic", "[؀-ۿ]"))

  /** Writing-system detection — the router a multilingual corpus needs
    * BEFORE [[langId]]'s per-language token profiles apply (those
    * assume Latin script): per-document counts of characters in each
    * script's unicode range, the dominant script (count tie-break =
    * [[ScriptClasses]] order; 'unknown' when no script chars at all),
    * and the dominant script's share of all script chars. Narrow
    * regexp_count projection — no shuffle, no UDF, codegen'd. */
  def scriptDetect(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val counts = ScriptClasses.map { case (name, cls) =>
      regexp_count(t, lit(cls)).cast("long").as(s"n_$name")
    }
    val withCounts = df.select(col(idCol) +: counts: _*)
    val total = ScriptClasses.map(s => col(s"n_${s._1}")).reduce(_ + _)
    val best = ScriptClasses.map(s => col(s"n_${s._1}"))
      .reduce((a, b) => greatest(a, b))
    val dominant = ScriptClasses.foldRight(lit("unknown")) {
      case ((name, _), rest) =>
        when(col(s"n_$name") > 0 && col(s"n_$name") === best, name)
          .otherwise(rest)
    }
    withCounts.select(
      (col(idCol) +: ScriptClasses.map(s => col(s"n_${s._1}"))) :+
        dominant.as("script") :+
        round(when(total === 0, lit(null))
          .otherwise(best.cast("double") / total), 6).as("script_frac"): _*)
  }

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it",
    "you", "that", "for", "on", "with", "as")

  /** Stopword-ratio language-ID heuristic + quality score signals. */
  def langQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stopArr = array(enStop.map(lit): _*)
    val w = col("__w")
    val nStop = size(filter(w, x => array_contains(stopArr, x)))
    val ratio = when(size(w) === 0, lit(null))
      .otherwise(nStop.cast("double") / size(w))
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol),
        round(ratio, 6).as("stop_ratio"),
        when(ratio.isNull, "unknown").when(ratio >= 0.05, "en").otherwise("other")
          .as("lang_pred"),
        round(when(size(w) === 0, lit(null)).otherwise(
          size(array_distinct(w)).cast("double") / size(w)), 6).as("ttr"))
  }

  // ---- dataset mixing / packing / scrubbing / corpus stats -----------------

  /** Deterministic weighted mixture sampling for dataset mixing: keep a
    * document iff a uniform-[0,1) hash of its id falls below its
    * source's sampling rate. The hash is content-independent md5 (the
    * same document keeps/drops identically across runs and engines), so
    * mixtures are reproducible with no RNG state, and the whole op is
    * one narrow filter — no shuffle, no sort, survives any scale. */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    val u = md5Hash60(col(idCol).cast("string"))
      .cast("double") / math.pow(16.0, 15)
    df.filter(u < rateCase(sourceCol, rates, defaultRate))
  }

  /** Quality-proportional (soft) sampling — the FineWeb-Edu-style
    * alternative to a hard classifier cut: keep each document with
    * probability `probCol` (clamped to [0, 1]; null drops the row),
    * decided by a "q:"-salted deterministic uniform id-hash
    * ([[mixtureSample]]'s mechanism, per-document probabilities
    * instead of per-source rates). Soft filtering keeps a stake for
    * every quality stratum — a 0.4-scored document survives 40% of
    * the time rather than dying at a 0.5 threshold — while still
    * tilting the corpus toward quality; feed it a classifier score
    * ([[graft.text.Classifier]]), a [[langQuality]] ratio, or any
    * 0..1 signal. Scale shape: one narrow filter — no shuffle, no RNG
    * state, reproducible across runs, engines and partitionings. */
  def qualitySample(df: DataFrame, idCol: String, probCol: String): DataFrame = {
    val u = md5Hash60(concat(lit("q:"), col(idCol).cast("string")))
      .cast("double") / math.pow(16.0, 15)
    // coalesce BEFORE the clamp: Spark's least/greatest skip nulls, so
    // least(1.0, null) is 1.0 and a bare clamp would KEEP null-scored
    // rows instead of dropping them
    df.filter(u <
      greatest(lit(0.0), least(lit(1.0), coalesce(col(probCol), lit(0.0)))))
  }

  /** [[mixtureSample]] generalized to epoch-style weights that may
    * EXCEED 1 — the standard training-mixture shape (Pile/LLaMA-style
    * source weights): a document with rate r appears floor(r) times,
    * plus once more iff its uniform id-hash falls below frac(r), so a
    * source weighted 2.3 contributes every doc twice and a
    * deterministic ~30% of docs a third time. Returns the input columns
    * plus a 0-based `copy` index so downstream packing/sharding treats
    * repeats as distinct rows. Scale shape: one narrow projection plus
    * a bounded explode (at most ceil(max rate) per row) — no shuffle,
    * no RNG state. */
  def mixtureUpsample(df: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    Seq("__n", "copy").foreach(c => require(!df.columns.contains(c),
      s"column $c collides with mixtureUpsample's output/internal columns"))
    // "up:"-salted hash: the extra-copy decision must be INDEPENDENT of
    // mixtureSample's unsalted keep-hash — with the same u, a corpus
    // pre-filtered at rate s would get the extra copy for 100% (s <=
    // frac) or a biased low-u slice of docs, never the frac(r) sample.
    val u = md5Hash60(concat(lit("up:"), col(idCol).cast("string")))
      .cast("double") / math.pow(16.0, 15)
    val rate = rateCase(sourceCol, rates, defaultRate)
    val n = (floor(rate) +
      when(u < rate - floor(rate), 1.0).otherwise(0.0)).cast("int")
    df.withColumn("__n", n)
      .filter(col("__n") > 0)
      .withColumn("copy", explode(sequence(lit(0), col("__n") - 1)))
      .drop("__n")
  }

  /** Mixture-weight SOLVER — computes the per-source token allocation
    * that [[mixtureSample]]/[[weightedSample]] consume as given: split
    * `budgetTokens` across sources proportionally to `weight`, capped
    * by each source's available tokens, with capped sources' unused
    * share re-flowing to the rest (water-filling — the LLaMA/Pile-style
    * "epochs per source" computation). A source is SATURATED when its
    * fair share at the final water level exceeds its supply; its
    * allocation is everything it has, and the remaining budget is
    * re-split over the unsaturated sources by weight.
    *
    * The saturated set is found without iteration: sorted by
    * avail/weight ascending, it is a PREFIX — if a source's supply
    * exceeds its share at the water level implied by saturating every
    * cheaper source, so does every later source's (cross-multiplying
    * the water-level recurrence shows the per-row rule is
    * self-consistent) — so one ordered window pass marks it. All
    * cumulative state is integer (token Longs, micro-unit weights) and
    * every float step is a 6-dp HALF_UP-rounded division, so the
    * saturation boundary and the allocations are bit-reproducible
    * across engines.
    *
    * Returns (sourceCol, avail_tokens, weight, saturated, alloc_tokens,
    * rate): `rate` (= alloc/avail, 6 dp) feeds [[mixtureSample]]
    * directly. Scale shape: one corpus-sized token-count aggregate;
    * everything after runs on the |sources|-row frame (the whole-frame
    * window is over that tiny frame, never the corpus). */
  def mixtureAllocate(df: DataFrame, sourceCol: String, textCol: String,
      weight: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val srcs = df
      .select(col(sourceCol), size(tokens(col(textCol))).cast("long").as("__n"))
      .groupBy(sourceCol).agg(sum("__n").as("avail_tokens"))
      .withColumn("weight", round(weight.cast("double"), 6))
      .filter(col("weight") > 0)
      .withColumn("__wmicro", round(col("weight") * 1e6, 0).cast("long"))
      .withColumn("__ratio",
        round(col("avail_tokens").cast("double") / col("weight"), 6))
    val ord = Window.orderBy(col("__ratio"), col(sourceCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val b = lit(budgetTokens).cast("double")
    val marked = srcs
      .withColumn("__cavail", coalesce(sum("avail_tokens").over(ord), lit(0L)))
      .withColumn("__cw", coalesce(sum("__wmicro").over(ord), lit(0L)))
      .withColumn("__wtot", sum("__wmicro").over(all))
      .withColumn("saturated", col("__ratio") <= round(
        (b - col("__cavail").cast("double")) /
          ((col("__wtot") - col("__cw")).cast("double") / 1e6), 6))
    val leveled = marked
      .withColumn("__sata", coalesce(sum(when(col("saturated"),
        col("avail_tokens"))).over(all), lit(0L)))
      .withColumn("__satw", coalesce(sum(when(col("saturated"),
        col("__wmicro"))).over(all), lit(0L)))
      .withColumn("__lambda", when(col("__wtot") > col("__satw"), round(
        (b - col("__sata").cast("double")) /
          ((col("__wtot") - col("__satw")).cast("double") / 1e6), 6))
        .otherwise(lit(0.0)))
    leveled
      .withColumn("alloc_tokens", when(col("saturated"), col("avail_tokens"))
        .otherwise(least(col("avail_tokens"), greatest(lit(0L),
          round(col("weight") * col("__lambda"), 0).cast("long")))))
      .withColumn("rate", when(col("avail_tokens") > 0,
        round(col("alloc_tokens").cast("double") /
          col("avail_tokens").cast("double"), 6)).otherwise(lit(0.0)))
      .select(sourceCol, "avail_tokens", "weight", "saturated",
        "alloc_tokens", "rate")
  }

  /** Head+tail token-budget truncation — fit long documents to a
    * context window by keeping the first ceil(headFrac * maxTokens)
    * and last (maxTokens - head) literal-space tokens, the standard
    * long-document strategy (document openings and endings carry the
    * most signal; the middle is dropped). Documents at or under the
    * budget pass through BYTE-EXACT (the original string, no
    * re-join); truncated text is rebuilt by joining the kept token
    * slices with single spaces. Returns (idCol, n_tokens, text_trunc,
    * truncated). A pure narrow projection: per-row split/slice/join,
    * no shuffle, output partitioning inherits the input's. */
  def truncateTokens(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, headFrac: Double = 0.5): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(headFrac >= 0 && headFrac <= 1,
      s"headFrac must be in [0, 1], got $headFrac")
    val headN = math.ceil(maxTokens * headFrac).toInt
    val tailN = maxTokens - headN
    val n = size(col("__t"))
    val kept =
      if (tailN == 0) concat_ws(" ", slice(col("__t"), 1, headN))
      else if (headN == 0) concat_ws(" ", slice(col("__t"), -tailN, tailN))
      else concat_ws(" ",
        concat_ws(" ", slice(col("__t"), 1, headN)),
        concat_ws(" ", slice(col("__t"), -tailN, tailN)))
    df.select(col(idCol), col(textCol), split(col(textCol), " ").as("__t"))
      .select(col(idCol),
        n.cast("long").as("n_tokens"),
        when(n <= maxTokens, col(textCol)).otherwise(kept).as("text_trunc"),
        (n > maxTokens).as("truncated"))
  }

  /** Leakage-safe train/test split: documents are assigned to splits
    * BY NEAR-DUP CLUSTER, not individually, so two near-duplicate
    * documents can never straddle the train/test boundary — the
    * standard benchmark-contamination guard a per-doc random split
    * violates (a test doc's near-twin in train leaks the answer).
    * Clusters come from the same MinHash -> banded-LSH -> connected-
    * components chain as the near-dedup track (t14); documents in no
    * candidate pair are their own singleton cluster. The side is the
    * "split:"-salted uniform hash of the CLUSTER id against
    * `testFrac` — deterministic, content-independent, reproducible
    * across runs and engines like [[mixtureSample]]'s keep-hash.
    * Returns (idCol, cluster, split) with split in {"train", "test"}.
    *
    * Scale shape: signatures and buckets are narrow per-doc work; the
    * only corpus-wide shuffles are the LSH bucket self-join (candidate
    * pairs ∝ true near-dups) and the cluster left-join back to the
    * corpus (clusters frame is pairs-sized). The split decision itself
    * is a narrow projection. */
  def leakSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      testFrac: Double, k: Int = 8, rows: Int = 2): DataFrame = {
    require(testFrac >= 0 && testFrac <= 1,
      s"testFrac must be in [0, 1], got $testFrac")
    Seq("cluster", "split", "__cl").foreach(c =>
      require(!docs.columns.contains(c),
        s"column $c collides with leakSafeSplit's output columns"))
    val sigs = minhashSignature(docs, idCol, textCol, k)
    val bux = lshBuckets(sigs, idCol, k, rows).barrierFirewall()
    val pairs = lshCandidatePairs(bux, idCol)
    val clusters = nearDupClusters(pairs)
      .select(col("id").as(idCol), col("cluster").as("__cl"))
    val u = md5Hash60(concat(lit("split:"), col("cluster").cast("string")))
      .cast("double") / math.pow(16.0, 15)
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("__cl"), col(idCol)))
      .withColumn("split",
        when(u < lit(testFrac), lit("test")).otherwise(lit("train")))
      .select(idCol, "cluster", "split")
  }

  /** Character-level Shannon entropy per document — the classic
    * gibberish / low-diversity quality signal (binary blobs and
    * base64 runs score HIGH, single-char spam and whitespace floods
    * score LOW, natural language sits ~2.5-4.5 bits-of-e): with n_c
    * the count of character c in the doc and n the total length,
    * entropy = (1/n) * sum_c n_c * ln(n / n_c) (nats). Returns
    * (idCol, n_chars, n_distinct_chars, entropy).
    *
    * Determinism: each per-character term is rounded into integer
    * micro-units before the sum (the summation order over the
    * distinct-char array differs between engines; exact long addition
    * makes it irrelevant — [[bm25Rank]]'s discipline), and the final
    * division is 6-dp rounded in both engines.
    *
    * Scale shape: a pure narrow projection — the per-row char loop is
    * array HOFs over the row's own text (O(len * distinct_chars) per
    * row, all inside whole-stage codegen), NO explode, NO shuffle;
    * output partitioning inherits the input's. Like [[gopherRules]],
    * the cheapest class of filter and the one to run before any
    * dedup shuffle pays for documents this would have dropped. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // array_remove of "" guards the empty/null-text edge: Spark's
    // split("", "") yields [""], which would count as 1 distinct char
    // while DuckDB's list_distinct over the same split gives 0.
    val chars = array_remove(split(col(textCol), ""), "")
    val n = size(col("__ch"))
    val cnt = (c: Column) =>
      size(filter(col("__ch"), x => x === c)).cast("double")
    // Per-term grain is 1e4 (NOT 1e6): each term's c*ln(n/c) differs
    // between engines by ~1 ulp (~2e-16 relative — Java Math.log vs
    // libm), so an integer round flips when the scaled term sits
    // within that ulp of a .5 boundary. The flip window shrinks
    // linearly with the grain: at 1e6 the sf0.1 corpus's ~125k terms
    // made a flip near-certain once per few rounds (observed in the
    // r9 stretch check); at 1e4 it is ~100x rarer, for ~1e-5 nats of
    // quantization — invisible at the 6-dp display precision.
    val terms = transform(array_distinct(col("__ch")), c =>
      round(cnt(c) * log(n.cast("double") / cnt(c)) * lit(1e4), 0).cast("long"))
    df.select(col(idCol), chars.as("__ch"))
      .select(col(idCol),
        length(concat_ws("", col("__ch"))).cast("long").as("n_chars"),
        size(array_distinct(col("__ch"))).cast("long").as("n_distinct_chars"),
        when(n <= 0, lit(0.0)).otherwise(
          round(aggregate(terms, lit(0L), (a, x) => a + x).cast("double") /
            lit(1e4) / n.cast("double"), 6)).as("entropy"))
  }

  /** Temperature (alpha-smoothing) mixture resampling: per-source
    * rates are derived from the corpus's OWN source counts instead of
    * being hand-specified — the standard multilingual / data-mixture
    * technique (e.g. multilingual BERT / XLM-R sampling, alpha ~ 0.3-
    * 0.7): with p_s the empirical source share, the target mixture is
    * q_s = p_s^alpha / sum_t p_t^alpha, so alpha < 1 upweights rare
    * sources and downweights dominant ones (alpha = 1 is a no-op,
    * alpha -> 0 approaches uniform). Each document is then kept /
    * replicated exactly like [[mixtureUpsample]] with
    * rate_s = sizeFactor * N * q_s / c_s: floor(rate) copies plus one
    * more iff the "temp:"-salted id-hash falls below frac(rate), so
    * the expected output size is sizeFactor * N with mixture q.
    * Returns the input columns plus the 0-based `copy` index.
    *
    * Determinism across engines: per-source pow(c, alpha) is rounded
    * into integer micro-units BEFORE the normalizing sum (order-
    * independent long arithmetic, [[bm25Rank]]'s discipline) and the
    * final rate is 6-dp rounded in both engines, so the keep/copy
    * threshold compare is bit-identical.
    *
    * Scale shape: the count table is one partial+final hash agg
    * collapsing to |sources| rows; its totals and the per-source rate
    * land back on the corpus via an explicitly broadcast join keyed on
    * the source column — no driver collect, no assumption on source
    * cardinality beyond broadcastability, and the corpus itself sees
    * one narrow projection + bounded explode, no shuffle. */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
      alpha: Double, sizeFactor: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(sizeFactor > 0, s"sizeFactor must be positive, got $sizeFactor")
    Seq("__c", "__pm", "__z", "__tot", "__rate", "__n", "copy").foreach(c =>
      require(!df.columns.contains(c),
        s"column $c collides with temperatureSample's output/internal columns"))
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__c"))
      .withColumn("__pm",
        round(pow(col("__c").cast("double"), lit(alpha)) * lit(1e6), 0)
          .cast("long"))
    val totals = counts.agg(sum("__c").as("__tot"), sum("__pm").as("__z"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col(sourceCol),
        round(lit(sizeFactor) * col("__tot").cast("double") *
            (col("__pm").cast("double") / col("__z").cast("double")) /
            col("__c").cast("double"), 6)
          .as("__rate"))
    val u = md5Hash60(concat(lit("temp:"), col(idCol).cast("string")))
      .cast("double") / math.pow(16.0, 15)
    df.join(broadcast(rates), sourceCol)
      .withColumn("__n", (floor(col("__rate")) +
        when(u < col("__rate") - floor(col("__rate")), 1.0).otherwise(0.0))
        .cast("int"))
      .filter(col("__n") > 0)
      .withColumn("copy", explode(sequence(lit(0), col("__n") - 1)))
      .select(df.columns.map(col) :+ col("copy"): _*)
  }

  /** Weighted sampling WITHOUT replacement, per source — the exact-size
    * companion to [[temperatureSample]]'s rate-based (expected-size)
    * draw: each document gets key u^(1/w) with u its salted 60-bit
    * md5 uniform and w its weight; the k largest keys per source are a
    * weight-proportional without-replacement sample (Efraimidis &
    * Spirakis 2006). This is how "pick exactly N docs, biased by
    * quality/length" is done reproducibly: no rejection loop, no
    * global state, any subset of the corpus computes the same keys.
    *
    * Keys are rounded to micro-units BEFORE ranking (rounded-key desc,
    * id asc) so an external engine reproduces the exact selection —
    * the [[temperatureSample]] discipline; micro-key ties are real at
    * corpus scale and the id tie-break makes them deterministic.
    * Non-positive / null weights are excluded (zero weight = never
    * sampled, exactly as the estimator prescribes).
    *
    * Scale shape: one narrow key projection, then a per-source top-k
    * window — the same single shuffle class as [[stratifiedSample]];
    * for sources too hot for one partition, rank within salted
    * sub-partitions first and re-rank the k*salt survivors (the
    * [[kmvSketch]] two-phase shape) — k rows per source survive
    * either way. Output: input columns + (weight, key_micro, rk). */
  def weightedSample(df: DataFrame, idCol: String, sourceCol: String,
      weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    Seq("weight", "key_micro", "rk").foreach(c =>
      require(!df.columns.contains(c),
        s"column $c collides with weightedSample's output columns"))
    val u = md5Hash60(concat(lit("wrs:"), col(idCol).cast("string")))
      .cast("double") / math.pow(16.0, 15)
    // Bounded-heap exact top-k (r15 — previously one unfiltered
    // per-source rank window, which single-tasks a source holding most
    // of the corpus; real corpora are source-skewed): the per-source
    // k smallest (-key, id) structs via [[graft.util.TopKRows]] — a
    // map-side-combining k-bounded heap, so max-task is O(input
    // partition) no matter the source histogram. The winners table is
    // |sources| x k rows; posexplode recovers the exact global rank
    // the output contract exposes, and a broadcast join restores the
    // input columns. Selection and ranks are IDENTICAL to the window
    // formulation (total order: key desc, id asc).
    val keyed = df.withColumn("weight", weight.cast("double"))
      .filter(col("weight") > 0)
      .withColumn("key_micro",
        round(pow(u, lit(1.0) / col("weight")) * 1e6, 0).cast("long"))
    val top = keyed.groupBy(sourceCol)
      .agg(graft.util.TopK.topKRows(
        struct((-col("key_micro")).as("nk"), col(idCol).as("id")), k)
        .as("__top"))
      .select(col(sourceCol).as("__src"), posexplode(col("__top")))
      .select(col("__src"), col("col.id").as("__id"),
        (col("pos") + 1).cast("int").as("rk"))
    // null-safe on the source key (a NULL source is a real group the
    // window formulation ranked too); no broadcast hint — the winners
    // table is |sources| x k rows, which a many-source corpus can make
    // large, so the planner picks the strategy from its stats
    keyed.join(top,
        keyed(sourceCol) <=> top("__src") && keyed(idCol) === top("__id"))
      .drop("__src", "__id")
  }

  /** Contiguous-fill sequence packing: assign each document to a fixed
    * token-budget bin by the running token total in (source, id) order —
    * bin k starts where the cumulative count crosses k*budget. This is
    * the deterministic streaming-order packing used when shuffling is
    * deferred to training time. The per-source cumulative total is
    * [[graft.util.DistRank.perKeyRunningSum]] (r15 — previously a
    * source-partitioned window sum, which single-tasks a source
    * holding most of the corpus; real corpora are source-skewed): a
    * source above the heavy-row threshold takes the range-partitioned
    * two-pass prefix sum, so max-task stays flat no matter the source
    * histogram, with identical totals. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budget: Int = 512): DataFrame = {
    val sized = df.select(col(sourceCol), col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tok"))
    graft.util.DistRank.perKeyRunningSum(sized, sourceCol,
        Seq(col(idCol)), "n_tok", "__cum")
      .withColumn("bin",
        floor((col("__cum") - col("n_tok")) / lit(budget.toDouble))
          .cast("long"))
      .drop("__cum")
  }

  /** ATOMIC (no-split) sequence packing — the packing regime where
    * fragmentation is REAL: each document must land whole inside one
    * capacity-`budget` bin (SFT/instruction corpora, where crossing a
    * document boundary poisons the sample), so bins waste their tail
    * slack and the packer's job is to minimize bins. Two strategies:
    *
    *  - `"nextfit"` — arrival (id) order, one open bin: a doc that
    *    does not fit closes the bin and opens the next. The streaming
    *    baseline; wastes ~half a mean doc per bin.
    *  - `"bfd"` (default) — best-fit-decreasing: docs sorted by
    *    (n_tok desc, id asc), each placed in the FULLEST open bin that
    *    still fits it (ties -> lowest bin id), else a new bin. The
    *    classic 11/9-OPT guarantee; closes most of next-fit's gap
    *    (measured per-source in the t132 efficiency report).
    *
    * Oversized docs (n_tok > budget) get a singleton bin under both
    * strategies (they can never co-habit; truncation is the trainer's
    * call, not the packer's). Bin ids are creation-ordered per group.
    *
    * Scale shape: packing is SHARD-LOCAL — docs are deterministically
    * split into `nShards` sub-shards per source (the [[shardAssign]]
    * md5 hash, so the mirror recomputes membership), and each
    * (source, shard) group packs independently after ONE exchange
    * keyed on exactly those columns; the per-source length sort is
    * within-partition, never global. The sequential fold below is
    * [[org.apache.spark.sql.Dataset.mapPartitions]] by necessity, not
    * convenience — best-fit is an inherently order-dependent
    * recurrence no Catalyst expression expresses — and its state is
    * the OPEN-BIN fill table of the current group (O(group tokens /
    * budget) longs), never the group's rows. Group size is
    * nShards-bounded: at 100 TB you raise nShards until a group's
    * bin table fits comfortably; bins stay full because every group
    * sees the source's full length distribution (the md5 split is
    * length-blind). Returns (source, shard, idCol, n_tok, bin). */
  def packSequencesAtomic(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budget: Int = 512, nShards: Int = 4,
      strategy: String = "bfd"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(strategy == "bfd" || strategy == "nextfit",
      s"strategy must be bfd or nextfit, got $strategy")
    // shard hash reads the RAW id's string form — the exact
    // [[shardAssign]] expression, so membership agrees between the two
    // operators for any id type (a long id renders identically either
    // way; a string id must not diverge). Null text packs as a 0-token
    // doc and a null id falls to shard 0 instead of NPE-ing the fold —
    // the graceful-degradation contract [[packSequences]] set.
    val lens = df.select(col(sourceCol).cast("string").as("source"),
        col(idCol).cast("long").as("__id"),
        coalesce(size(tokens(coalesce(col(textCol).cast("string"),
          lit("")))).cast("long"), lit(0L)).as("n_tok"),
        col(idCol).cast("string").as("__rawid"))
      .withColumn("shard",
        coalesce(
          pmod(md5Hash60(col("__rawid")), lit(nShards.toLong)).cast("int"),
          lit(0)))
      .drop("__rawid")
    val ord =
      if (strategy == "bfd")
        Seq(col("source"), col("shard"), col("n_tok").desc, col("__id"))
      else Seq(col("source"), col("shard"), col("__id"))
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val arranged = lens
      .repartition(nPart, col("source"), col("shard"))
      .sortWithinPartitions(ord: _*)
      .select("source", "shard", "__id", "n_tok")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tok",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bin",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val cap = budget.toLong
    val bfd = strategy == "bfd"
    arranged.mapPartitions { rows =>
      var curSrc: String = null
      var curShard = Int.MinValue
      // open bins as (fill, -binId): maxBefore((cap - n, MaxValue))
      // IS best-fit with the lowest-bin-id tie-break
      val bins = scala.collection.mutable.TreeSet.empty[(Long, Long)]
      var nextBin = 0L
      var lastFill = 0L   // nextfit: the single open bin
      var lastBin = -1L
      rows.map { r =>
        val src = r.getString(0); val sh = r.getInt(1)
        if (src != curSrc || sh != curShard) {
          curSrc = src; curShard = sh
          bins.clear(); nextBin = 0L; lastFill = 0L; lastBin = -1L
        }
        val n = r.getLong(3)
        val bin =
          if (bfd) {
            bins.maxBefore((cap - n, Long.MaxValue)) match {
              case Some(k @ (fill, negB)) if fill + n <= cap =>
                bins.remove(k); bins.add((fill + n, negB)); -negB
              case _ =>
                val b = nextBin; nextBin += 1
                bins.add((n, -b)); b
            }
          } else {
            if (lastBin >= 0 && lastFill + n <= cap) {
              lastFill += n; lastBin
            } else {
              val b = nextBin; nextBin += 1
              lastFill = n; lastBin = b; b
            }
          }
        // boxed id read: a null id row still packs (shard 0) instead
        // of NPE-ing the whole partition
        val idVal: java.lang.Long =
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))
        org.apache.spark.sql.Row(src, sh, idVal, n, bin)
      }
    }(enc)
  }

  /** Deterministic training-shard assignment — the reproducible "global
    * shuffle" a training-data writer needs: shard = md5-uniform hash of
    * the id modulo `nShards` (content-independent, stable across runs
    * and engines, like [[mixtureSample]]'s keep-hash), and a
    * within-shard sequence number ordered by (hash, id) so the read
    * order inside each shard is itself a reproducible shuffle. Returns
    * the input columns plus (shard, seq).
    *
    * Scale shape: the shard id is a narrow projection; the sequence is
    * a row_number windowed BY SHARD — one shuffle keyed exactly like
    * the partitioned write that follows (repartition(nShards, shard) ->
    * sortWithinPartitions(seq) -> write), so the window's exchange IS
    * the write's exchange. No global sort ever happens. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    Seq("__u", "shard", "seq").foreach(c => require(!df.columns.contains(c),
      s"column $c collides with shardAssign's output/internal columns"))
    val u = md5Hash60(col(idCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__u"), col(idCol))
    df.withColumn("__u", u)
      .withColumn("shard", pmod(col("__u"), lit(nShards.toLong)).cast("int"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .drop("__u")
  }

  /** PII scrubbing: mask emails, IPv4 addresses, and long digit runs
    * (account/phone-number shaped) with typed placeholders, and count
    * each match class. Patterns are RE2-compatible so an external SQL
    * engine applies them identically; one narrow projection per row.
    * `carry` columns ride through the projection unchanged — callers
    * that need extra input columns alongside the masked text (the
    * pipeline's sourceCol) carry them HERE instead of joining the
    * scrubbed frame back onto its own input, which costs a corpus-
    * scale self-join (r17 optimization: that join was a duplicated
    * SortMergeJoin subtree in the t106 plan). */
  def piiScrub(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val digits = "\\b[0-9]{9,}\\b"
    val masked = regexp_replace(regexp_replace(regexp_replace(col(textCol),
      email, "<EMAIL>"), ip, "<IP>"), digits, "<NUM>")
    df.select(col(idCol) +:
      size(regexp_extract_all(col(textCol), lit(email), lit(0))).cast("long").as("n_email") +:
      size(regexp_extract_all(col(textCol), lit(ip), lit(0))).cast("long").as("n_ip") +:
      size(regexp_extract_all(col(textCol), lit(digits), lit(0))).cast("long").as("n_num") +:
      masked.as("clean_text") +:
      carry.map(col): _*)
  }

  /** Corpus-level top-k n-grams by frequency (deterministic tie-break on
    * the gram text). Shape at scale: explode -> partial-aggregated
    * hash count -> TakeOrderedAndProject; k rows cross the wire. */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 2, k: Int = 100): DataFrame =
    fanOut(df).select(explode(shinglesOf(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("gram")).limit(k)

  // ---- segment-level structure ops (paragraph / line granularity) ----------

  /** Segment-level exact dedup — the CCNet/RefinedWeb paragraph rule:
    * split each document on the literal separator `sep`, keep only the
    * corpus-wide FIRST occurrence (smallest (id, position)) of every
    * distinct non-blank segment, and reassemble each document's
    * survivors in original order. Boilerplate paragraphs (headers, nav
    * bars, license blocks) repeated across a crawl survive only in the
    * first document that carries them; documents left with no segments
    * drop out entirely. Returns (idCol, clean_text, n_seg, n_kept).
    *
    * Scale shape: posexplode -> hash aggregate keyed by segment content
    * taking min(struct(id, pos)) — map-side partial combine means a
    * segment repeated 10^8 times ships ONE candidate per task, which is
    * why this beats the equivalent single-shuffle window (row_number
    * over a hot boilerplate segment moves every copy to one reducer) —
    * then a semi-join back on (segment, id, pos), whose key is unique
    * and therefore skew-free, and per-doc reassembly via
    * array_sort(collect_list(struct)). */
  /** WITHIN-document segment dedup — the in-page counterpart of
    * [[segmentDedup]]: pages repeat their own boilerplate (cookie
    * banners re-injected per section, templated footers, scraped
    * pagination), and only the FIRST in-document occurrence of each
    * segment survives, order preserved. Blank segments drop. Entirely
    * in-row (a positional array filter: keep element i iff it does not
    * appear among elements 0..i-1) — no explode, no shuffle, nothing
    * corpus-wide; run [[segmentDedup]] afterwards for the cross-corpus
    * pass. Returns (idCol, clean_text, n_seg, n_kept). */
  def dedupWithinDoc(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val parts = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val nonBlank = filter(parts, s => trim(s) =!= "")
    val kept = filter(nonBlank, (s, i) =>
      array_position(slice(nonBlank, lit(1), i), s) === 0)
    df.select(col(idCol),
      array_join(kept, sep).as("clean_text"),
      size(nonBlank).cast("long").as("n_seg"),
      size(kept).cast("long").as("n_kept"))
  }

  /** Frequency-threshold boilerplate removal — the Dolma/CCNet rule
    * [[dedupParagraphs]] deliberately is NOT: a segment whose DOCUMENT
    * frequency within its group (domain, source) exceeds
    * `maxDocFrac` of the group's documents (and at least `minDocFreq`
    * documents, so 2-doc groups don't self-destruct) is boilerplate —
    * nav bars, cookie banners, license blocks — and EVERY copy is
    * removed, including the first (first-occurrence-wins dedup would
    * keep one copy of the nav bar as if it were content). Documents
    * keep their remaining segments in order; docs whose every segment
    * was boilerplate emit clean_text = "".
    *
    * Returns (idCol, groupCol, n_seg, n_kept, clean_text).
    *
    * Scale shape: one per-(group, segment) document-frequency hash
    * aggregate over within-doc-distinct segments (map-side combine —
    * a segment repeated 10^8 times ships one candidate per task), one
    * tiny per-group doc-count aggregate, and the hot set — bounded by
    * distinct segments ABOVE the frequency threshold, small by nature
    * — comes back as a broadcast left-anti-style mark, so the corpus
    * itself never reshuffles on the (skewed) segment key. Reassembly
    * is the same per-doc aggregate as [[dedupParagraphs]]. */
  def removeBoilerplateSegments(df: DataFrame, idCol: String,
      groupCol: String, textCol: String, sep: String = "\n\n",
      maxDocFrac: Double = 0.3, minDocFreq: Int = 2): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac <= 1,
      s"maxDocFrac must be in (0,1], got $maxDocFrac")
    val id = col(idCol)
    val grp = col(groupCol)
    val segs = df
      .select(id, grp, posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))))
      .select(id, grp, col("pos"), trim(col("col")).as("par"))
      .filter(col("par") =!= "")
    val groupDocs = df.groupBy(grp).agg(
      count(lit(1)).as("__gdocs"))
    val dfreq = segs.select(grp, col("par"), id).distinct()
      .groupBy(grp, col("par")).agg(count(lit(1)).as("__df"))
    val hot = dfreq.join(groupDocs, groupCol)
      .filter(col("__df") >= minDocFreq &&
        col("__df") > lit(maxDocFrac) * col("__gdocs"))
      .select(grp, col("par"), lit(true).as("__hot"))
    val marked = segs.join(broadcast(hot), Seq(groupCol, "par"), "left")
      .withColumn("kept", col("__hot").isNull)
    marked.groupBy(id, grp)
      .agg(count(lit(1)).as("n_seg"),
        sum(col("kept").cast("long")).as("n_kept"),
        concat_ws(sep,
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("par"))))),
            s => s.getField("par"))).as("clean_text"))
  }

  /** Filter-ablation cube — the curation diagnostic that answers
    * "which filters would drop what, jointly?" before anything is
    * actually dropped: each candidate filter becomes a boolean signal
    * column, and one CUBE aggregate yields the doc count of every
    * signal combination at every marginalization level (null = "any").
    * Reading the output: the all-true cell is the corpus that survives
    * every filter; a signal's false-marginal row is its standalone
    * kill count; pairwise cells expose overlap (two filters killing
    * the same docs are redundant).
    *
    * Scale shape: ONE pass — the signals are narrow projections and
    * the cube is a single hash aggregate with map-side combine over
    * 2^k grouping sets (k = #filters, small by design: this is a
    * human-read report). */
  def filterAblation(df: DataFrame,
      signals: Seq[(String, Column)]): DataFrame = {
    require(signals.nonEmpty && signals.size <= 6,
      s"1..6 signals (2^k grouping sets), got ${signals.size}")
    val projected = df.select(signals.map { case (n, c) => c.as(n) }: _*)
    projected.cube(signals.map(s => col(s._1)): _*)
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Sentence segmentation — the grain SFT/eval-decontamination and
    * sentence-level dedup work at: boundaries are terminal-punctuation
    * runs ([.!?]+) followed by whitespace. RE2 (the oracle dialect)
    * has no lookahead, so the split is a two-step both engines share:
    * replace each `([.!?]+)\s+` boundary with the group plus a 
    * sentinel (Spark `$1`, DuckDB `\1` — dialect spellings of the same
    * reference), then split on the sentinel. Returns one row per
    * non-blank trimmed sentence: (idCol, sent_idx 0-based, sentence,
    * n_tokens). A pure narrow explode — no shuffle; feed the output to
    * [[segmentDedup]]-style machinery (or [[decontaminate]]) for
    * sentence-level passes.
    *
    * Known-and-shared limitation: abbreviation periods ("Dr. Smith")
    * split like sentence ends — the rule is deterministic and
    * identical in both engines, which is what the gate needs; a
    * lookahead-free abbreviation list would be the upgrade. */
  /** Abbreviation inventory for [[sentenceSplit]]'s protected mode:
    * titles, latinisms and reference words whose trailing period is
    * (almost) never a sentence end. Stored WITHOUT the final period;
    * interior periods ("e.g") are escaped when the alternation is
    * built, so the same literal list interpolates into the RE2 mirror.
    * Case-sensitive on purpose — "No." the numbering abbreviation is
    * capitalized; a lowercase "no." ending a sentence must still
    * split. */
  val DefaultAbbreviations: Seq[String] = Seq(
    "Dr", "Mr", "Mrs", "Ms", "Prof", "Sr", "Jr", "St", "No", "Fig",
    "Eq", "vs", "etc", "al", "e.g", "i.e", "cf", "approx", "Inc", "Ltd")

  def sentenceSplit(df: DataFrame, idCol: String, textCol: String,
      abbreviations: Seq[String] = Nil): DataFrame = {
    val base = coalesce(col(textCol), lit(""))
    // Protected mode: rewrite "<abbrev>.<spaces>" to "<abbrev>.\u0002"
    // BEFORE boundary marking, so the boundary regex never sees
    // whitespace after an abbreviation period; the sentinel restores to
    // ONE space per sentence after the split (a run of spaces after an
    // abbreviation normalizes — deterministic and mirrored identically).
    // Lookahead-free, so the same expression runs under RE2.
    val guarded =
      if (abbreviations.isEmpty) base
      else {
        val alt = abbreviations.map(_.replace(".", "\\.")).mkString("|")
        regexp_replace(base, s"\\b($alt)\\.\\s+", "$1.\u0002")
      }
    val marked = regexp_replace(guarded, "([.!?]+)\\s+", "$1\u0001")
    // trim + drop blanks INSIDE the row, so posexplode's position IS
    // the dense 0-based sentence index — no reindex window, no shuffle
    val sents = filter(
      transform(split(marked, "\u0001"),
        s => trim(replace(s, lit("\u0002"), lit(" ")))),
      s => s =!= "")
    df.select(col(idCol), posexplode(sents).as(Seq("sent_idx", "sentence")))
      .select(col(idCol), col("sent_idx").cast("int").as("sent_idx"),
        col("sentence"),
        size(tokens(col("sentence"))).cast("long").as("n_tokens"))
  }

  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    // The per-doc segment total rides through the explode as a narrow
    // array expression instead of a third corpus scan + aggregate + join
    // (the plan audit showed exactly that extra pass in the first cut).
    val segs = fanOut(df)
      .select(col(idCol),
        split(col(textCol), java.util.regex.Pattern.quote(sep)).as("__arr"))
      .select(col(idCol),
        size(filter(col("__arr"), s => trim(s) =!= "")).cast("long").as("n_seg"),
        posexplode(col("__arr")).as(Seq("pos", "seg")))
      .filter(trim(col("seg")) =!= "")
    val firsts = segs
      .groupBy("seg")
      .agg(min(struct(col(idCol).as("i"), col("pos").as("p"))).as("f"))
      .select(col("seg"), col("f.i").as(idCol), col("f.p").as("pos"))
    val kept = segs.join(firsts, Seq("seg", idCol, "pos"), "left_semi")
    kept.groupBy(idCol)
      .agg(
        concat_ws(sep,
          expr("transform(array_sort(collect_list(struct(pos, seg))), e -> e.seg)"))
          .as("clean_text"),
        max(col("n_seg")).as("n_seg"),
        count(lit(1)).as("n_kept"))
      .select(col(idCol), col("clean_text"), col("n_seg"), col("n_kept"))
  }

  /** C4-style line filtering (Raffel et al. 2020, section 2.2): drop
    * individual lines that are too short (fewer than `minWords`
    * whitespace-separated words), carry a banned substring
    * (case-insensitive), or — when `requireTerminal` — do not end in
    * terminal punctuation; then drop documents with fewer than
    * `minKeptLines` surviving lines. Survivors are re-joined by `sep`
    * in original order. Returns (idCol, clean_text, n_lines, n_kept).
    *
    * Scale shape: entirely array-lambda projections — no explode, no
    * shuffle, no UDF; a pure narrow map over the corpus, the cheapest
    * plan any per-line rule can have. The line array is materialized
    * into a column before the lambda reads it (see the header note on
    * HOF re-evaluation). */
  def lineFilter(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minWords: Int = 5,
      banned: Seq[String] = Seq("javascript", "lorem ipsum", "{"),
      requireTerminal: Boolean = false, minKeptLines: Int = 1): DataFrame = {
    def keep(l: Column): Column = {
      // explicit class, not \s: Java \s and the oracle's RE2 \s
      // disagree on U+000B (see gopherRules)
      val enough = size(split(trim(l), "[ \\t\\n\\x0B\\f\\r]+")) >= minWords
      val clean = banned
        .map(b => !contains(lower(l), lit(b.toLowerCase)))
        .foldLeft(lit(true))(_ && _)
      val terminal =
        if (requireTerminal) rtrim(l).rlike("[.!?\"']$") else lit(true)
      enough && clean && terminal
    }
    df.select(col(idCol),
        split(col(textCol), java.util.regex.Pattern.quote(sep)).as("__lines"))
      .withColumn("__kept", filter(col("__lines"), keep _))
      .filter(size(col("__kept")) >= minKeptLines)
      .select(col(idCol),
        concat_ws(sep, col("__kept")).as("clean_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** Per-document top-k terms by tf-idf — the standard corpus keyword /
    * topic signal over [[tokens]]. idf = ln(N/df) is rounded to 6
    * decimals BEFORE the tf multiply (and the product rounded again) so
    * an external oracle whose libm differs from the JVM's in the last
    * ulp still agrees bit-for-bit after the round. Ties break on the
    * term text. Documents with no tokens produce no rows.
    *
    * Scale shape: one explode + (doc, term) hash agg for tf; a
    * vocabulary-sized (term) agg for df joined term-keyed (AQE
    * broadcasts real vocabularies); the corpus size N arrives via a
    * broadcast one-row cross join, NOT a driver action, so the whole
    * operator stays one lazy plan; the final per-doc top-k is a bounded
    * window over at most |vocab| rows per document. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tf = fanOut(df)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"),
        round(col("tf") * round(log(col("__n") / col("df")), 6), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("tfidf"), col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Test-set decontamination: documents sharing at least `minOverlap`
    * distinct n-word shingles with a benchmark set, with the overlap
    * count — the standard eval-leakage scrub before training. Returns
    * (idCol, n_overlap); drop the flagged ids with a left_anti join.
    *
    * Scale shape: the benchmark shingle set is tiny next to the corpus
    * (eval suites are fixed-size), so the overlap join broadcasts it
    * under AQE and the corpus side streams through one explode +
    * partial-agg distinct + hash agg — no corpus-vs-corpus shuffle.
    * 13-word shingles are the conventional decontamination gram; the
    * default follows that, callers pick the policy. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleWords: Int = 13, minOverlap: Long = 1): DataFrame = {
    val bs = explodedShingles(bench, idCol, textCol, shingleWords)
      .select(col("sh")).distinct()
    explodedShingles(corpus, idCol, textCol, shingleWords).distinct()
      .join(bs, "sh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Word-list document gate — the C4-style "bad words" filter: per
    * document, the fraction of its alphanumeric tokens found in
    * `words`; documents above `maxFrac` are dropped. Returns the kept
    * rows plus (n_listed, listed_frac) so downstream stages can audit
    * the gate instead of trusting it. Token-less documents carry a
    * null fraction and are KEPT (the gate measures list density, not
    * emptiness — emptiness is the length gate's job).
    *
    * Narrow projection: the list ships as an array literal (word
    * lists are hundreds of entries; model-sized), membership is one
    * codegen'd array_contains filter over the already-materialized
    * token array — no shuffle, no join. */
  def wordlistFilter(df: DataFrame, idCol: String, textCol: String,
      words: Seq[String], maxFrac: Double = 0.0): DataFrame = {
    require(words.nonEmpty, "the word list is empty")
    require(maxFrac >= 0 && maxFrac < 1, s"maxFrac in [0,1): $maxFrac")
    val arr = array(words.map(w => lit(w.toLowerCase)): _*)
    val w = tokens(col(textCol))
    val n = size(w)
    val hits = size(filter(w, x => array_contains(arr, x)))
    val frac = round(when(n === 0, lit(null))
      .otherwise(hits.cast("double") / n), 6)
    df.withColumn("n_listed", hits.cast("long"))
      .withColumn("listed_frac", frac)
      .filter(col("listed_frac").isNull || col("listed_frac") <= maxFrac)
  }

  /** Occurrence-count regexes for [[encodingQuality]], shared verbatim
    * with the SQL mirror (Java-regex/RE2-identical constructs only). */
  val ReplacementCharPattern = "\\x{FFFD}"
  val ControlCharPattern =
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]"
  val MojibakePattern = "\u00c3.|\u00c2.|\u00e2\u20ac."

  /** Encoding-hygiene score — the mojibake/binary-junk detector a
    * crawl pipeline runs right after text extraction: per document,
    * counts of U+FFFD replacement characters (a decoder already gave
    * up), C0/C1 control characters (tab/newline/CR excluded), and the
    * classic UTF-8-read-as-Latin-1 double-encoding markers ("Ã", "Â",
    * "â€" prefixes), plus the total character count and a `clean`
    * verdict (zero of all three). Narrow one-pass projection —
    * codegen'd regexp counts, no shuffle. */
  def encodingQuality(df: DataFrame, idCol: String, textCol: String,
      maxBad: Long = 0): DataFrame = {
    def cnt(pat: String) =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
    val repl = cnt(ReplacementCharPattern)
    val ctrl = cnt(ControlCharPattern)
    val moji = cnt(MojibakePattern)
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      repl.cast("long").as("n_replacement"),
      ctrl.cast("long").as("n_control"),
      moji.cast("long").as("n_mojibake"),
      ((repl + ctrl + moji) <= maxBad).as("clean"))
  }


  /** Benchmark-side contamination report — [[decontaminate]] seen from
    * the EVAL set's point of view ("which benchmark items leak?"
    * rather than "which corpus docs to drop"): for each benchmark
    * document, the number of distinct corpus documents sharing at
    * least one `shingleWords`-gram with it and the number of its
    * distinct grams that appear anywhere in the corpus. The
    * eval-integrity signal a team reads BEFORE trusting a score —
    * a benchmark item contaminated by hundreds of corpus docs is
    * memorized, not solved.
    *
    * Scale shape: identical to [[decontaminate]] — one distinct-
    * shingle aggregate per side, one shingle-keyed join bounded by the
    * benchmark's gram count, then a bench-id-keyed aggregate. */
  def benchContaminationReport(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleWords: Int = 13): DataFrame = {
    val bs = explodedShingles(bench, idCol, textCol, shingleWords).distinct()
      .select(col(idCol).as("bench_id"), col("sh"))
    val cs = explodedShingles(corpus, idCol, textCol, shingleWords).distinct()
    bs.join(cs, "sh")
      .groupBy("bench_id")
      .agg(countDistinct(col(idCol)).as("n_contaminating_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
  }

  /** Bloom-filter decontamination — the compact-filter variant of
    * [[decontaminate]]: each distinct benchmark shingle sets `kHashes`
    * md5-derived positions in an `mBits`-wide filter, and a corpus
    * shingle is flagged iff ALL its k probe positions are set. Standard
    * Bloom semantics: no false negatives (every exact overlap is
    * flagged — the safe direction for an eval-leakage scrub), false
    * positives at the usual (1-e^{-kn/m})^k rate. Returns flagged
    * (idCol, n_hit) where n_hit counts the doc's hitting shingles.
    *
    * Why this exists next to the exact join: the exact filter side
    * grows with the benchmark's distinct-shingle count, while the
    * position set SATURATES AT `mBits` rows no matter how large the
    * benchmark gets — decontaminating against "everything we already
    * trained on" (billions of shingles) ships a fixed-size filter. The
    * position derivation is pure md5 arithmetic ([[md5Hash60]] mod
    * mBits), so an external SQL engine reproduces the filter — false
    * positives included — bit-for-bit. */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleWords: Int = 13, mBits: Long = 1L << 20,
      kHashes: Int = 4, minOverlap: Long = 1): DataFrame = {
    require(kHashes > 0 && mBits > 0, "kHashes and mBits must be positive")
    // plain array explode: duplicate positions within a shingle stay
    // distinct rows (one per probe), exactly like the SQL mirror's
    // (j, sh) cross join
    def positions = array((0 until kHashes).map(j =>
      pmod(md5Hash60(concat(lit(s"$j:"), col("sh"))), lit(mBits))): _*)
    val bpos = explodedShingles(bench, idCol, textCol, shingleWords)
      .select(col("sh")).distinct()
      .select(explode(positions).as("pos")).distinct()
    val probes = explodedShingles(corpus, idCol, textCol, shingleWords).distinct()
      .select(col(idCol), col("sh"), explode(positions).as("pos"))
    probes.join(bpos, "pos")
      .groupBy(col(idCol), col("sh")).agg(count(lit(1)).as("__np"))
      .filter(col("__np") === kHashes)
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") >= minOverlap)
  }

  /** Token-window document chunking — the RAG / context-window prep
    * step: split each document into windows of `chunkTokens` tokens
    * with `overlap` tokens shared between consecutive chunks
    * (stride = chunkTokens - overlap). One row per chunk:
    * (idCol, chunk_id, n_tok, chunk_text); chunk starts are 0, stride,
    * 2*stride, … up to the last start < n_tokens, so the final chunk
    * may be short. Empty documents produce no chunks.
    *
    * Scale shape: tokenize once (codegen'd [[Tokens]] kernel), explode
    * a computed chunk-index sequence, slice the materialized token
    * array — a pure narrow map stage with NO shuffle; output
    * partitioning inherits the input's, ready for the downstream
    * embed/write step. The token array is projected into a column
    * before the explode so the per-chunk `slice` reads a plain
    * attribute instead of re-tokenizing per chunk. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val start = (col("chunk_id") * stride + 1).cast("int")
    fanOut(df).select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L),
          floor((col("__n") - 1) / lit(stride.toDouble)).cast("long"))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        size(slice(col("__toks"), start, lit(chunkTokens))).cast("long").as("n_tok"),
        array_join(slice(col("__toks"), start, lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Deterministic exact-k stratified sample: the k smallest documents
    * per stratum by a salted md5 hash — a reproducible "pick k docs per
    * source" that is stable across runs and engines. Returns
    * (strataCol, idCol, rank) with rank in 1..k.
    *
    * Scale shape: ranking a low-cardinality stratum column with a bare
    * window would funnel each stratum through ONE task — the classic
    * skew trap. So the window only ever sees a pre-filtered sliver:
    * exact per-stratum counts (a tiny hash agg, broadcast back) set a
    * keep-threshold p = min(1, oversample*k/count) on the SAME uniform
    * hash used for ranking, so ~oversample*k rows per stratum reach the
    * rank. Because the top-k rows are the k smallest hashes, they all
    * pass the filter whenever at least k rows do; the filter is
    * deterministic, so any engine mirroring it agrees bit-for-bit.
    * Short-fall (< k survivors) has per-stratum probability
    * exp(-Θ(oversample·k)) — raise `oversample` to taste; the result is
    * then min(k, survivors) rows for that stratum. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      k: Int, oversample: Double = 8.0): DataFrame = {
    require(k > 0 && oversample >= 1.0,
      s"need k > 0 and oversample >= 1, got k=$k oversample=$oversample")
    val denom = math.pow(2.0, 60).toLong // md5Hash60 range
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("__u"), col(idCol))
    df.select(col(strataCol), col(idCol))
      .withColumn("__u", md5Hash60(concat(lit("strat:"), col(idCol).cast("string"))))
      .join(broadcast(counts), Seq(strataCol))
      .filter(col("__u") / lit(denom.toDouble) <
        least(lit(1.0), lit(oversample * k) / col("__cnt")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("__u", "__cnt")
  }

  /** Deterministic per-source TOKEN-budget sampling — mixture building
    * when the target is a token count, not a document count (training
    * mixtures are specified in tokens): documents are taken in
    * salted-hash order while the cumulative token count BEFORE each
    * document stays under `budgetTokens`, so every non-empty source
    * keeps at least one document and overshoot is bounded by the last
    * document. Returns (sourceCol, idCol, n_tokens, cum_before).
    *
    * Scale shape: [[stratifiedSample]]'s prefilter discipline,
    * token-weighted — exact per-source token totals (one hash agg,
    * broadcast back) set a keep-threshold
    * p = min(1, oversample·budget/total) on the SAME uniform hash used
    * for ordering, so the cumulative-sum window sees ~oversample·budget
    * tokens per source instead of the whole source. The kept set is a
    * hash-order prefix of ~budget token mass; with `oversample`x slack
    * the whole prefix survives the prefilter (token-weighted analogue
    * of stratifiedSample's exp(-Θ(oversample·k)) shortfall bound). */
  def tokenBudgetSample(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budgetTokens: Long,
      oversample: Double = 8.0): DataFrame = {
    require(budgetTokens > 0 && oversample >= 1.0,
      s"need budgetTokens > 0 and oversample >= 1, got $budgetTokens/$oversample")
    val denom = math.pow(2.0, 60)
    val base = df.select(col(sourceCol), col(idCol),
      size(tokens(coalesce(col(textCol), lit("")))).cast("long").as("n_tokens"),
      md5Hash60(concat(lit("tb:"), col(idCol).cast("string"))).as("__u"))
    val totals = base.groupBy(sourceCol).agg(sum("n_tokens").as("__tot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy(col("__u"), col(idCol))
    base.join(broadcast(totals), Seq(sourceCol))
      .filter(col("__u") / lit(denom) < least(lit(1.0),
        lit(oversample) * lit(budgetTokens.toDouble) / col("__tot")))
      .withColumn("cum_before", coalesce(
        sum("n_tokens").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .filter(col("cum_before") < budgetTokens)
      .select(col(sourceCol), col(idCol), col("n_tokens"), col("cum_before"))
  }

  /** Corpus-bigram language-model score — the CCNet-style fluency
    * signal: train add-alpha-smoothed bigram counts on a reference
    * corpus, then score each target document by its mean bigram
    * cross-entropy in bits,
    * score(d) = mean over bigrams (w1,w2) of
    * -log2((c(w1 w2) + alpha) / (c(w1 ·) + alpha·V)),
    * where c(w1 ·) counts bigrams headed by w1 and V is the reference
    * vocabulary size. Lower = more fluent under the reference model.
    * Returns (idCol, n_bigrams, lm_bits); documents with < 2 tokens get
    * no row. Self-scoring (reference eq target) is the in-corpus
    * outlier detector; a clean reference scoring a crawled target is
    * the CCNet quality-filter setup.
    *
    * Scale shape: training is two hash aggs over exploded bigrams;
    * scoring is a keyed shuffle join doc-bigrams ⋈ counts — the
    * canonical fact-to-fact-on-key shape (both sides hash-partition by
    * gram; AQE splits head-word skew). V joins as a broadcast
    * single-row aggregate, like [[tfidfTopTerms]]'s N. Nothing is
    * collected to the driver. */
  def lmScore(reference: DataFrame, target: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    // barrier: both n-gram count tables read the reference shingles
    // and the scoring plan joins them against each other; unmaterialized,
    // t40's plan carried 7 raw parquet scans, re-tokenizing the
    // reference per count table.
    val refSh = explodedShingles(reference, idCol, textCol, 2)
      .barrierFirewall()
    val biCounts = refSh.groupBy(col("sh")).agg(count(lit(1)).as("__cb"))
    val headCounts = refSh
      .select(substring_index(col("sh"), " ", 1).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = fanOut(reference)
      .select(explode(tokens(col(textCol))).as("__w"))
      .agg(countDistinct(col("__w")).cast("double").as("__v"))
    explodedShingles(target, idCol, textCol, 2)
      .withColumn("__w1", substring_index(col("sh"), " ", 1))
      .join(biCounts, Seq("sh"), "left")
      .join(headCounts, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        // per-bigram rounding (like [[tfidfTopTerms]]'s per-term log
        // round) keeps cross-engine log ulp noise away from the gate;
        // scaling the 6-dp value to integer micro-bits makes the SUM
        // exact and order-independent — a double AVG of the rounded
        // values can land on a rounding boundary and flip the 6th
        // decimal depending on summation order (seen at sf0.01)
        round(round(log((coalesce(col("__cu"), lit(0L)) + lit(alpha) * col("__v")) /
            (coalesce(col("__cb"), lit(0L)) + lit(alpha))) / log(lit(2.0)), 6)
          * lit(1e6), 0).cast("long").as("__micro"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        ((sum(col("__micro")).cast("double") / count(lit(1))) / lit(1e6))
          .as("lm_bits"))
  }

  /** Cross-document repeated-span removal — substring-level dedup in
    * the Lee et al. 2022 family (the ExactSubstr setting of
    * "Deduplicating Training Data Makes Language Models Better",
    * reference `docs` has no equivalent; this is an LLM-pipeline
    * extension): every run of `spanWords` consecutive space-delimited
    * tokens that occurs in at least `minDocs` DISTINCT documents is cut
    * from every document carrying it (all overlapping hot spans, not
    * one representative — unlike [[segmentDedup]]'s keep-first rule,
    * boilerplate at this granularity is noise in every copy), and each
    * document's surviving tokens are re-joined on single spaces.
    * Returns one row per input document:
    * (idCol, clean_text, n_tokens, n_removed). Tokenization is literal
    * single-space splitting so survivors rebuild byte-identically;
    * whitespace normalization is the caller's concern.
    *
    * `hashKeys=true` (default, the 100 TB path) ships 64-bit
    * xxhash64(gram) keys through the count/join instead of the gram
    * text — at spanWords=50 that is ~25x fewer shuffle bytes; an
    * xxhash64 collision could cut an innocent span, with probability
    * ~n_grams^2 / 2^65 (~1e-8 at a trillion grams). External-oracle
    * verification uses `hashKeys=false` so both engines group on the
    * literal text; [[TextOpsSpec]] asserts both paths agree.
    *
    * Scale shape: one narrow shingle pass -> (key) hash agg with
    * two-phase distinct-doc counting (map-side partial dedup, so a
    * crawl-wide boilerplate span ships one candidate per task, the
    * same argument as [[segmentDedup]]) -> left_semi of gram rows
    * against the hot-key set (key-partitioned; AQE broadcasts when the
    * hot set is small, the common case) -> per-doc start-list
    * collect_list (bounded by that doc's own gram count) -> narrow
    * array-lambda rebuild. The rebuild's coverage test is
    * exists(starts)(s <= p < s+n) per position: O(|hot starts| *
    * |tokens|) per document, worst case O(T^2) for a document that is
    * wall-to-wall boilerplate — those are exactly the documents
    * doc-level dedup ([[minhashLsh]]/t01) removes first, and the spec
    * pins the degenerate all-hot case. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minDocs: Int = 2,
      hashKeys: Boolean = true): DataFrame = {
    require(spanWords >= 2, s"spanWords must be >= 2, got $spanWords")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = fanOut(df)
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    val grams = toks
      .select(col(idCol),
        posexplode(shingles(col("__t"), spanWords)).as(Seq("start", "gram")))
    val keyed = grams.select(col(idCol), col("start"),
      (if (hashKeys) xxhash64(col("gram")) else col("gram")).as("__k"))
    val hot = keyed.groupBy("__k")
      .agg(countDistinct(col(idCol)).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("__k")
    val hotStarts = keyed.join(hot, Seq("__k"), "left_semi")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("start"))).as("__starts"))
    toks.join(hotStarts, Seq(idCol), "left")
      .withColumn("__s",
        coalesce(col("__starts"), array().cast("array<int>")))
      // positions are zip_with-paired BEFORE the filter so the lambda
      // reads plain struct fields (header note: a captured expression
      // re-evaluates per element)
      .withColumn("__z",
        expr("zip_with(__t, sequence(0, size(__t) - 1), (tk, p) -> struct(tk, p))"))
      .withColumn("__kept",
        expr(s"filter(__z, e -> NOT exists(__s, s -> s <= e.p AND e.p < s + $spanWords))"))
      .select(col(idCol),
        concat_ws(" ", expr("transform(__kept, e -> e.tk)")).as("clean_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Maximal-run variant of [[spanDedup]] — the actual Lee et al.
    * semantics: adjacent/overlapping hot grams coalesce into ONE
    * maximal repeated span before cutting, so a 60-token boilerplate
    * block reports as a single span, not 53 overlapping 8-gram cuts.
    * The removed token set is identical to [[spanDedup]]'s (the union
    * of hot-gram coverage); what changes is the cut structure: returns
    * (idCol, clean_text, n_tokens, n_removed, n_spans, spans) where
    * `spans` lists the maximal cut intervals as "start-end" (0-based,
    * end-exclusive) joined by ";" in position order.
    *
    * The coalescing is an in-row fold over the doc's SORTED hot-start
    * list (a start s extends the current span iff s <= its end, else
    * opens a new one) — no shuffle beyond [[spanDedup]]'s own, and the
    * rebuild's coverage test probes the MERGED spans instead of every
    * hot start: for wall-to-wall boilerplate that collapses the
    * O(|starts| * |tokens|) worst case to O(|tokens|). */
  def spanDedupMaximal(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minDocs: Int = 2,
      hashKeys: Boolean = true): DataFrame = {
    require(spanWords >= 2, s"spanWords must be >= 2, got $spanWords")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = fanOut(df)
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    val grams = toks
      .select(col(idCol),
        posexplode(shingles(col("__t"), spanWords)).as(Seq("start", "gram")))
    val keyed = grams.select(col(idCol), col("start"),
      (if (hashKeys) xxhash64(col("gram")) else col("gram")).as("__k"))
    val hot = keyed.groupBy("__k")
      .agg(countDistinct(col(idCol)).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("__k")
    val hotStarts = keyed.join(hot, Seq("__k"), "left_semi")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("start"))).as("__starts"))
    cutMaximalSpans(toks, hotStarts, idCol, spanWords)
  }

  /** SURGICAL decontamination — [[decontaminate]]/[[bloomDecontaminate]]
    * drop whole documents; this cuts only the CONTAMINATED SPANS (the
    * maximal runs of `spanWords`-grams that appear verbatim in the
    * benchmark set) and keeps the rest of the document — the option a
    * token-starved domain wants, where discarding a 5k-token document
    * over one quoted benchmark question is waste. Same cut structure
    * as [[spanDedupMaximal]]: overlapping hot grams coalesce in-row
    * into maximal [start, end) intervals. Returns one row per corpus
    * document: (idCol, clean_text, n_tokens, n_removed, n_spans,
    * spans).
    *
    * `hashKeys=true` ships 64-bit keys (the 100 TB path,
    * [[spanDedup]]'s two-path discipline; `false` keeps literal grams
    * so an external oracle can mirror).
    *
    * Scale shape: the benchmark side reduces to DISTINCT gram keys
    * (benchmark-sized — small by nature, AQE broadcasts the semi-join
    * build side), the corpus side is one narrow shingle pass +
    * per-doc start collect; nothing corpus-wide ever pairs with
    * anything corpus-wide. */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, spanWords: Int = 13,
      hashKeys: Boolean = true): DataFrame = {
    require(spanWords >= 2, s"spanWords must be >= 2, got $spanWords")
    val toks = fanOut(corpus)
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    val grams = toks
      .select(col(idCol),
        posexplode(shingles(col("__t"), spanWords)).as(Seq("start", "gram")))
    val keyed = grams.select(col(idCol), col("start"),
      (if (hashKeys) xxhash64(col("gram")) else col("gram")).as("__k"))
    val benchKeys = fanOut(bench)
      .select(explode(shingles(split(col(textCol), " "), spanWords))
        .as("gram"))
      .select((if (hashKeys) xxhash64(col("gram")) else col("gram")).as("__k"))
      .distinct()
    val hotStarts = keyed.join(benchKeys, Seq("__k"), "left_semi")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("start"))).as("__starts"))
    cutMaximalSpans(toks, hotStarts, idCol, spanWords)
  }

  /** Shared tail of [[spanDedupMaximal]] and [[decontaminateSpans]]:
    * coalesce each doc's sorted hot starts into maximal spans (in-row
    * fold), cut the covered positions, rebuild the survivors. */
  private def cutMaximalSpans(toks: DataFrame, hotStarts: DataFrame,
      idCol: String, spanWords: Int): DataFrame = {
    toks.join(hotStarts, Seq(idCol), "left")
      .withColumn("__s",
        coalesce(col("__starts"), array().cast("array<int>")))
      // gaps-and-islands fold: CASE arms evaluate lazily, so the
      // element_at(acc, -1) probes only run once acc is non-empty
      .withColumn("__spans", expr(
        s"""aggregate(__s,
             cast(array() as array<struct<st:int,en:int>>),
             (acc, s) -> CASE
               WHEN size(acc) = 0
                 THEN array(named_struct('st', s, 'en', s + $spanWords))
               WHEN s > element_at(acc, -1).en
                 THEN concat(acc,
                   array(named_struct('st', s, 'en', s + $spanWords)))
               ELSE concat(slice(acc, 1, size(acc) - 1),
                 array(named_struct('st', element_at(acc, -1).st,
                   'en', s + $spanWords)))
             END)"""))
      .withColumn("__z",
        expr("zip_with(__t, sequence(0, size(__t) - 1), (tk, p) -> struct(tk, p))"))
      .withColumn("__kept",
        expr("filter(__z, e -> NOT exists(__spans, sp -> sp.st <= e.p AND e.p < sp.en))"))
      .select(col(idCol),
        concat_ws(" ", expr("transform(__kept, e -> e.tk)")).as("clean_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"),
        size(col("__spans")).cast("long").as("n_spans"),
        concat_ws(";", expr(
          "transform(__spans, sp -> concat(cast(sp.st as string), '-', cast(sp.en as string)))"))
          .as("spans"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hashed-bigram
    * bucket counts model a target domain and the raw pool; each raw
    * document scores its summed per-bigram log-likelihood ratio
    * ln(p_target(bucket)/p_raw(bucket)) (add-1 smoothed), plus a
    * deterministic md5-seeded Gumbel perturbation (the paper's
    * Gumbel-top-k resampling, made reproducible); the k highest scores
    * win. Returns k rows (idCol, n_grams, weight, score) sorted by
    * score descending, id ascending. Documents with < 2 tokens never
    * score (no bigrams). Per-bucket and per-doc log terms are rounded
    * to 6 dp and summed as integer micro-nats, so the aggregate is
    * summation-order-independent ([[lmScore]]'s discipline).
    *
    * Scale shape: each corpus is shingled exactly once — the target
    * into a <=buckets-row count table, the raw pool into a
    * per-(doc, bucket) count table (a firewall barrier, so its two
    * consumers share the single explode pass); the model totals are
    * sums over those tables, never a re-scan. The scorer joins the
    * per-(doc, bucket) counts to the KB-sized model broadcast-style
    * (buckets defaults to 256 rows — always under the broadcast
    * threshold), one per-doc hash agg, then a TakeOrdered top-k: only
    * k rows reach the driver. No vocabulary-sized state anywhere —
    * that is the point of DSIR's hashing trick, and what makes this
    * runnable against a 100 TB raw pool with a laptop-sized target. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256, k: Int = 100): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(k > 0, s"k must be positive, got $k")
    val denom = math.pow(2.0, 60) // md5Hash60 range
    def bucketed(df: DataFrame): DataFrame =
      explodedShingles(df, idCol, textCol, 2)
        .select(col(idCol),
          pmod(md5Hash60(concat(lit("dsir:"), col("sh"))), lit(buckets.toLong))
            .as("__b"))
    // Each corpus is shingled exactly ONCE: the target collapses to a
    // <=buckets-row count table, the raw pool to a per-(doc, bucket)
    // count table, and every total below is a sum over those tables
    // rather than a second (or third) explode+hash pass over the
    // corpus. A firewall barrier pins each single pass because both
    // frames feed two branches (model + totals, model + scorer).
    // coalesce(sum, 0): sum() over an EMPTY count table is NULL, which
    // would null every downstream weight — an empty target/raw frame
    // must degrade to the defined smoothed log-ratios the old
    // count-based totals gave, not to all-NULL scores.
    val tgt = bucketed(target).groupBy("__b")
      .agg(count(lit(1)).as("__ct")).barrierFirewall()
    val tgtTot = tgt.agg(coalesce(sum("__ct"), lit(0L)).as("__tt"))
    val rawDoc = bucketed(raw).groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c")).barrierFirewall()
    val rawCnt = rawDoc.groupBy("__b").agg(sum("__c").as("__cr"))
    val rawTot = rawCnt.agg(coalesce(sum("__cr"), lit(0L)).as("__rt"))
    val model = rawCnt.join(tgt, Seq("__b"), "full")
      .crossJoin(broadcast(tgtTot)).crossJoin(broadcast(rawTot))
      .select(col("__b"),
        round(round(log(
            ((coalesce(col("__ct"), lit(0L)) + lit(1L)).cast("double") /
              (col("__tt") + lit(buckets.toLong))) /
            ((coalesce(col("__cr"), lit(0L)) + lit(1L)).cast("double") /
              (col("__rt") + lit(buckets.toLong)))), 6)
          * lit(1e6), 0).cast("long").as("__lr"))
    val weights = rawDoc.join(broadcast(model), Seq("__b"))
      .groupBy(idCol)
      .agg(sum("__c").as("n_grams"), sum(col("__lr") * col("__c")).as("__w"))
    val gumbel = round(round(
        -log(-log((md5Hash60(concat(lit("dsirg:"), col(idCol).cast("string")))
          .cast("double") + lit(0.5)) / lit(denom))), 6) * lit(1e6), 0)
      .cast("long")
    weights
      .select(col(idCol), col("n_grams"),
        (col("__w").cast("double") / lit(1e6)).as("weight"),
        ((col("__w") + gumbel).cast("double") / lit(1e6)).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Gopher document-quality rules (Rae et al. 2021 "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1.1 — the MassiveText heuristic filter; reference has no
    * equivalent, this is an LLM-pipeline extension): per-document word
    * count, mean word length, symbol-to-word ratio (`#` and `...`),
    * bullet-start and ellipsis-end line fractions, alphabetic-word
    * fraction, and distinct-stopword count, each compared against the
    * paper's published thresholds into one `pass` verdict. Words are
    * whitespace runs; lines are `\n` splits; the stopword test uses the
    * paper's list (the, be, to, of, and, that, have, with) against
    * lowercased alphanumeric tokens. All fractions are 6-dp rounded
    * BEFORE the threshold compare so the booleans are reproducible on
    * any IEEE engine.
    *
    * Scale shape: a single narrow projection — tokenize/split/lambda
    * arithmetic per row, NO shuffle, no aggregation, output
    * partitioning inherits the input's. The cheapest filter in the
    * curation stack and the one to run first at 100 TB (before any
    * dedup shuffle pays for documents this would have dropped). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // explicit whitespace class, NOT \s: Java regex \s and RE2 \s (the
    // DuckDB oracle's engine) disagree on vertical tab U+000B, so the
    // class pins identical word-split semantics in both engines
    val words = filter(split(col(textCol), "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= "")
    val lines = filter(transform(split(col(textCol), "\n"), x => trim(x)),
      x => x =!= "")
    val nWords = size(col("__w"))
    val nLines = size(col("__l"))
    val meanLen = when(nWords === 0, lit(null)).otherwise(round(
      aggregate(transform(col("__w"), x => length(x).cast("long")),
        lit(0L), (a, x) => a + x).cast("double") / nWords, 6))
    // '#' occurrences + non-overlapping '...' occurrences, per the
    // paper's "symbol" definition
    val nSymbols =
      (length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))) +
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / lit(3)
    val symbolRatio = when(nWords === 0, lit(null))
      .otherwise(round(nSymbols.cast("double") / nWords, 6))
    val bulletFrac = when(nLines === 0, lit(null)).otherwise(round(
      size(filter(col("__l"), x =>
        x.startsWith("-") || x.startsWith("*") || x.startsWith("•")))
        .cast("double") / nLines, 6))
    val ellipsisFrac = when(nLines === 0, lit(null)).otherwise(round(
      size(filter(col("__l"), x =>
        x.endsWith("...") || x.endsWith("…"))).cast("double") / nLines, 6))
    val alphaFrac = when(nWords === 0, lit(null)).otherwise(round(
      size(filter(col("__w"), x => x.rlike("[a-zA-Z]"))).cast("double") /
        nWords, 6))
    val stopArr = array(gopherStops.map(lit): _*)
    // tokens materialized as __t once — the filter lambda re-evaluates
    // its body per element, so an inline tokens() would tokenize 8x
    val stopHits = size(filter(stopArr, s => array_contains(col("__t"), s)))
    df.select(col(idCol), col(textCol), words.as("__w"), lines.as("__l"),
        tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        nWords.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"),
        stopHits.cast("long").as("stop_hits"))
      .withColumn("pass",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        (col("symbol_ratio") <= maxSymbolRatio) &&
        coalesce(col("bullet_frac") <= maxBulletFrac, lit(true)) &&
        coalesce(col("ellipsis_frac") <= maxEllipsisFrac, lit(true)) &&
        (col("alpha_frac") >= minAlphaFrac) &&
        (col("stop_hits") >= minStopHits))
  }

  /** Fractional n-gram overlap against a benchmark set — the GPT-3-
    * style contamination SCORE next to [[decontaminate]]'s binary hit
    * count (Brown et al. 2020 measured leakage as the fraction of a
    * document's 13-grams seen in evals; a threshold on the fraction
    * tolerates incidental short-phrase collisions that a single-hit
    * rule would flag). One row per corpus document with at least one
    * gram: (idCol, n_grams, n_overlap, overlap_frac, contaminated),
    * where n_grams counts DISTINCT grams, overlap_frac is 6-dp rounded,
    * and contaminated = overlap_frac >= minFrac.
    *
    * Scale shape: identical to [[decontaminate]] — the benchmark gram
    * set is eval-suite-sized, so AQE broadcasts it; the corpus side is
    * one explode + partial-agg distinct + two hash aggs keyed by doc,
    * no corpus-vs-corpus shuffle. The extra cost over decontaminate is
    * one more per-doc count, not a new shuffle. */
  def overlapContamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleWords: Int = 8,
      minFrac: Double = 0.2): DataFrame = {
    val bs = explodedShingles(bench, idCol, textCol, shingleWords)
      .select(col("sh")).distinct()
    val grams = explodedShingles(corpus, idCol, textCol, shingleWords)
      .distinct()
    val totals = grams.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(bs, "sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        round(col("n_overlap").cast("double") / col("n_grams"), 6))
      .withColumn("contaminated", col("overlap_frac") >= minFrac)
  }

  /** BM25 retrieval ranking (Robertson & Walker's Okapi BM25, the
    * k1/b form in Robertson & Zaragoza 2009 "The Probabilistic
    * Relevance Framework"): scores every corpus document against every
    * query and keeps each query's top `k`. Query terms are the query
    * text's DISTINCT lowercase-alphanumeric tokens; per-term
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the non-negative Lucene
    * variant) and tf saturation tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).
    * Each (query, doc, term) contribution is 6-dp rounded and summed
    * as integer micro-units ([[lmScore]]'s discipline), so the
    * per-pair score is summation-order-independent; ties break on
    * ascending doc id. Returns (queryIdCol, idCol, n_terms, score,
    * rank) with rank 1..k per query.
    *
    * Scale shape: doc tf and df are the [[tfidfTopTerms]] aggregates
    * (map-side combine, term-keyed); N and avgdl are single-row
    * broadcasts; the query-term frame is queries-sized so its term
    * join broadcasts under AQE, and the only wide op touching corpus
    * scale is the per-(query, doc) hash agg. The final top-k window
    * partitions by query over that query's CANDIDATE docs (those
    * sharing a term); `maxDfRatio` is the stopword guard for that
    * window: a query term present in more than that fraction of the
    * corpus is dropped BEFORE the tf join, so a stopword-laden query's
    * candidate set is bounded by its rare terms' postings instead of
    * degenerating to the whole corpus. The prune happens on the
    * queries-sized frame (qterms x df is broadcast-scale), so it costs
    * nothing at corpus scale; 1.0 keeps every term (df <= N always).
    * Pruned terms contribute neither score nor n_terms — the classic
    * stopping trade: ranking within the candidates is unchanged
    * because a term shared by every candidate adds a near-constant
    * (idf ~ ln(1 + ~0.5/df) ~ 0) contribution anyway. */
  def bm25Rank(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, queryIdCol: String, queryTextCol: String,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      maxDfRatio: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfRatio > 0 && maxDfRatio <= 1.0,
      s"maxDfRatio must be in (0, 1], got $maxDfRatio")
    // barrier: dl, dfreq AND the contrib join all read the term
    // frequencies and join each other in the scoring plan; unmaterialized,
    // t49's plan carried 9 raw parquet scans, re-tokenizing the corpus
    // per leg.
    val tf = fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .barrierFirewall()
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(broadcast(dl.agg(avg(col("dl")).as("__avgdl"))))
    val qterms = fanOut(queries)
      .select(col(queryIdCol), explode(tokens(col(queryTextCol))).as("term"))
      .distinct()
    // df and N land on the queries-sized frame first so the stopword
    // prune runs before anything corpus-sized is joined.
    val qpruned = qterms
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .filter(col("df").cast("double") <= col("__n") * lit(maxDfRatio))
    val contrib = qpruned
      .join(tf, "term")
      .join(dl, idCol)
      .select(col(queryIdCol), col(idCol),
        round(round(
            log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
            (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * col("dl") / col("__avgdl"))), 6)
          * lit(1e6), 0).cast("long").as("__micro"))
    val scored = contrib
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        (sum(col("__micro")).cast("double") / lit(1e6)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryIdCol).orderBy(desc("score"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Feature-hashed text embeddings (Weinberger et al. 2009's hashing
    * trick over n-word shingles): each shingle lands in bucket
    * md5-hash mod `dim` with a +-1 sign from an independently salted
    * hash, per-bucket signed counts form the raw vector, and the
    * output is L2-normalized into integer micro-units
    * ([[graft.sim.Similarity.truncateEmbeddings]]'s encoding, so the
    * result is exactly comparable across engines). The in-engine
    * text -> vector path that lets the whole similarity stack (cosine
    * top-k, IVF, PQ, SemDeDup, outlier flags) run on raw text with no
    * external encoder — a deterministic, model-free baseline
    * embedding. Returns (idCol, emb array<long> micro-units, norm);
    * documents with no shingle emit no row.
    *
    * Scale shape: one shingle explode -> (id, bucket) hash aggregate
    * (map-side combine) -> per-id dense-assembly aggregate (dim
    * entries max per doc) -> narrow normalize. No corpus-width
    * shuffle beyond the two keyed aggs; dim is a constant. */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, shingleWords: Int = 2): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val bucket = pmod(md5Hash60(concat(lit("he:"), col("sh"))), lit(dim.toLong))
    val sign = pmod(md5Hash60(concat(lit("hs:"), col("sh"))), lit(2L))
      .cast("long") * 2L - 1L
    val sums = explodedShingles(df, idCol, textCol, shingleWords)
      .select(col(idCol), bucket.as("__b"), sign.as("__s"))
      .groupBy(col(idCol), col("__b")).agg(sum("__s").as("__v"))
    val raw = sums.groupBy(idCol)
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__v"))))
        .as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0L), lit(dim.toLong - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0L))).as("__raw"))
    val norm = round(
      sqrt(aggregate(col("__raw"), lit(0L), (a, x) => a + x * x)
        .cast("double")), 6)
    raw.select(col(idCol),
        col("__raw"), norm.as("norm"))
      .filter(col("norm") > 0)
      .select(col(idCol),
        transform(col("__raw"),
          x => round(x.cast("double") / col("norm") * lit(1e6), 0)
            .cast("long")).as("emb"),
        col("norm"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    * target document against a reference bigram LM ([[lmScore]]) and
    * split each source's documents into head/middle/tail quality
    * buckets by per-source percentile cutoffs of the LM bits (lower
    * bits = closer to the reference = "head"). Returns (idCol,
    * sourceCol, n_bigrams, lm_bits, bucket); documents with no bigram
    * have no LM score and emit no row ([[lmScore]]'s contract).
    *
    * Cutoff fractions default to the QUARTILES (0.25/0.75) rather
    * than CCNet's thirds: quartile rank indices are exact binary
    * fractions, so the interpolated cutoffs over integer micro-bits
    * are bit-identical across engines — 1/3 is not representable and
    * would park cross-engine ulp noise exactly on the bucket
    * comparison boundary.
    *
    * Scale shape: [[lmScore]]'s hash aggregates, one id-keyed join to
    * recover the source column, a |sources|-row exact-percentile
    * aggregate broadcast back, and a narrow bucket compare. The exact
    * percentile is the only addition beyond lmScore itself; swap
    * approx_percentile in when per-source cardinality is huge and the
    * cutoff tolerance allows. */
  def perplexityBuckets(reference: DataFrame, target: DataFrame,
      idCol: String, textCol: String, sourceCol: String, alpha: Double = 0.1,
      loFrac: Double = 0.25, hiFrac: Double = 0.75): DataFrame = {
    require(loFrac > 0 && hiFrac < 1 && loFrac <= hiFrac,
      s"need 0 < loFrac <= hiFrac < 1, got $loFrac/$hiFrac")
    val scores = lmScore(reference, target, idCol, textCol, alpha)
      .select(col(idCol), col("n_bigrams"),
        round(col("lm_bits") * lit(1e6), 0).cast("long").as("__micro"))
    // barrier: the final plan joins the percentile cuts BACK against
    // the scored frame they derive from; unmaterialized, t68's plan
    // carried 14 raw parquet scans, re-running the whole lmScore chain
    // per leg.
    val withSrc = scores.join(
      target.select(col(idCol), col(sourceCol)), Seq(idCol))
      .barrierFirewall()
    val cuts = withSrc.groupBy(sourceCol)
      .agg(percentile(col("__micro"), lit(loFrac)).as("__lo"),
        percentile(col("__micro"), lit(hiFrac)).as("__hi"))
    withSrc.join(broadcast(cuts), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("n_bigrams"),
        (col("__micro").cast("double") / lit(1e6)).as("lm_bits"),
        when(col("__micro") <= col("__lo"), lit("head"))
          .when(col("__micro") > col("__hi"), lit("tail"))
          .otherwise(lit("middle")).as("bucket"))
  }

  /** Paragraph-level exact dedup across the corpus — the RefinedWeb
    * hygiene pass (Penedo et al. 2023) between document-exact and
    * near-dup dedup: split each document on `sep`, keep only the FIRST
    * corpus-wide occurrence of each distinct (trimmed, non-empty)
    * paragraph — first = smallest (doc id, position) — and reassemble
    * every document from its surviving paragraphs. Emits one row per
    * document that had at least one paragraph: id, `n_paragraphs`,
    * `n_kept`, and the reassembled `text_dedup` ("" when every
    * paragraph of the doc occurred earlier elsewhere).
    *
    * Scale shape: posexplode -> ONE corpus-wide hash aggregate keyed
    * by the paragraph (`min(struct(id, pos))` is the entire reduction,
    * map-side combine applies) -> hash join back -> per-doc reassembly
    * aggregate. No window over the corpus, no driver state. With
    * `hashKeys = true` the aggregate + join key is `xxhash64(par)`
    * instead of the paragraph STRING: at 100 TB that shuffles 8-byte
    * fingerprints instead of the corpus text (64-bit collision odds
    * are negligible at any realistic paragraph count). The default
    * keeps exact strings so the DuckDB mirror stays expressible —
    * [[removeRepeatedSpans]]'s two-path discipline. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n", hashKeys: Boolean = false): DataFrame = {
    val id = col(idCol)
    val pars = df
      .select(id, posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))))
      .select(id, col("pos"), trim(col("col")).as("par"))
      .filter(col("par") =!= "")
    val keyed = pars.withColumn("__k",
      if (hashKeys) xxhash64(col("par")) else col("par"))
    val firsts = keyed.groupBy("__k")
      .agg(min(struct(id.as("fid"), col("pos").as("fpos"))).as("__first"))
    val marked = keyed.join(firsts, "__k")
      .withColumn("kept",
        col("__first.fid") === id && col("__first.fpos") === col("pos"))
    marked.groupBy(id)
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(col("kept").cast("long")).as("n_kept"),
        concat_ws(sep,
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("par"))))),
            s => s.getField("par"))).as("text_dedup"))
  }

  /** Deterministic HyperLogLog distinct-token estimate per group
    * (Flajolet et al. 2007) — the cardinality sketch a 100 TB corpus
    * report runs instead of an exact `COUNT(DISTINCT token)`: the
    * shuffle carries at most `2^p` (bucket, max-rho) register rows per
    * group instead of every distinct term. Built ENTIRELY from the
    * shared [[md5Hash60]] hash so the estimate is bit-identical across
    * runs, partitionings and engines (Spark's own
    * `approx_count_distinct` is a non-portable HLL++ whose estimate an
    * external oracle cannot reproduce):
    *
    *  - bucket = low p bits of the 60-bit hash; w = the high `60-p`.
    *  - rho = trailing zeros of w, +1 (a uniform-geometric rank like
    *    the classic leading-rank; `w & -w` isolates the lowest set bit,
    *    whose log2 is EXACT in ieee754 — no float boundary anywhere).
    *  - registers: one `max(rho)` hash agg keyed by (group, bucket) —
    *    map-side combine applies, state is `groups * 2^p` rows.
    *  - estimate: the harmonic mean is scaled by `2^(rmax)` into an
    *    EXACT integer register sum (sum of `2^(rmax - rho)` longs), so
    *    the only float ops are one embedded-literal division and the
    *    small-range `m * ln(m/V)` linear-counting branch — identical
    *    op sequences in both engines.
    *
    * Output: (group, hll_est 4-dp, exact_distinct, rel_err 6-dp) — the
    * exact count is computed alongside (this IS the validation table;
    * at scale a caller drops it and keeps only the sketch). */
  /** The (group, bucket, rho) register frame behind [[hllDistinct]] —
    * exposed because MERGEABILITY is the point of the sketch at scale:
    * persist per-shard/per-day registers (at most 2^p rows per group)
    * and combine them with [[hllMerge]] instead of ever re-reading the
    * raw data; `hllRegisters(A ∪ B) == hllMerge(regs(A), regs(B))`
    * exactly (max is idempotent/commutative — proven in spec). */
  def hllRegisters(df: DataFrame, groupCol: String, termCol: Column,
      p: Int = 8, dedupTerms: Boolean = true): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val rmax = 60 - p + 1 // w has 60-p bits; w == 0 reports rmax
    val terms = df.select(col(groupCol), termCol.as("__t"))
    // max(rho) is duplicate-insensitive, so the pre-aggregation
    // distinct is ONLY a shuffle-size optimization (one row per
    // distinct term instead of one per occurrence). Pass
    // dedupTerms=false where a second stateful op is illegal — the
    // streaming register twin (complete-mode agg; see DocStreamsSpec).
    (if (dedupTerms) terms.distinct() else terms)
      .select(col(groupCol), md5Hash60(col("__t")).as("__h"))
      .select(col(groupCol), (col("__h") % m).as("bucket"),
        expr(s"__h div $m").as("__w"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(when(col("__w") === 0, lit(rmax))
        .otherwise(expr("CAST(ROUND(log2(__w & -__w)) AS INT) + 1")))
        .as("rho"))
  }

  /** Merge independently-built register frames (same group column and
    * p): per-bucket max. The union-distinct of the underlying term sets
    * is recovered EXACTLY — this is how 1000 executors' (or 365 days')
    * sketches combine into one estimate without touching raw data. */
  def hllMerge(regs: DataFrame*): DataFrame = {
    val all = regs.reduce(_ unionByName _)
    val groupCol = all.columns(0)
    all.groupBy(col(groupCol), col("bucket")).agg(max("rho").as("rho"))
  }

  /** Estimate distinct counts from a register frame (see
    * [[hllRegisters]] for the register arithmetic contract). */
  def hllEstimate(regs: DataFrame, groupCol: String, p: Int = 8): DataFrame = {
    val m = 1 << p
    val rmax = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // alpha * m^2 * 2^(rmax): one double literal embedded in BOTH
    // engines' expressions (Double.toString round-trips, so the oracle
    // parses back the identical ieee754 value).
    val num = alpha * m.toDouble * m.toDouble * math.pow(2.0, rmax)
    regs.groupBy(groupCol)
      .agg(count(lit(1)).as("__nb"),
        sum(expr(s"CAST(pow(2.0, $rmax - rho) AS BIGINT)")).as("__s"))
      .select(col(groupCol),
        col("__nb"),
        (col("__s") + (lit(m.toLong) - col("__nb")) *
          expr(s"CAST(pow(2.0, $rmax) AS BIGINT)")).as("__sum"))
      .select(col(groupCol),
        (lit(num) / col("__sum").cast("double")).as("__raw"),
        (lit(m.toLong) - col("__nb")).as("__v"))
      .select(col(groupCol),
        round(when(col("__raw") <= 2.5 * m && col("__v") > 0,
          lit(m.toDouble) * log(col("__v").cast("double") / m) * -1.0)
          .otherwise(col("__raw")), 4).as("hll_est"))
  }

  /** [[hllEstimate]] over [[hllRegisters]], with the exact distinct
    * count computed alongside as the validation column (at scale a
    * caller keeps only the sketch). Output: (group, hll_est 4-dp,
    * exact_distinct, rel_err 6-dp). */
  def hllDistinct(df: DataFrame, groupCol: String, termCol: Column,
      p: Int = 8): DataFrame = {
    val terms = df.select(col(groupCol), termCol.as("__t")).distinct()
    val est = hllEstimate(hllRegisters(df, groupCol, termCol, p),
      groupCol, p)
    val exact = terms.groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("exact_distinct"))
    est.join(exact, Seq(groupCol))
      .select(col(groupCol), col("hll_est"), col("exact_distinct"),
        round(abs(col("hll_est") - col("exact_distinct")) /
          col("exact_distinct"), 6).as("rel_err"))
  }

  /** k-minimum-values (KMV) sketch per source over distinct text
    * shingles (Beyer et al., SIGMOD 2007): the k smallest salted
    * 60-bit shingle hashes, kept as (source, rk, h) rows. Unlike HLL
    * it supports SET operations — union by min-merge, and the
    * intersection/Jaccard estimates [[kmvSourceOverlap]] derives —
    * which makes it the sketch for the cross-source question HLL
    * can't answer: "are two of my sources the same crawl twice?"
    * State is k hashes per source regardless of corpus size.
    *
    * Scale shape: the heavy stage is the distinct (source, hash)
    * pre-aggregate (map-side combined, ∝ corpus shingles); top-k then
    * runs in two phases — k smallest within each of 64 salted
    * sub-partitions, then k smallest of the ≤ 64k survivors — so one
    * hot source never serializes through a single partition's sort. */
  def kmvSketch(df: DataFrame, sourceCol: String, textCol: String,
      k: Int = 256, shingleWords: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val hs = fanOut(df).select(col(sourceCol),
        explode(shinglesOf(col(textCol), shingleWords)).as("sh"))
      .select(col(sourceCol),
        md5Hash60(concat(lit("kmv:"), col("sh"))).as("h"))
      .distinct()
    val wLocal = Window.partitionBy(col(sourceCol), pmod(col("h"), lit(64L)))
      .orderBy(col("h").asc)
    val wGlobal = Window.partitionBy(sourceCol).orderBy(col("h").asc)
    hs.withColumn("__lrk", row_number().over(wLocal))
      .filter(col("__lrk") <= k)
      .withColumn("rk", row_number().over(wGlobal))
      .filter(col("rk") <= k)
      .select(col(sourceCol), col("rk"), col("h"))
  }

  /** Per-source distinct-shingle estimate from a [[kmvSketch]]: exact
    * when the source produced fewer than k distinct hashes (the sketch
    * IS the set), else the KMV estimator (k-1) * 2^60 / h_k with h_k
    * the kth smallest hash. 4-dp rounded, oracle-reproducible. */
  def kmvDistinctEstimate(sketch: DataFrame, sourceCol: String,
      k: Int): DataFrame =
    sketch.groupBy(sourceCol)
      .agg(count(lit(1)).cast("long").as("n_sketch"),
        max(col("h")).as("__hk"))
      .select(col(sourceCol), col("n_sketch"),
        round(when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2.0, 60)) /
            col("__hk").cast("double")), 4).as("distinct_est"))

  /** Pairwise source-content overlap from [[kmvSketch]] rows: for each
    * source pair the k smallest hashes of the sketch UNION form U_k, a
    * uniform sample of the union, so |U_k ∩ A ∩ B| / |U_k| estimates
    * the shingle-set Jaccard (Beyer et al. 2007) — mirrored-dump and
    * re-crawled sources light up without any document-level pairwise
    * work. All joins run over sketch rows (|sources| × k, corpus-size
    * independent); the source-pair frame is tiny and broadcast. */
  def kmvSourceOverlap(sketch: DataFrame, sourceCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sketch.select(col(sourceCol).as("__s"), col("h"))
    val srcs = s.select(col("__s")).distinct()
    val pairs = srcs.select(col("__s").as("source_a"))
      .join(srcs.select(col("__s").as("source_b")),
        col("source_a") < col("source_b"))
    val ha = pairs.join(s.select(col("__s").as("source_a"), col("h")),
      Seq("source_a"))
    val hb = pairs.join(s.select(col("__s").as("source_b"), col("h")),
      Seq("source_b"))
    val merged = ha.select(col("source_a"), col("source_b"), col("h"),
        lit("a").as("__side"))
      .union(hb.select(col("source_a"), col("source_b"), col("h"),
        lit("b").as("__side")))
      .groupBy("source_a", "source_b", "h")
      .agg(countDistinct("__side").as("__ns"))
    val w = Window.partitionBy("source_a", "source_b").orderBy(col("h").asc)
    merged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("union_k"),
        sum(when(col("__ns") === 2, 1L).otherwise(0L)).as("n_both"))
      .select(col("source_a"), col("source_b"), col("union_k"),
        col("n_both"),
        round(col("n_both").cast("double") / col("union_k"), 6)
          .as("jaccard_est"))
  }

  /** One-permutation-hashing MinHash registers (Li, Owen & Zhang,
    * NIPS 2012) per group: the hash space splits into k buckets
    * (h mod k) and each keeps its MINIMUM — a k-register MinHash
    * signature of the group's term set as a plain (group, bucket,
    * min_h) table. min is duplicate-insensitive, so this is ONE
    * complete-mode-legal aggregate exactly like [[hllRegisters]]'s
    * max(rho) — the register-tier sketch that, unlike HLL, supports
    * cross-group SIMILARITY ([[minhashRegisterOverlap]]) while
    * staying streaming-safe and min-mergeable
    * ([[minhashRegisterMerge]]); [[kmvSketch]] stays the batch tool
    * when set-size estimates are also wanted. State: ≤ |groups| × k
    * rows regardless of stream length. */
  def minhashRegisters(df: DataFrame, groupCol: String, termCol: Column,
      k: Int = 128): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(col(groupCol),
        md5Hash60(concat(lit("mhr:"), termCol)).as("__h"))
      .groupBy(col(groupCol), pmod(col("__h"), lit(k.toLong)).as("bucket"))
      .agg(min("__h").as("min_h"))
  }

  /** Merge independently-built MinHash register frames (same group
    * column and k): per-bucket min — the min over a union of term
    * sets, recovered exactly, shard by shard. */
  def minhashRegisterMerge(regs: DataFrame*): DataFrame = {
    val all = regs.reduce(_ unionByName _)
    val groupCol = all.columns(0)
    all.groupBy(col(groupCol), col("bucket")).agg(min("min_h").as("min_h"))
  }

  /** Pairwise group similarity from [[minhashRegisters]]: the fraction
    * of shared buckets whose minima AGREE estimates the term-set
    * Jaccard (the MinHash property, one register per permutation
    * bucket). Reported over the buckets both groups populated
    * (n_buckets) — the OPH empty-bin caveat: groups with far fewer
    * than k distinct terms leave bins empty and the estimate coarsens;
    * at corpus scale every source fills all k. Joins touch register
    * rows only (≤ |groups| × k — corpus-size independent). */
  def minhashRegisterOverlap(regs: DataFrame, groupCol: String): DataFrame = {
    val a = regs.select(col(groupCol).as("source_a"), col("bucket"),
      col("min_h").as("__ha"))
    val b = regs.select(col(groupCol).as("source_b"), col("bucket"),
      col("min_h").as("__hb"))
    a.join(b, "bucket")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("__ha") === col("__hb"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col("source_a"), col("source_b"), col("n_buckets"),
        col("n_match"),
        round(col("n_match").cast("double") / col("n_buckets"), 6)
          .as("jaccard_est"))
  }

  /** Snapshot diff — the data-versioning audit between two corpus
    * snapshots: per id, `added` / `removed` / `changed` / `unchanged`
    * by content hash. One id-keyed full outer join of two (id, md5)
    * projections — the text itself never shuffles, only 32-byte
    * hashes; at 100 TB this is the nightly "what moved" report that
    * makes incremental reprocessing ([[dedupAgainstCorpus]]) safe to
    * trust. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__oid"), md5(col(textCol)).as("__oh"))
    val n = newDf.select(col(idCol).as("__nid"), md5(col(textCol)).as("__nh"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as(idCol),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__oh") === col("__nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-source token-distribution drift vs the whole corpus — the
    * monitoring signal a production ingest pipeline alarms on (a
    * source whose token mix diverges from the corpus is a scraper
    * change, an encoding bug, or contamination): smoothed KL(source ||
    * corpus) over `buckets` hashed token cells. Counts are exact
    * integer hash aggs; each bucket's KL term is rounded to micro-nats
    * and the per-source result is an EXACT integer sum of those terms
    * ([[lmScore]]'s order-independence discipline — double summation
    * order can never move the answer). Bounded state: the dense grid
    * is |sources| x buckets rows; corpus totals ride a broadcast. */
  def tokenDrift(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, buckets: Int = 64): DataFrame =
    tokenDriftFrom(
      tokenDriftRegisters(df, idCol, textCol, sourceCol, buckets),
      sourceCol, buckets)

  /** The drift grid's mergeable register form: exact token counts per
    * (source, hashed bucket) — ≤ |sources| x buckets rows, one hash
    * agg over the token stream. Sum-mergeable ([[tokenDriftMerge]])
    * and streaming-safe as a complete-mode aggregate, the
    * [[corpusStatsRegisters]] contract: a production pipeline keeps
    * the register table per shard/day and derives drift on demand. */
  def tokenDriftRegisters(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, buckets: Int = 64): DataFrame = {
    val occ = fanOut(df).select(col(sourceCol),
      explode(tokens(col(textCol))).as("__t"))
      .select(col(sourceCol), (md5Hash60(col("__t")) % buckets).as("b"))
    occ.groupBy(sourceCol, "b").agg(count(lit(1)).as("c"))
  }

  /** Merge register shards — exact (counts sum). */
  def tokenDriftMerge(shards: DataFrame*): DataFrame = {
    require(shards.nonEmpty, "no shards")
    val srcCol = shards.head.columns.head
    shards.reduce(_ unionByName _).groupBy(col(srcCol), col("b"))
      .agg(sum("c").as("c"))
  }

  /** Smoothed KL(source || corpus) from a register table — every
    * total re-aggregates the |sources| x buckets counts, never the
    * token stream (the plan-audit fix: the naive four-agg shape
    * scanned and re-tokenized the corpus four times). */
  def tokenDriftFrom(registers: DataFrame, sourceCol: String,
      buckets: Int = 64): DataFrame = {
    // a barrier, not a lazy localCheckpoint: the four consumers below
    // run as concurrent adaptive stages, and concurrent jobs over a
    // not-yet-checkpointed RDD deadlock in Spark's checkpoint locking
    // (DocStreamsSpec hung in RDD.markCheckpointed vs getCacheLocs)
    val srcB = registers.barrierFirewall()
    val srcN = srcB.groupBy(sourceCol).agg(sum("c").as("n"))
    val allB = srcB.groupBy("b").agg(sum("c").as("cAll"))
    val allN = allB.agg(sum("cAll").as("nAll"))
    val grid = srcN
      .select(col(sourceCol), col("n"),
        explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("b"))
      .join(srcB, Seq(sourceCol, "b"), "left")
      .join(allB, Seq("b"), "left")
      .crossJoin(broadcast(allN))
      .select(col(sourceCol), col("n"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("cAll"), lit(0L)).as("cAll"), col("nAll"))
    // p, q and the ln ratio share ONE op order with the oracle; the
    // only cross-engine float op is ln, absorbed by the micro rounding
    val p = (col("c") + 1).cast("double") / (col("n") + buckets).cast("double")
    val q = (col("cAll") + 1).cast("double") /
      (col("nAll") + buckets).cast("double")
    val termMicro = round(p * log(p / q) * 1000000.0, 0).cast("long")
    grid.select(col(sourceCol), col("n"), termMicro.as("__tm"))
      .groupBy(sourceCol)
      .agg(max("n").as("n_tokens"), sum("__tm").as("kl_micro"))
  }

  /** Log2-histogram registers — the MERGEABLE quantile sketch that
    * completes the bounded-state trilogy ([[hllRegisters]] distinct,
    * [[cmsRegisters]] frequency, this one distribution): per (group,
    * bucket) count/min/max/sum where bucket = floor(log2(v)) computed
    * EXACTLY as `length(binary(v)) - 1` (string length of the base-2
    * representation — integer semantics in both engines; an IEEE
    * `floor(log2(v))` can land on either side at exact powers of two).
    * At most 64 buckets per group regardless of row count; shards
    * merge by add/min/max ([[histMerge]]) — the percentile answer a
    * 100 TB pipeline keeps per shard/day when the exact per-group sort
    * ([[perplexityBuckets]]'s percentile) is the scale problem.
    * Nonpositive values are excluded (log buckets are undefined
    * there); callers shift if zero matters. */
  def histRegisters(df: DataFrame, groupCol: String,
      valueCol: Column): DataFrame =
    df.select(col(groupCol), valueCol.cast("long").as("__v"))
      .filter(col("__v") > 0)
      .select(col(groupCol),
        (length(conv(col("__v"), 10, 2)) - 1).cast("int").as("bucket"),
        col("__v"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"), min("__v").as("vmin"),
        max("__v").as("vmax"), sum("__v").as("vsum"))

  /** Merge independently-built histogram register frames (same group
    * column): per-bucket add/min/max — exactly the whole-corpus
    * recompute, like [[hllMerge]]. */
  def histMerge(regs: DataFrame*): DataFrame = {
    val all = regs.reduce(_ unionByName _)
    val groupCol = all.columns(0)
    all.groupBy(col(groupCol), col("bucket"))
      .agg(sum("n").as("n"), min("vmin").as("vmin"),
        max("vmax").as("vmax"), sum("vsum").as("vsum"))
  }

  /** Quantile estimates from histogram registers: walk the cumulative
    * counts to the target rank's bucket, then interpolate linearly
    * inside the bucket's OBSERVED [vmin, vmax] span. All arithmetic is
    * exact integers up to one final division (4-dp rounded), so the
    * estimate is bit-stable across engines. The per-group window runs
    * over at most 64 register rows — bounded, never the data. */
  def histQuantiles(regs: DataFrame, groupCol: String,
      fracs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy("bucket")
    val cum = regs
      .withColumn("cum", sum("n").over(w))
      .withColumn("total", sum("n").over(Window.partitionBy(groupCol)))
    val probes = fracs.map { f =>
      // target rank (1-based, ceil) as exact integer arithmetic:
      // ceil(f * total) with f carried in micro-units
      val micro = math.round(f * 1000000.0)
      cum.withColumn("frac", lit(micro / 1000000.0))
        .withColumn("rank",
          greatest(ceil(col("total") * micro / 1000000.0), lit(1L)))
        .filter(col("cum") >= col("rank") &&
          col("cum") - col("n") < col("rank"))
        .select(col(groupCol), col("frac"),
          round(col("vmin") +
            (col("vmax") - col("vmin")).cast("double") *
              (col("rank") - (col("cum") - col("n")) - 1).cast("double") /
              greatest(col("n") - 1, lit(1L)).cast("double"), 4)
            .as("est"))
    }
    probes.reduce(_ unionByName _)
  }

  /** Count-min sketch registers (Cormode & Muthukrishnan 2005) — the
    * bounded-memory frequency table a 100 TB token stream keeps when the
    * exact (term, count) table itself would be the scale problem: `depth`
    * independent md5-salted hash rows of `width` cells each, so the
    * aggregation state is AT MOST depth*width rows no matter how many
    * distinct terms flow through (an exact per-term groupBy's state is
    * the vocabulary). One bounded explode (depth structs per term
    * occurrence) + one hash agg with map-side combine; deterministic
    * across runs/partitionings/engines via the shared [[md5Hash60]]. */
  def cmsRegisters(df: DataFrame, termCol: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 2,
      s"bad sketch shape ($depth x $width)")
    val cells = array((0 until depth).map(i =>
      struct(lit(i).as("row"),
        (md5Hash60(concat(lit(s"cms$i:"), termCol)) % width).as("cell"))): _*)
    df.select(explode(cells).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))
  }

  /** Point-query the sketch: estimated occurrence count of each probe
    * term = min over the depth rows of its hashed cell (never an
    * UNDERcount; overcounts are bounded by e*N/width per row with
    * high probability). The register side is depth*width rows —
    * broadcast — so probing any number of terms is one narrow
    * broadcast join + a min agg keyed by term. */
  def cmsEstimate(registers: DataFrame, probes: DataFrame,
      termCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    val cells = array((0 until depth).map(i =>
      struct(lit(i).as("row"),
        (md5Hash60(concat(lit(s"cms$i:"), col(termCol))) % width)
          .as("cell"))): _*)
    probes.select(col(termCol)).distinct()
      .select(col(termCol), explode(cells).as("rc"))
      .select(col(termCol), col("rc.row").as("row"), col("rc.cell").as("cell"))
      .join(broadcast(registers), Seq("row", "cell"), "left")
      .groupBy(termCol)
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_est"))
  }

  /** Corpus data card — the per-source + overall statistics panel every
    * dataset release ships (docs, token volume, length distribution,
    * short/empty fractions). ONE rollup hash aggregate over a narrow
    * per-doc projection: partial map-side combine applies at both
    * grouping levels, no second scan for the overall row, no driver
    * work. The `source` column of the overall row is 'ALL' (rollup's
    * null, made explicit so the report is self-describing). */
  def corpusStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shortTokens: Int = 50): DataFrame =
    corpusStatsFrom(
      corpusStatsRegisters(df, idCol, textCol, sourceCol, shortTokens),
      sourceCol)

  /** The data card's mergeable register form: one row per source with
    * EXACT integer numerators (doc/token/char counts, short/empty doc
    * counts, max tokens) — every column is sum- or max-mergeable, so
    * this runs unchanged as a complete-mode STREAMING aggregate
    * (state = |sources| rows, the hllRegisters contract) and shards
    * merge exactly ([[corpusStatsMerge]]). [[corpusStatsFrom]] derives
    * the presentation card (averages, fractions, ALL rollup row). */
  def corpusStatsRegisters(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shortTokens: Int = 50): DataFrame = {
    val perDoc = df.select(col(sourceCol),
      size(tokens(coalesce(col(textCol), lit("")))).cast("long").as("__n"),
      length(coalesce(col(textCol), lit(""))).cast("long").as("__c"))
    perDoc.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        max(col("__n")).as("max_tokens"),
        sum(col("__c")).as("total_chars"),
        sum((col("__n") < shortTokens).cast("long")).as("n_short"),
        sum((col("__n") === 0).cast("long")).as("n_empty"))
  }

  /** Merge register shards from independent runs/batches — exact, the
    * register columns are sums and a max. */
  def corpusStatsMerge(shards: DataFrame*): DataFrame = {
    require(shards.nonEmpty, "no shards")
    val srcCol = shards.head.columns.head
    shards.reduce(_ unionByName _).groupBy(col(srcCol))
      .agg(sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens"),
        max("max_tokens").as("max_tokens"),
        sum("total_chars").as("total_chars"),
        sum("n_short").as("n_short"),
        sum("n_empty").as("n_empty"))
  }

  /** Presentation card from [[corpusStatsRegisters]]: per-source rows
    * plus the ALL rollup row derived by merging registers (long sums
    * are exact, so the derived ALL row is bit-identical to a direct
    * whole-corpus rollup — the same division operands reach the same
    * 6-dp rounding). */
  def corpusStatsFrom(registers: DataFrame, sourceCol: String): DataFrame = {
    val all = registers.groupBy()
      .agg(sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens"),
        max("max_tokens").as("max_tokens"),
        sum("total_chars").as("total_chars"),
        sum("n_short").as("n_short"),
        sum("n_empty").as("n_empty"))
      .select(lit(null).cast("string").as(sourceCol), col("n_docs"),
        col("total_tokens"), col("max_tokens"), col("total_chars"),
        col("n_short"), col("n_empty"))
    registers.unionByName(all)
      .select(coalesce(col(sourceCol), lit("ALL")).as(sourceCol),
        col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens"),
        col("max_tokens"), col("total_chars"),
        round(col("n_short").cast("double") / col("n_docs"), 6)
          .as("short_frac"),
        round(col("n_empty").cast("double") / col("n_docs"), 6)
          .as("empty_frac"))
  }
}
