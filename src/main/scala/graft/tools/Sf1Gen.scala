package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1-scale stretch-check data: tiles the driver's sf0.1 tables 10x
  * with FK-preserving key offsets (copy k shifts every entity key by
  * k * 10^9, so orders->customer / lineitem->orders/part/supplier joins
  * stay consistent), fixed dimension tables (region/nation) untouched.
  * Documents follow [[ScaleStep.copyOf]]'s replication rule — copy 0
  * verbatim, 90% of copies k>0 get a per-copy suffix word, 10% stay
  * byte-identical — so the dedup tracks keep real work to do instead
  * of degenerating to 10 identical clusters per doc; n_chars is
  * recomputed to stay true to the varied text. Embeddings shift
  * vec_id and keep vectors (ANN tracks see 10x density, the
  * interesting direction for cell caps).
  *
  * The testdata dirs are read-only by contract, so this writes to a
  * scratch dir (default /tmp/sf1) that graft.Verify takes as its
  * sfDir. Spark writes DIRECTORY-style parquet; tools/check_oracle.py
  * (and the driver) expect one FILE per table, so flatten for the
  * DuckDB side before the compare — in python/duckdb, per table:
  * `COPY (SELECT ... FROM read_parquet('<dir>.parquet' + glob)) TO
  * '<flatdir>/<table>.parquet' (FORMAT PARQUET)` (the r11 sf1 run
  * used /tmp/sf1 -> /tmp/sf1f this way).
  * Usage: runMain graft.tools.Sf1Gen [outDir] [copies]
  */
object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val src = "/root/testdata/sf0.1"
    val off = 1000000000L
    val spark = graft.SparkEntry.localSession()

    def tile(name: String, keyCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val tiled = (0 until copies).map { k =>
        val shifted = keyCols.foldLeft(perCopy(base, k)) { (d, c) =>
          d.withColumn(c, col(c) + lit(k * off)) }
        shifted
      }.reduce(_ unionByName _)
      tiled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SF1GEN $name -> ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // fixed dimensions: copy through unchanged
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"SF1GEN $n -> unchanged")
    }
    tile("customer", Seq("c_custkey"))
    tile("supplier", Seq("s_suppkey"))
    tile("part", Seq("p_partkey"))
    tile("orders", Seq("o_orderkey", "o_custkey"))
    tile("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    tile("events", Seq("event_id", "user_id"))
    tile("documents", Seq(), (d, k) => ScaleStep.copyOf(d, k, off)
      .withColumn("n_chars", length(col("text")).cast("long")))
    tile("embeddings", Seq("vec_id"))
    spark.stop()
  }
}
