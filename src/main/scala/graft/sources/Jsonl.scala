package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSONL (newline-delimited JSON) ingest/export — the interchange
  * format of LLM corpus tooling (one JSON object per line; what the
  * reference's CSV bundles are to petrology data).
  *
  * Read contract: an explicit schema is REQUIRED. `spark.read.json`
  * without one runs a full schema-inference pass over the input —
  * at 100 TB that is a second complete scan before the first useful
  * one — and a drifting inferred schema is exactly the failure the
  * events.ts adaptive reader exists to prevent. With the schema given,
  * the JSON scan prunes columns like any other source (only the
  * requested fields are parsed).
  *
  * Write contract: `to_json` over a struct of all columns. [[write]]
  * goes through the text sink, one part file per partition;
  * [[writeShards]] and [[export]] write named, reproducible shards.
  */
object Jsonl {

  /** Read JSONL at `path` with the given schema. `mode` follows the
    * Spark JSON option: FAILFAST (default here — corpus ingest should
    * fail loudly, not silently null a malformed shard), PERMISSIVE
    * (malformed lines become nulls, retrievable via a
    * `_corrupt_record` field if the schema declares one), DROPMALFORMED. */
  def read(spark: SparkSession, path: String, schema: StructType,
      mode: String = "FAILFAST"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)

  /** Write `df` as JSONL under `path` (one part file per partition).
    * Field order follows the DataFrame's column order; nulls are
    * omitted per JSON-source convention (Spark's to_json drops null
    * fields), so a round trip restores them as nulls. */
  def write(df: DataFrame, path: String, compression: String = "none"): Unit =
    df.select(line(df).as("value"))
      .write.mode("overwrite").option("compression", compression).text(path)

  /** Shard file name pattern, shared by [[manifest]] and [[writeShards]]. */
  private def pattern(gzip: Boolean): String =
    if (gzip) "shard-%06d.jsonl.gz" else "shard-%06d.jsonl"

  /** One JSONL line per row: `to_json` over the frame's column order. */
  private def line(df: DataFrame): org.apache.spark.sql.Column =
    to_json(struct(df.columns.map(col): _*))

  /** PURE export manifest for [[writeShards]] — the oracle-checkable
    * half of the sink ([[graft.multimodal.WebDataset.manifest]]'s
    * contract split): one row per record with its shard, dense 1-based
    * per-shard sequence, target file name, and the rendered line's
    * byte size (excluding the trailing newline the writer adds).
    * Line rendering is the writer's own `to_json` over the frame's
    * column order, so the manifest pins exactly what ships.
    *
    * Scale shape: [[graft.text.TextOps.shardAssign]]'s one exchange +
    * per-shard seq window; the line render is a narrow codegen'd
    * projection and only its LENGTH survives into the manifest. */
  def manifest(df: DataFrame, idCol: String, nShards: Int,
      gzip: Boolean = true): DataFrame =
    graft.text.TextOps.shardAssign(df.withColumn("__line", line(df)),
        idCol, nShards)
      .select(col(idCol), col("shard"), col("seq"),
        format_string(pattern(gzip), col("shard")).as("file"),
        octet_length(col("__line")).cast("long").as("line_bytes"))

  /** Deterministic NAMED-shard JSONL export — the text sibling of
    * [[graft.multimodal.WebDataset.writeShards]], and the artifact
    * convention text-pretraining corpora actually ship
    * (`shard-%06d.jsonl[.gz]`, stable membership and line order, so a
    * re-run of the exporter produces bit-identical files a downstream
    * hash manifest can verify): rows are assigned by
    * [[graft.text.TextOps.shardAssign]]'s salt-free md5 hash, ordered
    * by its per-shard `seq`, rendered with Spark's `to_json` over the
    * frame's own column order, and streamed one shard per file through
    * [[ShardIO.writeShards]]. Gzip members are reproducible too (Java's
    * GZIP header carries mtime 0). Returns the per-shard report
    * (shard, path, n_lines, bytes_written); the write happens when the
    * returned frame is acted on. */
  def writeShards(df: DataFrame, idCol: String, outDir: String,
      nShards: Int, gzip: Boolean = true): DataFrame =
    ShardIO.writeShards(df, idCol, Seq(line(df)), outDir, nShards,
        pattern(gzip), "n_lines", gzip) { (out, r) =>
      out.write(r.getString(2).getBytes("UTF-8"))
      out.write('\n')
    }

  /** JOB-level atomic export: [[writeShards]] + verification +
    * the terminal `_MANIFEST.jsonl` commit ([[ShardIO.commitExport]]).
    * Eager; returns the per-shard report rows. Readers gate on
    * [[ShardIO.readCommitted]] — no manifest means the job died
    * mid-export. */
  def export(df: DataFrame, idCol: String, outDir: String, nShards: Int,
      gzip: Boolean = true): Array[org.apache.spark.sql.Row] =
    ShardIO.commitExport(writeShards(df, idCol, outDir, nShards, gzip), outDir)
}
