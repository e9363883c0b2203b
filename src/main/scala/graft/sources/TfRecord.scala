package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** TFRecord named-shard export — the third artifact format of the
  * export tier (next to [[graft.multimodal.WebDataset]]'s tars and
  * [[Jsonl.writeShards]]'s lines): TensorFlow's framed-record files,
  * `shard-%05d-of-%05d.tfrecord`. The framing is format-agnostic
  * (length + masked crc32c of the length, payload, masked crc32c of
  * the payload — TensorFlow's `io.RecordWriter` layout, crc32c from
  * the JDK's `java.util.zip.CRC32C`), so each record carries whatever
  * bytes the caller serialized — a JSON line, raw image bytes, or a
  * tf.Example protobuf produced upstream.
  *
  * Sharding/order/reproducibility follow the export tier's one
  * contract: [[graft.text.TextOps.shardAssign]] md5 membership,
  * per-shard `seq` order, bit-identical files across runs and
  * partitionings.
  */
object TfRecord {

  /** TensorFlow's masked crc32c: rotate right 15, add the mask delta
    * (uint32 arithmetic). */
  def maskedCrc32c(data: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(data, off, len)
    val crc = c.getValue.toInt // low 32 bits
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8) // wraps as uint32
  }

  private def le64(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  private def le32(v: Int): Array[Byte] = {
    val b = new Array[Byte](4)
    var i = 0
    while (i < 4) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  /** Write one framed record. */
  private def writeRecord(out: java.io.OutputStream,
      payload: Array[Byte]): Unit = {
    val len = le64(payload.length.toLong)
    out.write(len)
    out.write(le32(maskedCrc32c(len, 0, 8)))
    out.write(payload)
    out.write(le32(maskedCrc32c(payload, 0, payload.length)))
  }

  /** Shard file name pattern over (shard, nShards), shared by
    * [[manifest]] and [[writeShards]]. */
  private val Pattern = "shard-%05d-of-%05d.tfrecord"

  /** The value column as record payload bytes: BINARY as is, anything
    * else as its UTF-8 string. */
  private def payload(df: DataFrame, valueCol: String): Column =
    if (df.schema(valueCol).dataType == BinaryType) col(valueCol)
    else encode(col(valueCol).cast("string"), "UTF-8")

  /** PURE export manifest for [[writeShards]] — the oracle-checkable
    * half of the sink: one row per record with its shard, dense
    * 1-based per-shard sequence, target file name, and the FRAMED
    * record size (16 bytes of length+crc framing plus the payload) —
    * so `sum(record_bytes)` per shard equals the committed file's
    * byte length exactly (TfRecordSpec pins that equality). */
  def manifest(df: DataFrame, idCol: String, valueCol: String,
      nShards: Int): DataFrame =
    graft.text.TextOps.shardAssign(
        df.select(col(idCol), payload(df, valueCol).as("__val")),
        idCol, nShards)
      .select(col(idCol), col("shard"), col("seq"),
        format_string(Pattern, col("shard"), lit(nShards)).as("file"),
        (octet_length(col("__val")) + lit(16)).cast("long")
          .as("record_bytes"))

  /** Deterministic named-shard TFRecord export of a BINARY or STRING
    * value column (strings are UTF-8 encoded): `shard-%05d-of-%05d
    * .tfrecord` under `outDir`, records in [[graft.text.TextOps
    * .shardAssign]] `seq` order, streamed through
    * [[ShardIO.writeShards]]. Returns the per-shard report (shard,
    * path, n_records, bytes_written); the write happens when the
    * returned frame is acted on. A NULL value fails the writing task
    * with an [[IllegalArgumentException]] naming the column and the
    * row's shard and seq: a record has no null encoding. */
  def writeShards(df: DataFrame, idCol: String, valueCol: String,
      outDir: String, nShards: Int): DataFrame =
    ShardIO.writeShards(df, idCol, Seq(payload(df, valueCol)), outDir,
        nShards, Pattern, "n_records") { (out, r) =>
      val v = r.getAs[Array[Byte]](2)
      if (v == null) throw new IllegalArgumentException(
        s"TFRecord export: value column `$valueCol` is NULL at shard " +
          s"${r.getInt(0)} seq ${r.getLong(1)}; a record needs a payload")
      writeRecord(out, v)
    }

  /** JOB-level atomic export: [[writeShards]] + verification + the
    * terminal `_MANIFEST.jsonl` commit ([[ShardIO.commitExport]]).
    * Eager; returns the per-shard report rows. */
  def export(df: DataFrame, idCol: String, valueCol: String,
      outDir: String, nShards: Int): Array[Row] =
    ShardIO.commitExport(
      writeShards(df, idCol, valueCol, outDir, nShards), outDir)

  /** JOB-level atomic [[writeExamples]] — same terminal-manifest
    * commit as [[export]]. */
  def exportExamples(df: DataFrame, idCol: String,
      features: Seq[(String, org.apache.spark.sql.Column)],
      outDir: String, nShards: Int): Array[Row] =
    ShardIO.commitExport(
      writeExamples(df, idCol, features, outDir, nShards), outDir)

  /** TFRecord export whose payloads are canonical [[TfExample]]
    * protobufs serialized from the given (name, column) features —
    * the full TF input-pipeline artifact (tf.data's
    * `TFRecordDataset` + `parse_single_example` consume these
    * directly). Same sharding/order/reproducibility contract as
    * [[writeShards]]; the serialization is a codegen'd projection
    * ahead of the shard exchange, so payload bytes shuffle once. */
  def writeExamples(df: DataFrame, idCol: String,
      features: Seq[(String, org.apache.spark.sql.Column)],
      outDir: String, nShards: Int): DataFrame =
    writeShards(
      df.select(col(idCol), TfExample.encode(features).as("__example")),
      idCol, "__example", outDir, nShards)

  /** Read a TFRecord file back as payload byte arrays, VERIFYING both
    * masked crc32c fields per record — the test-side inverse of
    * [[writeShards]], and fail-closed: a flipped bit anywhere in the
    * framing or payload throws instead of yielding garbage. */
  def readRecords(path: String): Seq[Array[Byte]] = {
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val outBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var off = 0
    def le32At(o: Int): Int =
      (all(o) & 0xff) | ((all(o + 1) & 0xff) << 8) |
        ((all(o + 2) & 0xff) << 16) | ((all(o + 3) & 0xff) << 24)
    while (off < all.length) {
      require(maskedCrc32c(all, off, 8) == le32At(off + 8),
        s"length crc mismatch at offset $off in $path")
      var len = 0L
      var i = 0
      while (i < 8) { len |= (all(off + i) & 0xffL) << (8 * i); i += 1 }
      val n = len.toInt
      val payload = java.util.Arrays.copyOfRange(all, off + 12, off + 12 + n)
      require(maskedCrc32c(payload, 0, n) == le32At(off + 12 + n),
        s"payload crc mismatch at offset $off in $path")
      outBuf += payload
      off += 16 + n
    }
    outBuf.toSeq
  }
}
