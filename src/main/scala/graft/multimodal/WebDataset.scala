package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** WebDataset export — the sharded-tar format multimodal training
  * loaders stream (image/caption pairs as `<key>.<ext>` members of
  * `shard-%06d.tar` files, one sequential read per shard): the sink
  * tier that turns a curated (payload, caption) frame into the
  * artifact a training run actually mounts.
  *
  * Split into a PURE manifest plan (oracle-checkable: shard/sequence
  * assignment, member names, member sizes) and a side-effecting writer
  * that consumes it — the same contract split the THERMOCALC sinks
  * use (formatted lines oracled, file IO at the edge).
  */
object WebDataset {

  /** Zero-padded sample key: the id as a string, left-padded to 9
    * digits; an id of 9 or more characters is used as is, never cut, so
    * distinct ids always get distinct keys. */
  private def key(id: Column): Column = {
    val s = id.cast("string")
    when(length(s) >= 9, s).otherwise(lpad(s, 9, "0"))
  }

  /** Deterministic export manifest: one row per sample with its shard
    * (the [[graft.text.TextOps.shardAssign]] md5 assignment — salt-free
    * uniform hashing, reproducible across runs and engines), the dense
    * 1-based sequence within the shard, the zero-padded sample key and
    * both member names/sizes. Returns (idCol, shard, seq, key,
    * img_member, txt_member, img_bytes, txt_bytes).
    *
    * Scale shape: [[graft.text.TextOps.shardAssign]]'s one exchange on
    * the shard key + per-shard sequence window (shard size is the unit
    * of parallelism — pick nShards so a shard is a few hundred MB, the
    * WebDataset convention); everything else is a narrow projection.
    * Payload bytes never shuffle for the MANIFEST — only lengths. */
  def manifest(media: DataFrame, idCol: String, payloadCol: String,
      textCol: String, nShards: Int, ext: String = "bmp"): DataFrame = {
    val base = media.select(col(idCol),
      octet_length(col(payloadCol)).cast("long").as("img_bytes"),
      octet_length(col(textCol)).cast("long").as("txt_bytes"))
    val k = key(col(idCol))
    TextOps.shardAssign(base, idCol, nShards)
      .select(col(idCol), col("shard"), col("seq"),
        k.as("key"),
        concat(k, lit(s".$ext")).as("img_member"),
        concat(k, lit(".txt")).as("txt_member"),
        col("img_bytes"), col("txt_bytes"))
  }

  /** Write `shard-%06d.tar` USTAR archives under `outDir`, one tar per
    * manifest shard, members in manifest `seq` order (`<key>.<ext>`
    * image bytes then `<key>.txt` caption bytes — the WebDataset
    * same-key-adjacent convention), streamed through
    * [[graft.sources.ShardIO.writeShards]]. Pure-JVM USTAR emission (no
    * external tooling): 512-byte headers, octal sizes, correct
    * checksums, two zero blocks at the end — readable by any tar.
    * Member names are built by the same expressions as [[manifest]]'s.
    * A null payload or caption becomes an empty member. Returns the
    * per-shard report (shard, path, n_samples, bytes_written) collected
    * from the writing tasks themselves, so a lost task cannot silently
    * under-write an archive.
    *
    * Scale shape: payload bytes cross two exchanges — the shard seq
    * window's and the repartition that co-locates a shard's members —
    * then each shard streams to its own tar in one pass; shards are
    * independent, so the write parallelism is min(nShards, cores). */
  def writeShards(media: DataFrame, idCol: String, payloadCol: String,
      textCol: String, outDir: String, nShards: Int,
      ext: String = "bmp"): DataFrame = {
    val k = key(col(idCol))
    graft.sources.ShardIO.writeShards(media, idCol,
        Seq(concat(k, lit(s".$ext")), concat(k, lit(".txt")),
          col(payloadCol), col(textCol).cast("string")),
        outDir, nShards, "shard-%06d.tar", "n_samples",
        trailer = new Array[Byte](1024)) { (out, r) =>
      entry(out, r.getString(2),
        Option(r.getAs[Array[Byte]](4)).getOrElse(Array.emptyByteArray))
      entry(out, r.getString(3),
        Option(r.getString(5)).getOrElse("").getBytes("UTF-8"))
    }
  }

  /** One USTAR member: 512-byte header (mode 0644, mtime 0 so shards
    * are bit-reproducible), the data, zero padding to 512. */
  private def entry(out: java.io.OutputStream, name: String,
      data: Array[Byte]): Unit = {
    val h = new Array[Byte](512)
    val nb = name.getBytes("UTF-8")
    require(nb.length <= 100, s"tar member name too long: $name")
    System.arraycopy(nb, 0, h, 0, nb.length)
    def oct(off: Int, len: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val p = "0" * (len - 1 - s.length) + s
      System.arraycopy(p.getBytes("UTF-8"), 0, h, off, len - 1)
    }
    oct(100, 8, 420)            // mode 0644
    oct(108, 8, 0); oct(116, 8, 0)
    oct(124, 12, data.length.toLong)
    oct(136, 12, 0L)            // mtime 0: bit-reproducible shards
    h(156) = '0'                // regular file
    System.arraycopy("ustar".getBytes("UTF-8"), 0, h, 257, 5)
    h(263) = '0'; h(264) = '0' // POSIX magic "ustar\u0000", version "00"
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += (h(i) & 0xff); i += 1 }
    oct(148, 7, sum); h(155) = ' '
    out.write(h)
    out.write(data)
    val pad = (512 - data.length % 512) % 512
    if (pad > 0) out.write(new Array[Byte](pad))
  }

  /** JOB-level atomic export: [[writeShards]] + verification + the
    * terminal `_MANIFEST.jsonl` commit
    * ([[graft.sources.ShardIO.commitExport]]). Eager; returns the
    * per-shard report rows. */
  def export(media: DataFrame, idCol: String, payloadCol: String,
      textCol: String, outDir: String, nShards: Int,
      ext: String = "bmp"): Array[Row] =
    graft.sources.ShardIO.commitExport(
      writeShards(media, idCol, payloadCol, textCol, outDir, nShards, ext),
      outDir)

  /** Read a USTAR archive back as (member name, bytes) — the test-side
    * inverse of [[writeShards]]'s emitter (stops at the zero block). */
  def readTar(path: String): Seq[(String, Array[Byte])] = {
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val outBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= all.length && all(off) != 0) {
      val name = new String(all, off, 100, "UTF-8").takeWhile(_ != '\u0000')
      val size = java.lang.Long.parseLong(
        new String(all, off + 124, 11, "UTF-8").trim, 8).toInt
      val data = java.util.Arrays.copyOfRange(all, off + 512, off + 512 + size)
      outBuf += ((name, data))
      off += 512 + size + ((512 - size % 512) % 512)
    }
    outBuf.toSeq
  }
}
