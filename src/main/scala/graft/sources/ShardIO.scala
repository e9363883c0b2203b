package graft.sources

import java.io.{BufferedOutputStream, FilterOutputStream, IOException,
  ObjectInputStream, ObjectOutputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** Shared shard-commit machinery for the export tier ([[Jsonl]],
  * [[TfRecord]], [[graft.multimodal.WebDataset]]): every named-shard
  * sink writes through the one shard writer here ([[writeShards]]), so
  * the sink is deployable on a real cluster, not just `local[*]`.
  *
  * Cluster contract (the r14 verdict's "local-FS-only" gap, closed):
  *  - All paths go through the Hadoop [[FileSystem]] API, so `outDir`
  *    is scheme-portable — `file:/`, `hdfs:/`, or any object-store
  *    connector on the classpath resolves from the SAME writer code.
  *  - Directories are created on the EXECUTOR side (`fs.mkdirs` from
  *    the task), because on a multi-node cluster a driver-side mkdir
  *    only exists on the driver's local disk.
  *  - Each task attempt writes to an attempt-unique hidden temp name
  *    (`.<shard>.<taskAttemptId>.tmp`) and promotes it with a single
  *    rename on commit — rename IS the commit for a single-file shard.
  *    A speculative twin or retried attempt therefore never interleaves
  *    bytes with its sibling: both write private temps, the first
  *    rename wins, and the loser just discards its temp. Because every
  *    shard is bit-reproducible (the export tier's standing contract —
  *    md5 membership, per-shard seq order, mtime-0 gzip/tar headers),
  *    WHICH attempt wins is unobservable in the committed artifact.
  */
object ShardIO {

  /** Minimal serializable carrier for the Hadoop configuration (the
    * task side needs the driver's conf to resolve `hdfs:/`/object-store
    * schemes; [[Configuration]] itself is not [[Serializable]]). Same
    * shape as Spark's internal wrapper, reimplemented here because that
    * one is `private[spark]`. */
  final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Capture the session's Hadoop conf on the driver, for closure
    * capture into the writing tasks. */
  def conf(df: DataFrame): SerializableHadoopConf =
    new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)

  /** One in-flight shard file: `raw` is the temp-file stream (callers
    * may wrap it — gzip, buffering); [[commit]] promotes temp → final. */
  final class ShardStream private[ShardIO] (fs: FileSystem, tmp: Path,
      dst: Path, val raw: OutputStream) {

    /** Close the raw stream (idempotent — callers that wrapped `raw`
      * close the wrapper first, which closes `raw` underneath; a
      * second close of an FS stream is a no-op) and atomically promote
      * the temp file to the final shard name. A close failure is NOT
      * swallowed: a failed flush must fail the task, never promote a
      * truncated temp. Returns the committed file's length in bytes.
      *
      * A rename that fails because `dst` exists means a TWIN ATTEMPT of
      * this same job already committed the shard — [[prepareDir]]
      * cleared the directory before the job, so no stale prior-run file
      * can be squatting there — and the temp is discarded: the bytes
      * are identical by the reproducibility contract. */
    def commit(): Long = {
      raw.close()
      if (!fs.rename(tmp, dst)) {
        if (!fs.exists(dst)) {
          throw new IOException(
            s"shard commit failed: cannot rename $tmp -> $dst")
        }
        fs.delete(tmp, false) // lost the race to a bit-identical twin
      }
      fs.getFileStatus(dst).getLen
    }

    /** Best-effort cleanup for abandon paths — registered as a task
      * failure listener by [[begin]], so a failed/killed attempt does
      * not leak its `.tmp` file into the output directory. */
    def abort(): Unit = {
      try raw.close() catch { case _: IOException => () }
      try fs.delete(tmp, false) catch { case _: IOException => () }
    }
  }

  /** The terminal job-commit marker every export directory gates on:
    * written LAST by [[commitExport]] after all shards commit and
    * verify, so its presence means "this directory is a COMPLETE
    * export" — the `_SUCCESS`-equivalent a training run can trust. One
    * JSON object per line, sorted by file name:
    * `{"file":"shard-...","records":N,"bytes":N}`. */
  val ManifestName = "_MANIFEST.jsonl"

  /** Hidden marker recording which export PLAN last prepared a
    * directory — the idempotence token that lets any action derived
    * from the same `writeShards` frame skip re-preparation (see
    * [[withLazyPrepare]]). Not a `.tmp` (the temp sweep must not eat
    * it) and not `shard-*` (not an artifact). */
  val PrepareMarkerName = ".graft-prepared"

  /** Output-directory preparation — overwrite semantics for the whole
    * export (the `write.mode("overwrite")` contract): delete the job
    * manifest FIRST (the directory must stop claiming completeness
    * before any shard is touched), then any existing files matching the
    * sink's shard naming plus stranded `.tmp` files, create the
    * directory, and record `planToken` in [[PrepareMarkerName]].
    * IDEMPOTENT PER PLAN: when the marker already carries this plan's
    * token, the directory was prepared by an earlier action of the
    * same frame and nothing is touched — re-actions recommit
    * bit-identical twins onto the existing shards, and a manifest a
    * commitExport wrote in between survives. Runs at FIRST EXECUTION
    * of a `writeShards` plan (see [[withLazyPrepare]]) — building a
    * plan that is never acted on touches nothing — so an in-task
    * rename-to-existing can ONLY mean a twin attempt of this plan
    * (bit-identical bytes), never a stale shard from a previous run
    * over different data. CONCURRENT exports (or concurrent first
    * actions of two different frames) against the SAME directory
    * remain unsupported — one plan's prepare would interleave deletes
    * into the other's commits; serialize exports per directory. */
  def prepareDir(hc: SerializableHadoopConf, outDir: String,
      planToken: String): Unit = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(hc.value)
    val marker = new Path(dir, PrepareMarkerName)
    def writeMarker(): Unit = {
      val out = fs.create(marker, true)
      try out.write(planToken.getBytes("UTF-8")) finally out.close()
    }
    if (fs.exists(dir)) {
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val tok = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        if (tok == planToken) return // this plan already prepared it
      }
      val manifest = new Path(dir, ManifestName)
      if (fs.exists(manifest)) fs.delete(manifest, false)
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("shard-") || n.endsWith(".tmp"))
          fs.delete(st.getPath, false)
      }
      writeMarker()
    } else {
      fs.mkdirs(dir)
      writeMarker()
    }
  }

  /** Fresh idempotence token for one `writeShards` call — created by
    * the sink BEFORE it builds the writer closure, so the writing tasks
    * can verify preparation ran ([[requirePrepared]]) and
    * [[withLazyPrepare]] can record it in the marker. */
  def newPlanToken(): String = java.util.UUID.randomUUID().toString

  /** Executor-side defense for [[withLazyPrepare]]'s ordering contract.
    * The lazy-prepare trick rests on a non-contractual Spark behavior
    * (broadcast inputs materialize before the stream-side stage
    * launches); if a future Spark/AQE change ever ran a writer task
    * before the prepare closure, stale shards from a previous run would
    * silently mix with new ones. This check closes that hole from the
    * WRITER side: before a task's first shard write it reads the
    * directory's [[PrepareMarkerName]] and fails loudly unless it
    * carries THIS plan's token — i.e. [[prepareDir]] for this exact
    * `writeShards` call already completed. One open+read RPC per
    * writing task (not per shard, not per row). */
  def requirePrepared(hc: SerializableHadoopConf, outDir: String,
      planToken: String): Unit = {
    val marker = new Path(new Path(outDir), PrepareMarkerName)
    val fs = marker.getFileSystem(hc.value)
    val tok =
      if (!fs.exists(marker)) null
      else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
    if (tok != planToken) throw new IllegalStateException(
      s"export writer started before the output directory $outDir was " +
        s"prepared for this plan (marker token ${Option(tok).getOrElse(
          "<absent>")} != plan token $planToken). The lazy-prepare " +
        "broadcast must materialize before any writer task runs; this " +
        "Spark scheduled the stages in an order that breaks that " +
        "contract, so the directory may still hold a previous export's " +
        "shards. Failing instead of mixing stale and new artifacts.")
  }

  /** Defer [[prepareDir]] from plan-build time to the report frame's
    * FIRST execution: the preparation rides a one-row broadcast side of
    * a nested-loop join, and Spark materializes broadcast inputs before
    * launching the stage that consumes them — so the directory is
    * cleared before any write task runs, and only when a job actually
    * runs. (The r15 form prepared at plan BUILD, so merely constructing
    * a never-executed plan destroyed the previous good artifact.)
    * Every action on the returned frame — including DERIVED plans like
    * `rep.count()` or an aggregation, which build fresh broadcast
    * exchanges — re-runs the closure, but the per-plan token makes
    * re-preparation a no-op: the directory is cleared once per
    * writeShards CALL, later actions recommit bit-identical twins, and
    * a manifest committed in between survives (spec-pinned). Writer
    * tasks independently verify the ordering held via
    * [[requirePrepared]] with the same `planToken`. */
  def withLazyPrepare(report: DataFrame,
      hc: SerializableHadoopConf, outDir: String,
      planToken: String): DataFrame = {
    val spark = report.sparkSession
    val prep = spark.range(1)
      .map { _ => prepareDir(hc, outDir, planToken); 1L }(
        org.apache.spark.sql.Encoders.scalaLong)
      .toDF("__prep")
    report.crossJoin(org.apache.spark.sql.functions.broadcast(prep))
      .drop("__prep")
  }

  /** One line of the committed job manifest. */
  final case class CommittedShard(file: String, records: Long, bytes: Long)

  /** JOB-level atomic export commit — the r15 gap where a job dying
    * after 400 of 1,000 shard commits left a directory
    * indistinguishable from a complete export. Eagerly runs the lazy
    * `writeShards` report job, verifies every reported shard's
    * committed length against the filesystem, and only then writes
    * [[ManifestName]] — the TERMINAL commit. Readers gate on the
    * manifest via [[readCommitted]]: no manifest == the job died
    * mid-export and the shards present are not a trustworthy set.
    * Returns the collected per-shard report rows (schema as the sink's
    * `writeShards` documents: (shard, path, n_records, bytes)). */
  def commitExport(report: DataFrame, outDir: String): Array[org.apache.spark.sql.Row] = {
    val hc = conf(report)
    val rows = report.collect()
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(hc.value)
    val entries = rows.map { r =>
      CommittedShard(new Path(r.getString(1)).getName, r.getLong(2),
        r.getLong(3))
    }.sortBy(_.file)
    require(entries.map(_.file).distinct.length == entries.length,
      "export report lists the same shard file twice — writer bug")
    // ONE listStatus instead of a getFileStatus RPC per shard: a 100k-
    // shard export must not pay 100k serial namenode/HEAD round-trips
    val onDisk = fs.listStatus(dir)
      .map(st => st.getPath.getName -> st.getLen).toMap
    entries.foreach { e =>
      val len = onDisk.getOrElse(e.file, throw new IOException(
        s"export verification failed: ${e.file} is missing from $outDir — " +
          "not committing the manifest"))
      if (len != e.bytes) throw new IOException(
        s"export verification failed: ${e.file} is $len bytes on " +
          s"the filesystem, the writing task reported ${e.bytes} — not " +
          "committing the manifest")
    }
    val ss = begin(hc, new Path(dir, ManifestName).toString)
    val w = new java.io.BufferedOutputStream(ss.raw)
    entries.foreach { e =>
      w.write((s"""{"file":"${e.file}","records":${e.records},""" +
        s""""bytes":${e.bytes}}""" + "\n").getBytes("UTF-8"))
    }
    w.close()
    ss.commit()
    rows
  }

  /** Reader-side completeness gate: parse [[ManifestName]] and verify
    * every listed shard exists at its recorded length. Throws with a
    * precise diagnosis when the export is incomplete (no manifest — the
    * job died before the terminal commit), a shard is missing, or a
    * length mismatches (truncation/tampering after commit). Returns the
    * manifest entries in file order on success. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Seq[CommittedShard] = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new Path(dir, ManifestName)
    if (!fs.exists(mp)) throw new IllegalStateException(
      s"incomplete export at $outDir: no $ManifestName — the job died " +
        "before the terminal manifest commit; shards present are not a " +
        "trustworthy complete set")
    val in = fs.open(mp)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val R = """\{"file":"([^"]+)","records":(\d+),"bytes":(\d+)\}""".r
    val entries = lines.map {
      case R(f, n, b) => CommittedShard(f, n.toLong, b.toLong)
      case l => throw new IllegalStateException(
        s"malformed manifest line in $mp: $l")
    }
    // ONE listStatus for the whole gate (not exists+getFileStatus per
    // shard — 2 RPCs/file is minutes of wall on an object store)
    val onDisk = fs.listStatus(dir)
      .map(st => st.getPath.getName -> st.getLen).toMap
    entries.foreach { e =>
      val len = onDisk.getOrElse(e.file, throw new IllegalStateException(
        s"export at $outDir lists ${e.file} in the manifest but the " +
          "shard is missing"))
      if (len != e.bytes) throw new IllegalStateException(
        s"shard ${e.file} is $len bytes, manifest says ${e.bytes} — " +
          "truncated or modified after commit")
    }
    entries
  }

  /** Open a shard stream whose commit target is `finalPath`. Creates
    * the parent directory (executor-side), names the temp with the
    * Spark task attempt id so concurrent attempts never collide, and
    * registers temp cleanup on task failure. */
  def begin(hc: SerializableHadoopConf, finalPath: String): ShardStream = {
    val dst = new Path(finalPath)
    val fs = dst.getFileSystem(hc.value)
    val parent = dst.getParent
    if (parent != null) fs.mkdirs(parent)
    val tc = TaskContext.get()
    val attempt = Option(tc).map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(parent, s".${dst.getName}.$attempt.tmp")
    val ss = new ShardStream(fs, tmp, dst, fs.create(tmp, true))
    if (tc != null) {
      tc.addTaskFailureListener(
        new org.apache.spark.util.TaskFailureListener {
          override def onTaskFailure(context: TaskContext,
              error: Throwable): Unit = ss.abort()
        })
    }
    ss
  }

  /** Counts the bytes that reach the shard file, under any gzip or
    * buffer stream, so `bytes_written` means the same for every format. */
  private final class CountingStream(raw: OutputStream)
      extends FilterOutputStream(raw) {
    var count = 0L
    override def write(b: Int): Unit = { raw.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      raw.write(b, off, len); count += len
    }
  }

  /** The export tier's one shard writer. Assigns `df`'s rows to
    * `nShards` shards ([[graft.text.TextOps.shardAssign]] on `idCol`),
    * co-locates each shard and sorts it by `seq`, then streams every
    * shard to `outDir/<pattern>` in one pass, where the file name is
    * `String.format(pattern, shard, nShards)` — the same pattern a
    * sink's manifest renders with `format_string`. Each row reaches
    * `encode` as (shard, seq, payload...) and writes one record;
    * `trailer` closes each file and `gzip` wraps it in one gzip member.
    * Returns the per-shard report (shard, path, `countCol`,
    * bytes_written) from the writing tasks, where `bytes_written`
    * counts the bytes passed to the shard file. The write, and the
    * directory preparation before it ([[withLazyPrepare]]), happen
    * when the returned frame is acted on.
    *
    * Scale shape: the seq window's exchange, the repartition on the
    * shard key, then one pass per partition that cuts a new file at
    * each shard change; shards are independent, so write parallelism
    * is min(nShards, cores). */
  private[graft] def writeShards(df: DataFrame, idCol: String,
      payload: Seq[Column], outDir: String, nShards: Int, pattern: String,
      countCol: String, gzip: Boolean = false,
      trailer: Array[Byte] = Array.emptyByteArray)(
      encode: (OutputStream, Row) => Unit): DataFrame = {
    val cols = payload.indices.map(i => s"__p$i")
    val assigned = graft.text.TextOps.shardAssign(
      df.select(col(idCol) +: payload.zip(cols).map { case (c, n) =>
        c.as(n) }: _*), idCol, nShards)
    val rows = assigned.select((Seq("shard", "seq") ++ cols).map(col): _*)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("seq"))
    val schema = StructType(Seq(
      StructField("shard", IntegerType),
      StructField("path", StringType),
      StructField(countCol, LongType),
      StructField("bytes_written", LongType)))
    val hc = conf(df)
    val planToken = newPlanToken()
    val report = rows.mapPartitions { it =>
      // a hash partition may carry several shards: one file per shard,
      // cut at each shard change
      val done = scala.collection.mutable.ArrayBuffer.empty[Row]
      if (it.hasNext) requirePrepared(hc, outDir, planToken)
      var cur = -1
      var path: String = null
      var n = 0L
      var ss: ShardStream = null
      var counted: CountingStream = null
      var out: OutputStream = null
      def close(): Unit = if (out != null) {
        out.write(trailer)
        out.close() // finishes the gzip member before commit
        ss.commit()
        done += Row(cur, path, n, counted.count)
      }
      it.foreach { r =>
        val sh = r.getInt(0)
        if (sh != cur) {
          close()
          cur = sh
          n = 0L
          path = s"$outDir/" +
            String.format(java.util.Locale.US, pattern, Int.box(sh),
              Int.box(nShards))
          ss = begin(hc, path)
          counted = new CountingStream(ss.raw)
          out = new BufferedOutputStream(
            if (gzip) new java.util.zip.GZIPOutputStream(counted) else counted)
        }
        encode(out, r)
        n += 1
      }
      close()
      done.iterator
    }(Encoders.row(schema))
    // overwrite semantics at FIRST EXECUTION (not plan build): a plan
    // that is never acted on touches nothing
    withLazyPrepare(report, hc, outDir, planToken)
  }
}
