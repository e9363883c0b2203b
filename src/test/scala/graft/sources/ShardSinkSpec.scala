package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The export tier's shared shard writer: file and member names that
  * never truncate, one name per file between manifest and writer, and
  * a fail-closed NULL record. */
class ShardSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TFRecord manifest names the writer's file at nShards = 100000 " +
      "(the shard count is never cut to five digits)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val files = TfRecord.manifest(df, "doc_id", "text", 100000).collect()
      .map(r => (r.getInt(1), r.getString(3)))
    assert(files.length == 3)
    files.foreach { case (sh, f) =>
      assert(f == f"shard-$sh%05d-of-100000.tfrecord", s"shard $sh -> $f")
    }
  }

  test("WebDataset keys of 10-digit ids stay distinct in the manifest " +
      "and in the tar") {
    import spark.implicits._
    val media = Seq((1234567890L, Array[Byte](1), "one"),
        (1234567891L, Array[Byte](2), "two"), (7L, Array[Byte](3), "x"))
      .toDF("doc_id", "payload", "caption")
    val keys = graft.multimodal.WebDataset
      .manifest(media, "doc_id", "payload", "caption", 1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(keys == Map(1234567890L -> "1234567890",
      1234567891L -> "1234567891", 7L -> "000000007"))
    val out = Files.createTempDirectory("shardsink_keys").toString
    val rep = graft.multimodal.WebDataset.writeShards(
      media, "doc_id", "payload", "caption", out, 1).collect()
    val names = graft.multimodal.WebDataset.readTar(rep.head.getString(1))
      .map(_._1)
    assert(names.toSet == Set("1234567890.bmp", "1234567890.txt",
      "1234567891.bmp", "1234567891.txt", "000000007.bmp", "000000007.txt"))
  }

  test("a NULL TFRecord value fails the export closed: the error names " +
      "the column, shard and seq, and no temp or manifest remains") {
    import spark.implicits._
    val good = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val out = Files.createTempDirectory("shardsink_null").toString
    TfRecord.export(good, "doc_id", "text", out, 1)
    assert(ShardIO.readCommitted(spark, out).length == 1)
    val bad = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val seq = TfRecord.manifest(bad, "doc_id", "text", 1)
      .filter(col("doc_id") === 2L).head().getLong(2)
    val e = intercept[Exception] {
      TfRecord.export(bad, "doc_id", "text", out, 1)
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => s"${x.getClass.getName}: ${x.getMessage}")
      .mkString(" | ")
    assert(msg.contains("IllegalArgumentException") &&
      msg.contains("`text`") && msg.contains(s"shard 0 seq $seq"), msg)
    val left = Files.list(Paths.get(out)).toArray.map(_.toString)
    assert(!left.exists(_.contains(".tmp")), s"temps remain: ${left.toSeq}")
    assert(!left.exists(_.endsWith(ShardIO.ManifestName)),
      s"the failed export must not leave a manifest: ${left.toSeq}")
  }
}
