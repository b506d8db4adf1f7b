package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{ZstdDecode, ZstdDictTrain, ZstdEncode}

/** Compression-throughput artifact (round 14): the zstd encoder's MB/s
  * and ratio over the
  * REAL documents corpus, per literal mode and dictionary setting,
  * single-thread kernel numbers (the per-core cost a 1000-executor
  * export pays). Emits ONE JSON line; committed as
  * `bench/encode_throughput.json`. */
object EncodeThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    val texts = docs.collect().map(r =>
      Option(r.getString(1)).getOrElse("").getBytes("UTF-8"))
    val dict = ZstdDictTrain.trainRawDict(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text",
      gram = 16, k = 256, maxBytes = 2048)
    val inBytes = texts.map(_.length.toLong).sum
    def run(prefix: Array[Byte]): (Double, Long) = {
      // warm once, then best-of-3 timed passes
      texts.foreach(t => ZstdEncode.compress(t, prefix))
      var best = Double.MaxValue
      var out = 0L
      (0 until 3).foreach { _ =>
        val t0 = System.nanoTime()
        out = texts.map(t =>
          ZstdEncode.compress(t, prefix).length.toLong).sum
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }
    val (plainSec, plainOut) = run(Array.emptyByteArray)
    val (dictSec, dictOut) = run(dict)
    // decode-side sanity + throughput on the same corpus
    val encoded = texts.map(t => ZstdEncode.compress(t))
    var decSec = Double.MaxValue
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      val n = encoded.map(e => ZstdDecode.decompress(e).get.length).sum
      require(n == inBytes, "decode mismatch")
      decSec = math.min(decSec, (System.nanoTime() - t0) / 1e9)
    }
    def mbps(sec: Double): Double =
      math.round(inBytes / 1048576.0 / sec * 10) / 10.0
    def ratio(out: Long): Double =
      math.round(out.toDouble / inBytes * 10000) / 10000.0
    println(
      s"""{"metric":"encode_throughput","sf_dir":"$sfDir",""" +
      s""""docs":${texts.length},"input_mb":${
        math.round(inBytes / 1048576.0 * 10) / 10.0},""" +
      s""""plain_mb_per_sec":${mbps(plainSec)},""" +
      s""""plain_ratio":${ratio(plainOut)},""" +
      s""""dict_mb_per_sec":${mbps(dictSec)},""" +
      s""""dict_ratio":${ratio(dictOut)},""" +
      s""""dict_bytes":${dict.length},""" +
      s""""decode_mb_per_sec":${mbps(decSec)},"reps":3,""" +
      s""""note":"single-thread kernel numbers; per-record frames"}""")
    spark.stop()
  }
}
