package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing (BASELINE north star: "image/audio/video as
  * opaque binary columns with typed metadata"). The container ships no
  * image/audio codecs, so the DECODE step is a clearly-marked
  * deterministic stub ([[stubDecodeFeatures]]) — what is real, and
  * tested, is everything Spark-side: the binary column + metadata schema,
  * the batched `mapPartitions` operator shape (the JVM twin of a Pandas
  * `mapInPandas` batch), partition preservation, and the feature/frame
  * schemas downstream operators consume.
  *
  * The binary payload is the document's UTF-8 text bytes — deterministic,
  * fixture-derived, and (the corpus being ASCII) byte-equal to what
  * DuckDB sees as characters, so even the stubbed feature math is
  * oracle-gated instead of merely smoke-tested.
  *
  * Scale notes: payloads stay opaque until the one `mapPartitions` pass;
  * metadata-only queries prune the binary column at the scan (columnar
  * parquet — verified via ReadSchema). Feature extraction is
  * embarrassingly parallel, no shuffle; repartition count is the only
  * knob at 100 TB.
  */
object Multimodal {

  /** Documents as a multimodal asset table: opaque `payload` binary +
    * typed metadata struct (media kind, byte length, fake WxH derived
    * from the length — stands in for a real container-header parse).
    */
  def assets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id",
      encode($"text", "UTF-8").as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          ($"doc_id" % 3 + 1).cast("int")).as("kind"),
        octet_length(encode($"text", "UTF-8")).as("n_bytes"),
        ($"n_chars" % 640 + 1).cast("long").as("width"),
        ($"n_chars" % 480 + 1).cast("long").as("height")).as("meta"))
  }

  private val FeatureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("kind", StringType),
    StructField("f0", LongType), StructField("f1", LongType),
    StructField("f2", LongType), StructField("f3", LongType)))

  /** STUB DECODE — stands in for image/audio decoding (no codecs in this
    * container): features are a 4-bucket byte histogram (byte % 4) of the
    * payload. Deterministic; replace with a real decoder without touching
    * the operator shape. Runs as one batched `mapPartitions` pass so a
    * real decoder amortizes model/codec init per partition, exactly like
    * a Pandas-UDF batch.
    */
  def stubDecodeFeatures(assets: DataFrame): DataFrame = {
    val s = assets.sparkSession
    val rdd = assets.select(col("doc_id"), col("payload"), col("meta.kind"))
      .rdd.mapPartitions { it =>
        // per-partition init would go here (codec / model handle)
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val kind = r.getString(2)
          val hist = new Array[Long](4)
          var i = 0
          while (i < payload.length) {
            hist((payload(i) & 0xff) % 4) += 1L
            i += 1
          }
          Row(id, kind, hist(0), hist(1), hist(2), hist(3))
        }
      }
    s.createDataFrame(rdd, FeatureSchema)
  }

  /** Per-bit ±1 sign table for the 64-BIT 16-bucket perceptual SimHash
    * (64 bits, so each band is 16 bits wide: an 8-bit band
    * keyspace saturates past ~256×MaxBucket images, silently dropping
    * ALL candidates; 16-bit bands hold bucket sizes under the cap at
    * image-corpus scale, pinned by `MultimodalSpec`). Bucket `b`'s
    * contribution to bit `p` (0-based, 0..63) is +1 iff hex digit
    * `(p % 32) + 1` of md5("«b»#«p / 32»") is >= '8' — one md5 per
    * (bucket, 32-bit chunk), the same md5-digit convention as the text
    * SimHash ([[graft.functions.TextHashes.simhash16]]), so the q164
    * DuckDB oracle reproduces it with its own md5.
    */
  private lazy val PhashSigns: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { b =>
      (0 until 64).map { p =>
        val hex = md.digest(s"$b#${p / 32}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex(p % 32) >= '8') 1 else -1
      }.toArray
    }.toArray
  }

  /** STUB DECODE → PERCEPTUAL HASH, one batched pass (the dedup ×
    * multimodal composition): a 16-bucket byte
    * histogram of the payload (the finer-grained sibling of
    * [[stubDecodeFeatures]]'s 4 buckets — stands in for decoded image
    * features) is folded into a 64-bit SimHash *inside* the same
    * `mapPartitions` batch, exactly where a real pipeline computes
    * pHash/aHash during decode: bit p = sign of the MEAN-CENTERED
    * histogram-weighted ±1 vote over [[PhashSigns]] — each bucket
    * contributes `16·hist(b) − N` (its count minus the uniform mean,
    * integer-scaled), the aHash "above the mean" convention. Centering
    * matters for banding entropy, not just fidelity: Σhist is fixed at
    * N, so an UNcentered vote has expectation `(N/16)·Σ_b sign(b,p)` —
    * every unbalanced hyperplane yields a near-constant bit, band
    * values concentrate, and the capped join saturates orders of
    * magnitude below the keyspace (measured in `MultimodalSpec`: the
    * centered 16-bit bands spread 30k random payloads across ~45k
    * buckets where the uncentered vote packed them into ~3k). 64 bits /
    * 4×16-bit bands is the standard pHash shape. Deterministic;
    * swapping in a real decoder + DCT changes only the loop body, never
    * the operator shape, schema, or the downstream banded join.
    */
  def stubPerceptualHash(assets: DataFrame): DataFrame = {
    val s = assets.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("phash", StringType)))
    val signs = PhashSigns // driver-computed constant, ships in the closure
    val rdd = assets.select(col("doc_id"), col("payload"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val hist = new Array[Long](16)
          var i = 0
          while (i < payload.length) {
            hist((payload(i) & 0xff) % 16) += 1L
            i += 1
          }
          val n = payload.length.toLong
          val bits = new StringBuilder(64)
          var p = 0
          while (p < 64) {
            var acc = 0L
            var b = 0
            while (b < 16) {
              acc += (16L * hist(b) - n) * signs(b)(p)
              b += 1
            }
            bits.append(if (acc > 0) '1' else '0')
            p += 1
          }
          Row(id, bits.toString)
        }
      }
    s.createDataFrame(rdd, schema)
  }

  /** Frame sampling for "video" payloads: every `stride`-th byte is a
    * "frame", emitted as (doc_id, frame_idx, frame_byte) — the Spark
    * shape of video frame extraction (explode of a per-asset sample), as
    * a codegen'd Column pipeline, no UDF.
    */
  def sampleFrames(assets: DataFrame, stride: Int, maxFrames: Int): DataFrame = {
    assets
      .filter(col("meta.kind") === "video" && col("meta.n_bytes") > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), least(
            floor((col("meta.n_bytes") - 1) / stride),
            lit(maxFrames - 1L))),
          j => getbit_byte(col("payload"), j * stride)))
          .as(Seq("frame_idx", "frame_byte")))
  }

  /** byte at 0-based position `pos` of a binary column, as BIGINT
    * (ASCII payloads: byte value == decoded char code).
    */
  private def getbit_byte(payload: org.apache.spark.sql.Column,
                          pos: org.apache.spark.sql.Column) =
    ascii(decode(substr(payload, pos.cast("int") + 1, lit(1)), "UTF-8")).cast("long")
}
