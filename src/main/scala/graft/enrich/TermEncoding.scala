package graft.enrich

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** The pluggable batched term encoder — the reference's
  * `model.encode(all_values_list, batch_size=64)` step of keyword merging
  * (`keyword_merger.py:183`: distinct attribute values → SentenceTransformer
  * embeddings → DBSCAN), re-expressed as a distributed operator with the
  * model behind a trait, mirroring the L3 classifier / corrector plug
  * pattern (SURVEY §7.5 risk 5). A real encoder (an ONNX session, a
  * service client) loads per executor task and sees batches of at most
  * `batchSize` terms — exactly the contract `model.encode` gives the
  * reference. The deterministic stub keeps the engine hermetic AND
  * oracle-expressible: its md5-chunk arithmetic is reproduced in DuckDB
  * SQL, so the whole encode pipeline is hash-gated (q127), not just
  * row-counted.
  *
  * Scale shape: embarrassingly parallel — no shuffle, no state; the only
  * contract that matters at 100 TB is batching (amortizes model-call
  * overhead) and batch-boundary INVARIANCE (a row's vector must not
  * depend on which batch or partition it landed in — pinned by
  * `TermEncodingSpec`), which is what makes the operator safe to run
  * after any repartition.
  */
object TermEncoding {

  /** The encoder contract: one vector per input term, in input order.
    * Implementations are called once per ≤`batchSize` batch from executor
    * tasks; they must be deterministic per term for the pipeline to be
    * partitioning-independent.
    */
  trait TermEncoder extends Serializable {
    def dim: Int
    def encode(batch: Seq[String]): Seq[Array[Float]]
  }

  /** Deterministic hermetic stand-in: dimension i of `encode(t)` is the
    * i-th 4-hex-digit chunk of md5(t), centered and scaled to [-1, 1) —
    * every value is a dyadic rational k/2^15, exactly representable in
    * float32 AND in the oracle's float64 arithmetic, so the DuckDB mirror
    * reproduces it bit-for-bit.
    */
  object StubTermEncoder extends TermEncoder {
    val dim = 8
    def encode(batch: Seq[String]): Seq[Array[Float]] = batch.map { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      Array.tabulate(dim) { i =>
        val chunk = Integer.parseInt(hex.substring(i * 4, i * 4 + 4), 16)
        (chunk - 32768) / 32768.0f
      }
    }
  }

  /** [[StubTermEncoder]] behind the reference's P10 paren-gloss strip
    * (`TopicTocsv.py:60`): trivial formatting variants of one term — a
    * parenthetical gloss — encode IDENTICALLY, the property a real
    * sentence encoder provides approximately, made exact. Arithmetic is
    * bit-identical to [[graft.resolve.EntityResolution.termEmbedding]]'s
    * Column form, which is what lets the encoded ER lifecycle (q128)
    * share q104's oracle mirror.
    */
  object GlossStripEncoder extends TermEncoder {
    val dim: Int = StubTermEncoder.dim
    def encode(batch: Seq[String]): Seq[Array[Float]] =
      StubTermEncoder.encode(
        batch.map(t => t.replaceAll("\\s*\\(.*?\\)", "").trim))
  }

  /** Append an `embedding` array<float> column by running the encoder
    * over `termCol` in batches of at most `batchSize` per call (the
    * reference's batch_size=64). All other columns pass through. Loud
    * contract: an encoder returning the wrong count or dimension throws
    * rather than silently misaligning rows with vectors.
    */
  def encodeTerms(df: DataFrame, termCol: String, enc: TermEncoder,
                  batchSize: Int = 64): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val outSchema = df.schema
      .add("embedding", ArrayType(FloatType, containsNull = false))
    val idx = df.schema.fieldIndex(termCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { chunk =>
        val vecs = enc.encode(chunk.map(_.getString(idx)))
        require(vecs.length == chunk.length,
          s"encoder returned ${vecs.length} vectors for ${chunk.length} terms")
        require(vecs.forall(_.length == enc.dim),
          s"encoder returned a vector of dimension != ${enc.dim}")
        chunk.iterator.zip(vecs.iterator)
          .map { case (r, v) => Row.fromSeq(r.toSeq :+ v.toSeq) }
      }
    }(Encoders.row(outSchema))
  }
}
