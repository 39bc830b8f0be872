package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.multimodal._
import graft.multimodal.Multimodal._

/** The multimodal family over [[graft.multimodal.Multimodal]]: asset
  * metadata, decoded features, sampled frames and perceptual near-dups. */
object Media extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Metadata-only scan: the binary column must be pruned (ReadSchema).
    "q85_mm_metadata" -> ((s, d) => {
      import s.implicits._
      assets(s, d)
        .select($"doc_id", $"meta.kind".as("kind"),
          $"meta.n_bytes".as("n_bytes"), $"meta.width".as("width"),
          $"meta.height".as("height"))
        .orderBy($"doc_id")
    }),

    // Stubbed decode via batched mapPartitions; oracle checks the
    // histogram math through the text view of the same bytes.
    "q86_mm_features" -> ((s, d) => {
      import s.implicits._
      stubDecodeFeatures(assets(s, d)).orderBy($"doc_id")
    }),

    // Frame sampling (video assets only): every 64th byte, max 4 frames.
    "q87_mm_frames" -> ((s, d) => {
      import s.implicits._
      sampleFrames(assets(s, d), 64, 4).orderBy($"doc_id", $"frame_idx")
    }),

    // PERCEPTUAL near-dup for image assets (q37's banded-hamming shape
    // applied to the decoded-feature hash instead of the token hash):
    // 64-bit perceptual SimHash from the decode pass, banded into four
    // 16-bit quarters (the standard pHash shape — 8-bit bands saturate past ~256×MaxBucket images and the capped
    // join silently drops everything; the 16-bit band keyspace holds
    // buckets under the cap at image-corpus scale, pinned by
    // MultimodalSpec's saturation case), capped bucket join (MaxBucket —
    // no degenerate band value can go quadratic), exact hamming <= 3
    // verified on candidates only. With 4 bands and threshold 3 the
    // banding is RECALL-COMPLETE by pigeonhole: <= 3 mismatched bits
    // cannot touch all four bands, so every true pair shares at least
    // one exact band. Scale: the decode pass is embarrassingly
    // parallel; the join is an equi shuffle on (band, bits) over the
    // image subset.
    "q164_mm_perceptual_neardup" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.storage.StorageLevel
      val images = assets(s, d).filter($"meta.kind" === "image")
      // NARROW CARRY: the decode pass emits the hash as a
      // 64-char bit string (the human-auditable form the spec and the
      // DuckDB mirror share); everything that shuffles carries it
      // PACKED — one long (two overflow-free 32-bit conv halves ORed
      // together; shiftLeft is bitwise, so the high bit wrapping to the
      // sign is fine) and an int per 16-bit band key — so the
      // banded/candidate exchanges move ~16 bytes/row instead of
      // ~140 (64-char hash + 16-char band strings), and the hamming is
      // one codegen'd bit_count(XOR) instead of 64 substring branches.
      val banded = stubPerceptualHash(images)
        .select($"doc_id",
          shiftleft(conv(substring($"phash", 1, 32), 2, 10).cast("long"),
            32).bitwiseOR(
              conv(substring($"phash", 33, 32), 2, 10).cast("long"))
            .as("ph"),
          posexplode(array((0 until 4).map(b =>
            conv(substring($"phash", b * 16 + 1, 16), 2, 10).cast("int")):
            _*)).as(Seq("band", "bits")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ok = banded.groupBy($"band", $"bits")
        .agg(count(lit(1)).as("bsz"))
        .filter($"bsz" <= graft.dedup.Dedup.MaxBucket)
        .select($"band", $"bits")
      val capped = banded.join(ok, Seq("band", "bits"))
      val cand = capped.as("a").join(capped.as("b"),
          $"a.band" === $"b.band" && $"a.bits" === $"b.bits" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          $"a.ph".as("pa"), $"b.ph".as("pb"))
        .distinct()
      val out = cand
        .withColumn("hamming",
          bit_count($"pa".bitwiseXOR($"pb")).cast("int"))
        .filter($"hamming" <= 3)
        .select($"d1", $"d2", $"hamming")
        .orderBy($"d1", $"d2")
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize, then release the banded signatures
      banded.unpersist(blocking = false)
      out
    })
  )

  def oracles: Map[String, String] = Map(
    "q85_mm_metadata" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           n_chars % 640 + 1 AS width,
           n_chars % 480 + 1 AS height
         FROM documents ORDER BY doc_id""",
    // ASCII corpus: byte histogram == character-code histogram.
    "q86_mm_features" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(len(list_filter(codes, c -> c % 4 = 0)) AS BIGINT) AS f0,
           CAST(len(list_filter(codes, c -> c % 4 = 1)) AS BIGINT) AS f1,
           CAST(len(list_filter(codes, c -> c % 4 = 2)) AS BIGINT) AS f2,
           CAST(len(list_filter(codes, c -> c % 4 = 3)) AS BIGINT) AS f3
         FROM (SELECT doc_id,
                 list_transform(range(length(text)),
                   i -> ascii(text[CAST(i + 1 AS INTEGER)])) AS codes
               FROM documents) t
         ORDER BY doc_id""",
    // ASCII corpus: the byte histogram the stub "decodes" equals the
    // character-code histogram, so the full perceptual pipeline —
    // hist → weighted-majority 64-bit SimHash (bit p's sign digit is
    // hex position (p-1)%32+1 of md5('«b»#«(p-1)/32»'), the stub's
    // convention) → 4×16-bit banded candidates → exact hamming — is
    // reproduced in SQL.
    "q164_mm_perceptual_neardup" ->
      s"""WITH codes AS (
           SELECT doc_id, list_transform(range(length(text)),
             i -> ascii(text[CAST(i + 1 AS INTEGER)])) AS cs
           FROM documents WHERE doc_id % 3 = 0),
         ph AS (
           SELECT doc_id,
             list_aggregate(list_transform(range(1, 65), p ->
               CASE WHEN list_sum(list_transform(range(0, 16), b ->
                 (16 * CAST(len(list_filter(cs, c -> c % 16 = b)) AS BIGINT)
                  - CAST(len(cs) AS BIGINT)) *
                 (CASE WHEN substring(
                         md5(CAST(b AS VARCHAR) || '#' ||
                             CAST((p - 1) // 32 AS VARCHAR)),
                         CAST(((p - 1) % 32) + 1 AS INTEGER), 1) >= '8'
                       THEN 1 ELSE -1 END))) > 0
               THEN '1' ELSE '0' END), 'string_agg', '') AS sh
           FROM codes),
         banded AS (
           SELECT doc_id, sh, b,
             substring(sh, CAST(b * 16 + 1 AS INTEGER), 16) AS bits
           FROM (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS b FROM ph) t),
         ok AS (SELECT b, bits FROM banded
                GROUP BY b, bits HAVING count(*) <= ${graft.dedup.Dedup.MaxBucket}),
         capped AS (SELECT bd.doc_id, bd.sh, bd.b, bd.bits
                    FROM banded bd JOIN ok USING (b, bits)),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
                           a.sh AS sa, b2.sh AS sb
           FROM capped a JOIN capped b2
             ON a.b = b2.b AND a.bits = b2.bits AND a.doc_id < b2.doc_id),
         h AS (
           SELECT d1, d2,
             CAST(list_sum(list_transform(range(1, 65), p ->
               CASE WHEN substring(sa, p, 1) = substring(sb, p, 1)
                    THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
           FROM cand)
         SELECT d1, d2, hamming FROM h WHERE hamming <= 3 ORDER BY d1, d2""",
    "q87_mm_frames" ->
      """SELECT doc_id, frame_idx,
           CAST(ascii(text[CAST(frame_idx * 64 + 1 AS INTEGER)]) AS BIGINT) AS frame_byte
         FROM (SELECT doc_id, text,
                 unnest(range(least((length(text) - 1) // 64 + 1, 4))) AS frame_idx
               FROM documents
               WHERE doc_id % 3 = 2 AND length(text) > 0) t
         ORDER BY doc_id, frame_idx"""
  )
}
