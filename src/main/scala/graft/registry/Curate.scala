package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import OracleSql._

/** Training-corpus curation operators beyond filtering/dedup — the two
  * standard steps between "clean corpus" and "training batches" that the
  * north-star mandate's pipeline needs and no reference stage covers:
  *
  *  - q125 benchmark DECONTAMINATION: drop (flag) training documents that
  *    share any 3-word shingle with a held-out evaluation set — the
  *    n-gram-collision rule used for public-benchmark decontamination.
  *    The eval set here is the deterministic `doc_id % 100 = 0` slice
  *    (a fixture stand-in for "the benchmark corpus"; the operator only
  *    assumes SOME distinguished subset).
  *  - q126 sequence PACKING: assign documents to fixed-token-budget
  *    training sequences by cumulative token count, deterministically,
  *    within hash shards — the pack-per-shard layout that parallelizes
  *    (a GLOBAL greedy pack is a single-partition window by definition;
  *    sharding is how real pipelines make packing embarrassingly
  *    parallel at the cost of at most one under-filled tail sequence
  *    per shard).
  *
  * Scale shapes: q125's shingle frame is the same linear token fan-out
  * as the LSH/simhash family; the eval-side shingle set is ~1% of the
  * corpus and explicitly `broadcast()` (an anti-join against a broadcast
  * set — no shuffle of the training side). q126 shuffles once on the
  * shard key; each shard's window is an independent linear scan, and the
  * shard count is the parallelism knob (32 here ≡ local core count; at
  * 100 TB pick shards ≈ cores so each packs ~corpus/shards tokens).
  */
object Curate extends Family {

  private val EvalMod = 100L   // doc_id % EvalMod == 0 → held-out eval doc
  private val Budget = 512L    // tokens per packed training sequence
  private val Shards = 32L     // pack-parallelism (≡ local core count)

  // Deterministic-sampling constants (q130–q132). The "hash" is Knuth's
  // multiplicative constant mod 2^32 in plain BIGINT arithmetic — chosen
  // over Spark's murmur3 `hash()` precisely because the SAME expression
  // runs in the DuckDB oracle, and over `sample()`/TABLESAMPLE because
  // those are partition-layout-dependent: a task retry or an AQE
  // coalesce changes which rows survive, which is disqualifying for a
  // training corpus that must be re-materializable bit-for-bit.
  // doc_id < 2^32 everywhere we run (sf10 bench tops out ~10^9), so the
  // product stays < 2^63 — no overflow, and no engine-specific wrap.
  private val HashMul = 2654435761L  // Knuth multiplicative hash, mod 2^32
  private val HashMod = 4294967296L
  private val SampleDen = 10L        // q130 keeps (h >> 22) % 10 == 0 → ~10%
  private val StratDen = 5L          // q131 keeps ceil(n/5) per stratum → 20%
  private val MixBase = 800L         // q132 token budget per weight unit

  // q144 redaction patterns — deliberately restricted to the syntax
  // subset Java regex (Spark) and RE2 (DuckDB) interpret identically:
  // literal classes, bounded repeats, \b word boundaries. No lookarounds
  // (RE2 lacks them), no engine-specific escapes.
  private val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhonePat = """\b1[3-9][0-9]{9}\b"""
  // q149: GB 11643 resident-ID SHAPE (17 digits + digit-or-X check char).
  // The regex finds ID-LIKE candidates; the checksum (weights 2^(18-i)
  // mod 11, check char table indexed by the weighted sum mod 11) then
  // separates real resident IDs from arbitrary 18-digit runs — a
  // checksum is not regular, so the validation runs as an array
  // expression over the extracted candidates, not in the pattern.
  private val CnIdPat = """\b[1-9][0-9]{16}[0-9X]\b"""
  private val CnIdWeights = Seq(7, 9, 10, 5, 8, 4, 2, 1, 6, 3, 7, 9, 10, 5, 8, 4, 2)
  private val CnIdCheckChars = "10X98765432" // indexed by weighted-sum % 11

  /** Distinct 3-word shingles per document, exploded. */
  private def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", explode(array_distinct(
        when(size($"t") >= 3, expr(
          """transform(sequence(1, size(t) - 2),
             j -> concat(element_at(t, j), ' ',
                         element_at(t, j + 1), ' ',
                         element_at(t, j + 2)))"""))
          .otherwise(array()))).as("shingle"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One row per TRAINING doc: how many of its distinct 3-gram shingles
    // collide with the eval slice, and the keep/drop decision.
    "q125_decontaminate" -> ((s, d) => {
      import s.implicits._
      val sh = shingles(s, d)
      val evalShingles = sh.filter($"doc_id" % EvalMod === 0)
        .select($"shingle").distinct()
      val hits = sh.filter($"doc_id" % EvalMod =!= 0)
        .join(broadcast(evalShingles), "shingle")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      Tables.documents(s, d).filter($"doc_id" % EvalMod =!= 0)
        .select($"doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          when($"n_hits".isNull, 1L).otherwise(0L).as("keep"))
        .orderBy($"doc_id")
    }),

    // Deterministic first-fit-in-id-order packing: a doc belongs to the
    // sequence its START offset falls in (long docs span onward; the
    // assignment stays well-defined and order-independent of execution).
    "q126_pack_sequences" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select($"doc_id", ($"doc_id" % Shards).as("shard"),
          size(split($"text", " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"shard", $"n_tokens",
          expr(s"CAST((cum - n_tokens) DIV $Budget AS BIGINT)").as("seq_id"))
        .orderBy($"doc_id")
    }),

    // Reproducible 10% Bernoulli sample: keep doc iff
    // ((doc_id * HashMul mod 2^32) >> 22) mod 10 == 0. A pure narrow
    // map+filter — no shuffle, no RNG state, independent of partition
    // layout, so the same corpus always yields the same sample on any
    // cluster size. The keep decision reads the HIGH bits of the product:
    // multiplicative hashing only mixes upward (bit i of h depends on
    // input bits <= i), so the LOW bits are unmixed — in particular
    // h ≡ doc_id (mod 2) exactly, and a `h % 10` rule would admit only
    // even ids, 2x-misweighting any property correlated with id parity.
    // Shifting down to the top 10 bits before the mod uses the fully
    // mixed part of the hash (Knuth's prescription for multiplicative
    // hashing), at the cost of a keep rate of ceil-rounding on 1024
    // buckets rather than exactly 1/10 — irrelevant for sampling.
    "q130_hash_sample" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("h", ($"doc_id" * HashMul) % HashMod)
        .filter(shiftright($"h", 22) % SampleDen === 0)
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
        .orderBy($"doc_id")
    }),

    // Stratified sample with EXACT per-stratum counts: within each
    // `source`, rank docs by the q130 hash (doc_id tiebreak) and keep the
    // first ceil(n_s/5) — 20% per stratum to the document, not in
    // expectation. One shuffle on the stratum key; each stratum's window
    // is an independent linear scan (same shape as q126's packing).
    "q131_stratified_sample" -> ((s, d) => {
      import s.implicits._
      val byStratum = Window.partitionBy($"source")
      val w = byStratum.orderBy($"h", $"doc_id")
      Tables.documents(s, d)
        .withColumn("h", ($"doc_id" * HashMul) % HashMod)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(byStratum))
        .filter($"rn" * StratDen <= $"cnt" + (StratDen - 1L))
        .select($"doc_id", $"source", $"rn")
        .orderBy($"doc_id")
    }),

    // PII scrubbing — the redaction pass every training corpus runs
    // before anything else sees the text: emails → <EMAIL>, CN-mobile
    // numbers → <PHONE>, with per-doc match counts and an md5 of the
    // scrubbed text (the hash gates the REPLACEMENT bytes exactly, not
    // just the counts). The fixture text contains no PII, so the query
    // deterministically INJECTS it first (doc_id % 7 → an email,
    // doc_id % 11 → a phone) — the injection is part of the query
    // definition and mirrored in the oracle, so the regex machinery is
    // actually exercised on every 7th/11th document rather than
    // trivially matching nothing. Patterns stay in the Java∩RE2 common
    // dialect (character classes, bounded repeats, \b) so Spark and
    // DuckDB agree byte-for-byte. Shape: pure per-row map — no shuffle
    // but the presentation sort; at 100 TB this is a narrow codegen'd
    // scan, the cheapest possible operator class.
    "q144_pii_scrub" -> ((s, d) => {
      import s.implicits._
      val t = concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when($"doc_id" % 11 === 0, lit(" call 13812345678 ok"))
          .otherwise(lit("")))
      val scrub = regexp_replace(
        regexp_replace(t, EmailPat, "<EMAIL>"), PhonePat, "<PHONE>")
      Tables.documents(s, d)
        .select($"doc_id",
          regexp_count(t, lit(EmailPat)).cast("long").as("n_emails"),
          regexp_count(t, lit(PhonePat)).cast("long").as("n_phones"),
          md5(scrub).as("scrub_md5"))
        .orderBy($"doc_id")
    }),

    // PII breadth: CN resident-ID handling on top of
    // q144's email/mobile pass. The SCRUB redacts every ID-like
    // 18-char run (`<IDNUM>`) — the safe production default: an
    // id-shaped number is removed whether or not its checksum verifies
    // — while the CHECKSUM machinery is gated through `n_cnid_valid`
    // (count of candidates whose GB 11643 check char verifies). The
    // deterministic injection plants a checksum-VALID id on every 13th
    // doc and a checksum-INVALID id-like run on every 17th, so both
    // branches of the validator are exercised and the md5 gate pins the
    // replacement bytes of the full email→phone→id chain. Same
    // Java∩RE2 dialect; the checksum is array arithmetic (aggregate /
    // list_sum over 17 positions), identical on both engines. Shape:
    // narrow per-row map, zero shuffle beyond the presentation sort.
    "q149_pii_scrub_ids" -> ((s, d) => {
      import s.implicits._
      val t = concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when($"doc_id" % 11 === 0, lit(" call 13812345678 ok"))
          .otherwise(lit("")),
        when($"doc_id" % 13 === 0, lit(" id 11010519491231002X ok"))
          .otherwise(lit("")),
        when($"doc_id" % 17 === 0, lit(" id 110105194912310021 no"))
          .otherwise(lit("")))
      val cands = regexp_extract_all(t, lit(CnIdPat), lit(0))
      val weights = array(CnIdWeights.map(lit(_)): _*)
      val valid = (c: Column) => {
        val sum = aggregate(sequence(lit(1), lit(17)), lit(0L),
          (acc, i) => acc +
            ((ascii(c.substr(i, lit(1))) - lit(48)) *
              element_at(weights, i)).cast("long"))
        c.substr(lit(18), lit(1)) ===
          lit(CnIdCheckChars).substr((sum % 11).cast("int") + 1, lit(1))
      }
      val scrub = regexp_replace(regexp_replace(regexp_replace(t,
        EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"), CnIdPat, "<IDNUM>")
      Tables.documents(s, d)
        .select($"doc_id",
          size(cands).cast("long").as("n_id_like"),
          size(filter(cands, valid)).cast("long").as("n_cnid_valid"),
          md5(scrub).as("scrub_md5"))
        .orderBy($"doc_id")
    }),

    // Domain mixing to a per-domain token budget: each source gets
    // weight w (src0=4, src1=2, rest 1) and a budget of w*MixBase
    // tokens; docs are admitted in hash order (the q130 hash — an
    // unbiased, reproducible shuffle of each domain) until the budget is
    // hit, with q126's start-offset rule (a doc is in iff its cumulative
    // START is under budget) so admission is order-of-evaluation-free.
    // This is the up/down-sampling step that turns "weights per domain"
    // into a concrete training corpus.
    "q132_domain_mix" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("h", ($"doc_id" * HashMul) % HashMod)
        .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
        .withColumn("budget",
          when($"source" === "src0", 4L * MixBase)
            .when($"source" === "src1", 2L * MixBase)
            .otherwise(MixBase))
        .withColumn("cum", sum($"n_tokens").over(w))
        .filter($"cum" - $"n_tokens" < $"budget")
        .select($"doc_id", $"source", $"n_tokens",
          ($"cum" - $"n_tokens").as("start_offset"))
        .orderBy($"doc_id")
    })
  )

  def oracles: Map[String, String] = Map(
    "q125_decontaminate" ->
      s"""WITH $shingleSql,
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $EvalMod = 0),
         hits AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                  FROM sh s JOIN bench b USING (shingle)
                  WHERE s.doc_id % $EvalMod <> 0 GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                CAST(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % $EvalMod <> 0 ORDER BY doc_id""",
    "q126_pack_sequences" ->
      s"""WITH x AS (
           SELECT doc_id, doc_id % $Shards AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM x)
         SELECT doc_id, shard, n_tokens,
                CAST((cum - n_tokens) // $Budget AS BIGINT) AS seq_id
         FROM c ORDER BY doc_id""",
    "q130_hash_sample" ->
      s"""SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         FROM documents
         WHERE (((doc_id * $HashMul) % $HashMod) // 4194304) % $SampleDen = 0
         ORDER BY doc_id""",
    "q131_stratified_sample" ->
      s"""WITH x AS (
           SELECT doc_id, source,
                  (doc_id * $HashMul) % $HashMod AS h
           FROM documents),
         r AS (
           SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source
                         ORDER BY h, doc_id) AS BIGINT) AS rn,
                  count(*) OVER (PARTITION BY source) AS cnt
           FROM x)
         SELECT doc_id, source, rn FROM r
         WHERE rn * $StratDen <= cnt + ${StratDen - 1}
         ORDER BY doc_id""",
    "q144_pii_scrub" ->
      s"""WITH x AS (
           SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' call 13812345678 ok' ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$EmailPat')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '$PhonePat')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '$EmailPat', '<EMAIL>', 'g'),
                              '$PhonePat', '<PHONE>', 'g')) AS scrub_md5
         FROM x ORDER BY doc_id""",
    "q149_pii_scrub_ids" ->
      s"""WITH x AS (
           SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' call 13812345678 ok' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN ' id 11010519491231002X ok' ELSE '' END
             || CASE WHEN doc_id % 17 = 0
                  THEN ' id 110105194912310021 no' ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$CnIdPat')) AS BIGINT)
             AS n_id_like,
           CAST(len(list_filter(regexp_extract_all(t, '$CnIdPat'), c ->
             substring(c, 18, 1) = substring('$CnIdCheckChars',
               CAST(list_sum(list_transform(range(1, 18), i ->
                 (ascii(substring(c, CAST(i AS INT), 1)) - 48) *
                   ([${CnIdWeights.mkString(",")}])[CAST(i AS INT)]))
                 % 11 AS INT) + 1, 1))) AS BIGINT) AS n_cnid_valid,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'),
               '$CnIdPat', '<IDNUM>', 'g')) AS scrub_md5
         FROM x ORDER BY doc_id""",
    "q132_domain_mix" ->
      s"""WITH x AS (
           SELECT doc_id, source,
                  (doc_id * $HashMul) % $HashMod AS h,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  CASE WHEN source = 'src0' THEN 4 * $MixBase
                       WHEN source = 'src1' THEN 2 * $MixBase
                       ELSE $MixBase END AS budget
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens, budget,
                  CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM x)
         SELECT doc_id, source, n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_offset
         FROM c WHERE cum - n_tokens < budget
         ORDER BY doc_id"""
  )
}
