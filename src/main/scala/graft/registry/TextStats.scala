package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` fixture: token counting, language-ID heuristic, quality
  * scoring, fingerprinting, corpus term frequency, KMV distinct sketch.
  *
  * Re-expresses the reference's string/cleaning surface (SURVEY.md
  * §2.2 P1-P3 trim/split/whitespace-collapse, §2.7 F5 normalization,
  * A2 distinct-value extraction, A7 count+top-k) as pure Column
  * expressions — everything stays inside whole-stage codegen; no UDFs.
  *
  * Scale notes: all queries are embarrassingly parallel per-row maps
  * followed by one partial+final aggregation; nothing shuffles more than
  * the (tiny) aggregate state except q24's token explode, which shuffles
  * (token, partial_count) pairs — the map-side combine keeps that bounded
  * by vocabulary size per partition, not corpus size.
  */
object TextStats extends Family {

  /** Integer ratio in permille — exact in both engines (floor division). */
  private val permille = "CAST(%s * 1000 DIV %s AS BIGINT)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Whitespace tokenization + distinct counts (token counting op).
    "q20_token_stats" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_tokens"),
          size(array_distinct(split($"text", " "))).cast("long").as("n_distinct"),
          length($"text").cast("long").as("len_chars"))
        .orderBy($"doc_id")
    }),

    // Language-ID heuristic: marker-token ratio (n-gram-style heuristic —
    // deterministic, no model). Reference analog: the engine-side stub for
    // model-dependent stages (SURVEY §2.9 L3 pluggable classifier).
    "q21_lang_id_heuristic" -> ((s, d) => {
      import s.implicits._
      val toks = split($"text", " ")
      val enMarkers = size(filter(toks, t => t.isin("the", "a"))).cast("long")
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          enMarkers.as("en_markers"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("pred_lang",
          when($"en_markers" * 1000 >= $"n_tokens" * 60, lit("en-like"))
            .otherwise(lit("other")))
        .orderBy($"doc_id")
    }),

    // Quality scoring: length band + stopword ratio + mean token length,
    // all in exact integer arithmetic (permille units).
    "q22_quality_score" -> ((s, d) => {
      import s.implicits._
      val toks = split($"text", " ")
      val nTok = size(toks).cast("long")
      val nStop = size(filter(toks, t => t.isin("the", "a", "of"))).cast("long")
      val charsNoSpace = length(regexp_replace($"text", " ", "")).cast("long")
      Tables.documents(s, d)
        .select($"doc_id", nTok.as("n_tokens"), nStop.as("n_stop"),
          charsNoSpace.as("n_letters"))
        .withColumn("stop_permille", expr(permille.format("n_stop", "n_tokens")))
        .withColumn("avg_tok_len_x100",
          expr("CAST(n_letters * 100 DIV n_tokens AS BIGINT)"))
        .withColumn("quality",
          when($"n_tokens" >= 30 && $"n_tokens" <= 120, lit(500L)).otherwise(lit(0L))
            + when($"stop_permille" <= 150, lit(300L)).otherwise(lit(0L))
            + when($"avg_tok_len_x100" >= 350, lit(200L)).otherwise(lit(0L)))
        .orderBy($"doc_id")
    }),

    // Document fingerprinting: content hash of the raw text and of the
    // whitespace-normalized text (reference P3 cleaning pass, F5).
    "q23_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          md5($"text").as("fp_raw"),
          md5(trim(regexp_replace($"text", "\\s+", " "))).as("fp_norm"))
        .orderBy($"doc_id")
    }),

    // KMV (k-minimum-values) distinct-cardinality sketch — the
    // deterministic, MERGEABLE sketch: per lang, keep the K=64 smallest
    // md5 content hashes of its documents; estimate =
    // (K-1)/fraction(kth) for the distinct-contents count (the exact
    // dedup statistic q30 computes globally, here sketched per group).
    // Unlike HLL (engine-specific hashing), md5 order is identical in
    // both engines, so the sketch itself is hash-gated against the
    // oracle. Scale: the K-min selection is two-stage — K smallest per
    // (lang, 2-hex-digit salt bucket) first, then K smallest of those
    // <= 256·K survivors per lang — so no single task ever sees a whole
    // language group; the sketch state is O(K) per group and
    // union-mergeable across partitions/datasets (the 100 TB property).
    // The estimate constant 283726776524341248 = (K-1)·16^13 = 2^58-2^52
    // (6 mantissa bits — exactly representable, so the one double
    // divide is bit-identical cross-engine); kth13 = first 13 hex chars
    // (52 bits, exact in BIGINT and in a double's mantissa).
    "q25_kmv_distinct" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val K = 64
      val tok = Tables.documents(s, d)
        .select($"lang", md5($"text").as("h")).distinct()
      val w1 = Window.partitionBy($"lang", substring($"h", 1, 2)).orderBy($"h")
      val w2 = Window.partitionBy($"lang").orderBy($"h")
      val sketch = tok
        .withColumn("rn1", row_number().over(w1)).filter($"rn1" <= K)
        .withColumn("rn", row_number().over(w2)).filter($"rn" <= K)
        .groupBy($"lang")
        .agg(count(lit(1)).cast("long").as("k_actual"), max($"h").as("kth_hash"))
        .withColumn("kth13",
          conv(substring($"kth_hash", 1, 13), 16, 10).cast("long"))
        .withColumn("est_distinct",
          when($"k_actual" < K, $"k_actual")
            .otherwise(round(lit(283726776524341248.0) / $"kth13").cast("long")))
      val exact = tok.groupBy($"lang").agg(count(lit(1)).as("exact_distinct"))
      sketch.join(exact, "lang")
        .withColumn("err_permille", expr(
          "CAST(abs(est_distinct - exact_distinct) * 1000 DIV exact_distinct AS BIGINT)"))
        .select($"lang", $"exact_distinct", $"k_actual", $"est_distinct",
          $"err_permille")
        .orderBy($"lang")
    }),

    // Classifier evaluation: confusion counts of the q21 language-ID
    // heuristic against the declared lang column — the eval loop every
    // heuristic/model stage in a data pipeline needs (q21 is the
    // prediction op; this is its measurement op). One map-side-combined
    // shuffle on the (declared, predicted) pair.
    "q29_langid_confusion" -> ((s, d) => {
      import s.implicits._
      val toks = split($"text", " ")
      Tables.documents(s, d)
        .select($"lang",
          (size(filter(toks, t => t.isin("the", "a"))).cast("long") * 1000 >=
            size(toks).cast("long") * 60).as("en_like"))
        .withColumn("pred_lang",
          when($"en_like", lit("en-like")).otherwise(lit("other")))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"pred_lang")
    }),

    // BPE-ish pre-tokenization count (GPT-2-style pre-tokenizer shape,
    // restricted to an engine-portable character-class regex: a token is
    // an optional leading space + a letter run, digit run, or
    // punctuation run). Complements q20's whitespace count — the two
    // together are the token-budget estimators a data pipeline feeds to
    // its training-mix planner. Pure per-row map, codegen'd regex.
    "q28_bpeish_tokens" -> ((s, d) => {
      import s.implicits._
      val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
      Tables.documents(s, d)
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_ws"),
          expr(s"CAST(size(regexp_extract_all(text, '$pat', 0)) AS BIGINT)")
            .as("n_bpeish"))
        .orderBy($"doc_id")
    }),

    // Repetition quality filters (the published web-corpus cleaning
    // signals — duplicate n-gram fraction and most-common-word dominance
    // à la C4/Gopher, in exact permille integers): dup3_permille =
    // fraction of 3-grams that are repeats; top_tok_permille = share of
    // the most frequent token. The 3-gram stats are per-row array maps
    // (no shuffle); the token mode is an explode + two-level aggregation
    // keyed on (doc_id, token) — key-spread, map-side combined, no skew
    // concentration.
    "q27_repetition_stats" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("toks"))
      val gram = base
        .withColumn("n_tokens", size($"toks").cast("long"))
        .withColumn("g", when(size($"toks") >= 3, expr(
          """transform(sequence(1, size(toks) - 2),
             j -> concat(element_at(toks, j), ' ',
                         element_at(toks, j + 1), ' ',
                         element_at(toks, j + 2)))"""))
          .otherwise(array()))
        .withColumn("n3", greatest(size($"toks") - 2, lit(0)).cast("long"))
        .withColumn("d3", size(array_distinct($"g")).cast("long"))
      val top = base.select($"doc_id", explode($"toks").as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("top_c"))
      gram.join(top, "doc_id")
        .select($"doc_id", $"n_tokens",
          when($"n3" > 0, expr("CAST((n3 - d3) * 1000 DIV n3 AS BIGINT)"))
            .otherwise(lit(0L)).as("dup3_permille"),
          expr("CAST(top_c * 1000 DIV n_tokens AS BIGINT)")
            .as("top_tok_permille"))
        .orderBy($"doc_id")
    }),

    // Deterministic train/val/test split (80/10/10): bucket =
    // int(first 4 hex of md5(doc_id)) % 1000 — pure per-row map, no
    // shuffle, reproducible across engines/runs/cluster sizes, and stable
    // under corpus growth (a doc's split never changes when others are
    // added — the property random sampling lacks). The %1000 of a 16-bit
    // value carries a ~0.8% bucket bias (65536 % 1000 != 0) — irrelevant
    // for split assignment, documented for honesty.
    "q26_split_assign" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
            .cast("long") % 1000).as("bucket"))
        .withColumn("split",
          when($"bucket" < 800, lit("train"))
            .when($"bucket" < 900, lit("val"))
            .otherwise(lit("test")))
        .orderBy($"doc_id")
    }),

    // Corpus term frequency, top-20 (SURVEY A2 distinct-value extraction
    // + A7 count-per-group + top-k). Map-side combine bounds the shuffle.
    "q24_word_freq_topk" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token")
        .limit(20)
    }),

    // Corpus novelty score: the fraction of a doc's distinct 3-gram
    // shingles whose FIRST occurrence (min doc_id) is the doc itself —
    // the curation signal that ranks content by how much it adds over
    // what the corpus already holds (boilerplate scores ~0, fresh
    // content ~1000‰). Shape: shingle explode → groupBy(shingle)
    // .agg(min(doc_id)) → join back on shingle → per-doc agg. The agg
    // form (NOT a min-over-shingle window) is deliberate skew armor:
    // min() gets map-side partial aggregation, so the shuffle carries
    // one row per (partition, distinct shingle) and the reduce side is
    // one row per distinct shingle — whereas a window partitioned by
    // shingle must materialize a shingle's ENTIRE corpus-wide occurrence
    // list in one partition, which for a boilerplate shingle (the
    // dominant key at corpus scale) is an uncombinable hot partition.
    // The join back does re-shuffle the exploded frame once, but that
    // exchange is skew-split by AQE and its per-key fan-out is the
    // occurrence count — distributed across tasks, never one task.
    "q134_novelty_permille" -> ((s, d) => {
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", explode(array_distinct(
          when(size($"t") >= 3, expr(
            """transform(sequence(1, size(t) - 2),
               j -> concat(element_at(t, j), ' ',
                           element_at(t, j + 1), ' ',
                           element_at(t, j + 2)))"""))
            .otherwise(array()))).as("shingle"))
      val firstDoc = sh.groupBy($"shingle")
        .agg(min($"doc_id").as("first_doc"))
      sh.join(firstDoc, "shingle")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
        .select($"doc_id", $"n_shingles", $"n_novel",
          expr("CAST(n_novel * 1000 DIV n_shingles AS BIGINT)")
            .as("novelty_permille"))
        .orderBy($"doc_id")
    }),

    // Deterministic TF-IDF-ish term ranking: score = tf · (10^6 DIV df)
    // — the integer-reciprocal stand-in for tf·idf (monotone in tf and
    // 1/df, exact in both engines where ln() parity is not). Top-3 terms
    // per doc, ties broken lexicographically. Shape: token explode →
    // (doc,term) tf agg → term df agg (vocabulary-sized, the classic
    // broadcastable side) → join on term → per-doc window top-k.
    "q135_tfidf_topk" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      tf.join(dfreq, "term")
        .withColumn("score", $"tf" * expr("CAST(1000000 DIV df AS BIGINT)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"score")
        .orderBy($"doc_id", $"rank")
    })
  )

  def oracles: Map[String, String] = Map(
    "q20_token_stats" ->
      """SELECT doc_id,
         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
         CAST(length(text) AS BIGINT) AS len_chars
         FROM documents ORDER BY doc_id""",
    "q21_lang_id_heuristic" ->
      """SELECT doc_id, lang, en_markers, n_tokens,
         CASE WHEN en_markers * 1000 >= n_tokens * 60
              THEN 'en-like' ELSE 'other' END AS pred_lang
         FROM (SELECT doc_id, lang,
                 CAST(len(list_filter(string_split(text,' '),
                          t -> t IN ('the','a'))) AS BIGINT) AS en_markers,
                 CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
               FROM documents) t
         ORDER BY doc_id""",
    "q22_quality_score" ->
      """SELECT doc_id, n_tokens, n_stop, n_letters, stop_permille,
             avg_tok_len_x100,
             (CASE WHEN n_tokens BETWEEN 30 AND 120 THEN 500 ELSE 0 END
            + CASE WHEN stop_permille <= 150 THEN 300 ELSE 0 END
            + CASE WHEN avg_tok_len_x100 >= 350 THEN 200 ELSE 0 END) AS quality
         FROM (SELECT doc_id, n_tokens, n_stop, n_letters,
                 CAST(n_stop * 1000 // n_tokens AS BIGINT) AS stop_permille,
                 CAST(n_letters * 100 // n_tokens AS BIGINT) AS avg_tok_len_x100
               FROM (SELECT doc_id,
                       CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                       CAST(len(list_filter(string_split(text,' '),
                                t -> t IN ('the','a','of'))) AS BIGINT) AS n_stop,
                       CAST(length(replace(text,' ','')) AS BIGINT) AS n_letters
                     FROM documents) t0) t1
         ORDER BY doc_id""",
    "q23_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_raw,
         md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_norm
         FROM documents ORDER BY doc_id""",
    "q24_word_freq_topk" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents) t
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "q134_novelty_permille" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(tk) >= 3 THEN
                    list_transform(range(1, len(tk) - 1),
                      j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2])
                  ELSE [] END)) AS shingle
                FROM t),
         f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         g AS (SELECT s.doc_id,
                 CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_novel
               FROM sh s JOIN f USING (shingle) GROUP BY 1)
         SELECT doc_id, n_shingles, n_novel,
                CAST(n_novel * 1000 // n_shingles AS BIGINT) AS novelty_permille
         FROM g ORDER BY doc_id""",
    "q135_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                   FROM tf GROUP BY 1),
         sc AS (SELECT t.doc_id, t.term,
                  t.tf * CAST(1000000 // d.df AS BIGINT) AS score
                FROM tf t JOIN dfreq d USING (term)),
         r AS (SELECT doc_id, term, score,
                 CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS BIGINT) AS rank
               FROM sc)
         SELECT doc_id, rank, term, score FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q29_langid_confusion" ->
      """SELECT lang,
           CASE WHEN en_markers * 1000 >= n_tokens * 60
                THEN 'en-like' ELSE 'other' END AS pred_lang,
           count(*) AS n
         FROM (SELECT lang,
                 CAST(len(list_filter(string_split(text,' '),
                          t -> t IN ('the','a'))) AS BIGINT) AS en_markers,
                 CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
               FROM documents) t
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q28_bpeish_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(text,
                ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpeish
         FROM documents ORDER BY doc_id""",
    "q27_repetition_stats" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         gram AS (
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n3,
             CAST(len(list_distinct(
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(1, len(toks) - 1),
                   j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])
               ELSE [] END)) AS BIGINT) AS d3
           FROM base),
         top AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM (
             SELECT doc_id, tok, count(*) AS c
             FROM (SELECT doc_id, unnest(toks) AS tok FROM base) t
             GROUP BY doc_id, tok) g
           GROUP BY doc_id)
         SELECT gram.doc_id, n_tokens,
           CASE WHEN n3 > 0
                THEN CAST((n3 - d3) * 1000 // n3 AS BIGINT) ELSE 0 END
             AS dup3_permille,
           CAST(top_c * 1000 // n_tokens AS BIGINT) AS top_tok_permille
         FROM gram JOIN top ON gram.doc_id = top.doc_id
         ORDER BY gram.doc_id""",
    "q26_split_assign" ->
      """SELECT doc_id, bucket,
           CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split
         FROM (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(4), i ->
               CAST(strpos('0123456789abcdef',
                      substring(md5(CAST(doc_id AS VARCHAR)),
                                CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
               * (CAST(1 AS BIGINT)
                  << CAST(4 * (3 - i) AS INTEGER)))) AS BIGINT) % 1000
               AS bucket
           FROM documents) t
         ORDER BY doc_id""",
    // The oracle keeps only the SEMANTICS (global K smallest per lang) —
    // the Spark side's salted two-stage selection must reproduce it.
    "q25_kmv_distinct" ->
      """WITH hx AS (
           SELECT DISTINCT lang, md5(text) AS h FROM documents),
         r AS (SELECT lang, h,
                 row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
               FROM hx),
         sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS k_actual,
                       max(h) AS kth_hash
                FROM r WHERE rn <= 64 GROUP BY lang),
         ki AS (SELECT lang, k_actual,
                  CAST(list_sum(list_transform(range(13), i ->
                    CAST(strpos('0123456789abcdef',
                           substring(kth_hash, CAST(i + 1 AS INTEGER), 1))
                         - 1 AS BIGINT)
                    * (CAST(1 AS BIGINT)
                       << CAST(4 * (12 - i) AS INTEGER)))) AS BIGINT) AS kth13
                FROM sk),
         est AS (SELECT lang, k_actual,
                   CASE WHEN k_actual < 64 THEN k_actual
                        ELSE CAST(round(283726776524341248.0 / kth13) AS BIGINT)
                   END AS est_distinct
                 FROM ki),
         ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
                FROM hx GROUP BY lang)
         SELECT e.lang, ex.exact_distinct, e.k_actual, e.est_distinct,
           CAST(abs(e.est_distinct - ex.exact_distinct) * 1000
                // ex.exact_distinct AS BIGINT) AS err_permille
         FROM est e JOIN ex ON e.lang = ex.lang
         ORDER BY e.lang"""
  )
}
