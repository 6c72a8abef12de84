package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, and document fingerprinting.
  *
  * Everything is a single map-side projection (higher-order array
  * functions, no explode/shuffle), so at 100 TB these run at scan speed
  * and parallelize per parquet split. All numeric outputs are exact
  * integer math (scaled by 1e2/1e4) so the DuckDB oracles hash-match.
  *
  * Shared primitives (identical on the DuckDB side):
  *  - tokens:   regexp_extract_all(lower(text), '[a-z0-9]+')
  *  - H16(s):   first 16 hex chars of sha256(s) — fixed-width lowercase
  *              hex, so lexicographic MIN == numeric MIN and both engines
  *              agree without any hex→int conversion
  *  - shingles: word 3-grams joined with single spaces
  */
object TextAnalysis {

  /** Spark-side tokens expression (expects a `text` column in scope). */
  val tokensSpark = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  /** DuckDB-side tokens expression. */
  val tokensDuck = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** Word 3-gram shingles over a `toks` column. Spark array subscripts
    * are 0-based; guard short docs explicitly — Spark's sequence(1, 0)
    * would DESCEND and fabricate bogus shingles.
    */
  val shinglesSpark: String =
    """CASE WHEN size(toks) < 3 THEN array()
      |     ELSE transform(sequence(1, size(toks) - 2),
      |                    i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))
      |END""".stripMargin.replace("\n", " ")

  /** DuckDB lists are 1-indexed; range(a, b) is empty when b <= a. */
  val shinglesDuck: String =
    ("list_transform(range(1, greatest(len(toks) - 2, 0) + 1), " +
      "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")

  /** Token counting: whitespace-ish word tokens and a BPE-ish regex that
    * also counts punctuation/symbol singletons.
    */
  def textTokens(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      // token count + summed token chars come from the compiled
      // single-pass TextStats kernel (st[0], st[1]) — the declarative
      // aggregate(transform(...)) form paid an interpreted lambda frame
      // per token
      .withColumn("st",
        graft.functions.GraftFunctions.text_stats(col("text"), Nil))
      .select(
        col("doc_id"),
        col("n_chars"),
        col("st").getItem(0).as("n_word_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast(LongType).as("n_bpeish_tokens"),
        col("st").getItem(1).as("sum_token_chars"))
      .orderBy("doc_id")

  val textTokensSql: String =
    s"""SELECT doc_id, n_chars,
       |  CAST(len($tokensDuck) AS BIGINT) AS n_word_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens,
       |  CAST(list_sum(list_transform($tokensDuck, t -> length(t))) AS BIGINT) AS sum_token_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  private val Stopwords = graft.functions.GraftFunctions.DefaultStopwords
  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** Quality scoring: length, mean token length, stopword ratio,
    * type-token ratio — the standard cheap features for corpus
    * filtering. Ratios are scaled integers (1e4) via floor division.
    */
  def textQuality(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      // compiled single pass: [n_tokens, sum_chars, stop_hits, n_distinct]
      .withColumn("st",
        graft.functions.GraftFunctions.text_stats(col("text"), Stopwords))
      .withColumn("n_toks", col("st").getItem(0))
      .where(col("n_toks") > 0)
      .select(
        col("doc_id"),
        col("n_toks"),
        expr("st[1] * 100 div n_toks").as("avg_token_len_e2"),
        expr("st[2] * 10000L div n_toks").as("stopword_ratio_e4"),
        expr("st[3] * 10000L div n_toks").as("type_token_e4"),
        (col("n_chars") >= 100 && col("n_chars") <= 20000).as("len_ok"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""WITH t AS (SELECT doc_id, n_chars, $tokensDuck AS toks FROM documents),
       |u AS (SELECT doc_id, n_chars, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t WHERE len(toks) > 0)
       |SELECT doc_id, n_toks,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) * 100 AS BIGINT) // n_toks AS avg_token_len_e2,
       |  CAST(len(list_filter(toks, t -> t IN (${inList(Stopwords)}))) * 10000 AS BIGINT) // n_toks AS stopword_ratio_e4,
       |  CAST(len(list_distinct(toks)) * 10000 AS BIGINT) // n_toks AS type_token_e4,
       |  (n_chars >= 100 AND n_chars <= 20000) AS len_ok
       |FROM u ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic marker sets (alphabetical language order —
    * ties resolve to the first). Shared with the SQL surface default.
    */
  private val LangMarkers: Seq[(String, Seq[String])] =
    graft.functions.GraftFunctions.DefaultLangMarkers

  /** Language-ID: function-word hit counts per language, argmax with
    * alphabetical tie-break, 'und' when nothing matches. (Real systems
    * use char n-gram models; the shape — per-doc scores then argmax —
    * is identical and equally shuffle-free.) All five score sets come
    * from ONE compiled tokenization pass ([[graft.functions.LangScores]]
    * — the declarative form re-tokenized per language and paid an
    * interpreted lambda frame per token per language).
    */
  def textLangId(spark: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(spark, d)
      .withColumn("ls", graft.functions.GraftFunctions.lang_scores(
        col("text"), LangMarkers.map(_._2)))
      .select(col("*") +: LangMarkers.zipWithIndex.map {
        case ((lang, _), i) => col("ls").getItem(i).as(s"score_$lang")
      }: _*)
    val maxScore = LangMarkers.map(m => col(s"score_${m._1}")).reduce(greatest(_, _))
    val predicted = LangMarkers.reverse.foldLeft(lit("und")) {
      case (acc, (lang, _)) =>
        when(maxScore > 0 && col(s"score_$lang") === maxScore, lit(lang)).otherwise(acc)
    }
    scored.select(
        col("doc_id") +: col("lang").as("labeled_lang") +:
          LangMarkers.map { case (l, _) => col(s"score_$l") } :+
          predicted.as("predicted_lang"): _*)
      .withColumn("agrees", col("predicted_lang") === col("labeled_lang"))
      .orderBy("doc_id")
  }

  val textLangIdSql: String = {
    val scoreCols = LangMarkers.map { case (l, ws) =>
      s"CAST(len(list_filter(toks, t -> t IN (${inList(ws)}))) AS BIGINT) AS score_$l"
    }.mkString(", ")
    val maxExpr = "greatest(" + LangMarkers.map(m => s"score_${m._1}").mkString(", ") + ")"
    val caseArms = LangMarkers.map { case (l, _) =>
      s"WHEN score_$l = $maxExpr THEN '$l'"
    }.mkString(" ")
    val predicted = s"CASE WHEN $maxExpr = 0 THEN 'und' $caseArms ELSE 'und' END"
    s"""WITH t AS (SELECT doc_id, lang, $tokensDuck AS toks FROM documents),
       |s AS (SELECT doc_id, lang AS labeled_lang, $scoreCols FROM t)
       |SELECT doc_id, labeled_lang, ${LangMarkers.map(m => s"score_${m._1}").mkString(", ")},
       |  $predicted AS predicted_lang,
       |  ($predicted) = labeled_lang AS agrees
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting (winnowing-style): min/max H16 over the
    * 3-gram shingle hashes — a compact content signature robust to small
    * edits away from the hash-order extremes. Docs with <3 tokens have
    * no shingles and drop out (same semantics both engines).
    */
  def textFingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      // single compiled pass (graft.functions.TextFingerprint);
      // materialized under one alias so the three field reads don't
      // re-evaluate it (CollapseProject keeps multi-referenced
      // non-cheap aliases in their own projection)
      .withColumn("fp", graft.functions.GraftFunctions.text_fingerprint(col("text")))
      .where(col("fp").isNotNull)
      .select(
        col("doc_id"),
        col("fp").getItem(0).as("fp_min"),
        col("fp").getItem(1).as("fp_max"),
        col("fp").getItem(2).cast(LongType).as("n_shingles"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |s AS (SELECT doc_id, $shinglesDuck AS shingles FROM t)
       |SELECT doc_id,
       |  list_aggregate(list_transform(shingles, s -> substr(sha256(s), 1, 16)), 'min') AS fp_min,
       |  list_aggregate(list_transform(shingles, s -> substr(sha256(s), 1, 16)), 'max') AS fp_max,
       |  CAST(len(shingles) AS BIGINT) AS n_shingles
       |FROM s WHERE len(shingles) > 0 ORDER BY doc_id""".stripMargin

  /** Merge-candidate count shared by the Scala default and the SQL
    * oracle.
    */
  val DefaultBpePairs = 30

  /** BPE PAIR-MERGE counting — the inner-loop scoring step of
    * byte-pair-encoding tokenizer training: adjacent character-pair
    * frequencies over the corpus symbol stream (initially, characters
    * within words weighted by word frequency), whose argmax is the next
    * merge rule. Emits the top candidates with their corpus-weighted
    * count and the distinct words containing them.
    *
    * Scale shape: the corpus crosses ONE explode→groupBy(token)
    * exchange (map-side partial counts — the q_text_vocab economics);
    * pair explosion then runs over the DISTINCT VOCABULARY, which is
    * orders of magnitude smaller than the corpus (Heaps' law), so the
    * second aggregation is negligible at any scale. A full BPE trainer
    * iterates: apply the merge to the vocab (vocab-sized, corpus
    * untouched) and re-count — each round costs only the vocab pass.
    */
  /** Corpus-weighted word frequencies — the shared first exchange of
    * both BPE faces.
    */
  private def wordFreq(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(explode(expr(tokensSpark)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cf"))

  /** Adjacent-character-pair scoring over a (word, cf) vocabulary —
    * ONE definition feeding both [[bpePairs]]' report and [[bpeApply]]'s
    * merge-rule selection, so the two faces of the trainer iteration
    * cannot drift.
    */
  private def charPairCounts(wf: DataFrame): DataFrame =
    wf.where(length(col("word")) >= 2)
      .select(col("word"), col("cf"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum("cf").as("pair_count"), countDistinct("word").as("n_words"))

  def bpePairs(spark: SparkSession, d: String,
      topK: Int = DefaultBpePairs): DataFrame =
    charPairCounts(wordFreq(spark, d))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topK)

  val bpePairsSql: String =
    s"""WITH wf AS (SELECT token AS word, count(*) AS cf
       |  FROM (SELECT unnest($tokensDuck) AS token FROM documents) GROUP BY token),
       |px AS (SELECT word, cf,
       |  unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
       |  FROM wf WHERE length(word) >= 2)
       |SELECT pair, CAST(sum(cf) AS BIGINT) AS pair_count,
       |  count(DISTINCT word) AS n_words
       |FROM px GROUP BY pair
       |ORDER BY pair_count DESC, pair LIMIT $DefaultBpePairs""".stripMargin

  /** BPE MERGE APPLICATION — one training iteration: the argmax pair
    * from [[bpePairs]] becomes a merge rule, every word re-segments
    * with the merged symbol fused, and the NEW adjacent-symbol pairs
    * are re-counted — the loop body a BPE trainer runs vocab_size
    * times. Re-segmentation uses regex alternation `<pair>|.`, whose
    * leftmost-first scan IS greedy non-overlapping BPE merging
    * (verified identical in Java regex and RE2: 'xxx' + merge 'xx' →
    * [xx, x]); round-2 pairs render as `sym1+sym2` so multi-char
    * symbols stay unambiguous.
    *
    * The merge rule is a MODEL ARTIFACT (one row) — collected
    * driver-side like the k-means centroids, then inlined as a regex
    * literal (Spark's regexp_extract_all requires a foldable pattern);
    * the oracle derives the identical rule in SQL and applies it as a
    * dynamic pattern. Scale: two corpus exchanges (the token count
    * feeding the rule, re-used for the apply) and a vocab-sized
    * re-segmentation — each further round costs only the vocab pass.
    */
  def bpeApply(spark: SparkSession, d: String,
      topK: Int = DefaultBpePairs): DataFrame = {
    val wf = wordFreq(spark, d).persist()
    val top1 = charPairCounts(wf)
      .orderBy(col("pair_count").desc, col("pair")).limit(1)
      .collect()(0).getString(0)
    require(top1.matches("[a-z0-9]{2}"), s"merge rule must be alphanumeric: $top1")
    wf
      .select(col("word"), col("cf"),
        expr(s"regexp_extract_all(word, '$top1|.', 0)").as("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("word"), col("cf"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> concat(element_at(syms, i), '+', element_at(syms, i + 1)))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum("cf").as("pair_count"), countDistinct("word").as("n_words"))
      .select(lit(top1).as("merged_pair"), col("pair"),
        col("pair_count"), col("n_words"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topK)
  }

  val bpeApplySql: String =
    s"""WITH wf AS (SELECT token AS word, count(*) AS cf
       |  FROM (SELECT unnest($tokensDuck) AS token FROM documents) GROUP BY token),
       |px AS (SELECT word, cf,
       |  unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
       |  FROM wf WHERE length(word) >= 2),
       |top1 AS (SELECT pair FROM (
       |  SELECT pair, sum(cf) AS pc FROM px GROUP BY pair
       |  ORDER BY pc DESC, pair LIMIT 1)),
       |sy AS (SELECT word, cf, regexp_extract_all(word, t.pair || '|.') AS syms
       |  FROM wf, top1 t),
       |p2 AS (SELECT word, cf,
       |  unnest(list_transform(range(1, len(syms)), i -> syms[i] || '+' || syms[i+1])) AS pair
       |  FROM sy WHERE len(syms) >= 2)
       |SELECT (SELECT pair FROM top1) AS merged_pair, pair,
       |  CAST(sum(cf) AS BIGINT) AS pair_count,
       |  count(DISTINCT word) AS n_words
       |FROM p2 GROUP BY pair
       |ORDER BY pair_count DESC, pair LIMIT $DefaultBpePairs""".stripMargin

  /** Shared round count of the BPE trainer and its unrolled oracle —
    * one constant so an edit cannot desynchronize the two.
    */
  val DefaultBpeTrainRounds = 6

  /** MULTI-ROUND BPE TRAINING — the full trainer loop ([[bpeApply]] is
    * one iteration of it): `rounds` successive merges, each round
    * scoring adjacent-symbol pairs corpus-weighted, fusing the argmax
    * pair everywhere, and re-counting on the updated segmentation.
    * Emits one row per round: the merge rule learned, its weighted
    * count at selection time, and the distinct-symbol inventory size
    * after the fuse (the "vocab size" a tokenizer budget tracks).
    *
    * Representation: a word's segmentation is a string of
    * space-PREFIXED symbols (" t h e"); fusing pair (a, b) is the plain
    * string replace " a b" → " ab", which IS greedy left-to-right
    * non-overlapping BPE merging ("x x x x" → "xx xx", verified
    * identical in both engines — the space prefix makes symbol
    * boundaries unambiguous, so a pair can never match inside a longer
    * symbol). Each round's argmax is a ONE-ROW driver collect (the
    * k-means/bpeApply model-artifact discipline) inlined as a literal
    * into the next round's replace.
    *
    * Scale shape: the corpus crosses one explode→groupBy(token)
    * exchange ONCE ([[wordFreq]]); every round after that runs over the
    * distinct VOCABULARY (Heaps' law — orders of magnitude smaller), so
    * k rounds cost k vocab passes plus k one-row collects, never a
    * corpus rescan. The oracle unrolls the identical rounds as chained
    * CTEs computing each argmax in SQL.
    */
  /** The shared trainer loop: runs `rounds` merges over a persisted
    * (word, cf) vocabulary and returns the learned rules plus the final
    * per-word segmentation frame (word, cf, seg) — [[bpeTrain]] reports
    * the former, [[bpeEncode]] applies the latter.
    */
  private def bpeTrainLoop(wf: DataFrame,
      rounds: Int): (Seq[(Long, String, Long, Long)], DataFrame) = {
    var seg = wf.select(col("word"), col("cf"),
      regexp_replace(col("word"), "(.)", " $1").as("seg"))
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (r <- 1 to rounds) {
      val withSy = seg.withColumn("sy", split(col("seg"), " "))
      val top = withSy.where(size(col("sy")) >= 3)
        .select(col("cf"), explode(expr(
          "transform(sequence(2, size(sy) - 1), i -> concat(element_at(sy, i), '+', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum("cf").as("pc"))
        .orderBy(col("pc").desc, col("pair")).limit(1)
        .collect()
      require(top.nonEmpty, s"round $r: no adjacent pairs left to merge")
      val (rule, cnt) = (top(0).getString(0), top(0).getLong(1))
      val Array(a, b) = rule.split("\\+", 2)
      seg = seg.withColumn("seg",
        replace(col("seg"), lit(s" $a $b"), lit(s" $a$b")))
      merges += ((r.toLong, rule, cnt))
    }
    // vocabulary sizes for ALL rounds in ONE job (was one countDistinct
    // job per round): each round's segmentation re-derives from the
    // chosen merge rules by the same chained replaces — pure per-row
    // string work over the cached vocabulary — and a single aggregation
    // counts distinct symbols per round tag. The merge argmax jobs above
    // are inherently sequential (round r+1's pair stats depend on round
    // r's merge); the symbol counts are not.
    val segExprs = merges.result().scanLeft(
      regexp_replace(col("word"), "(.)", " $1")) { case (prev, (_, rule, _)) =>
        val Array(a, b) = rule.split("\\+", 2)
        replace(prev, lit(s" $a $b"), lit(s" $a$b"))
      }.drop(1) // segExprs(r-1) = segmentation AFTER merge r
    val nSymsByRound: Map[Int, Long] = wf
      .select(posexplode(array(segExprs.map(split(_, " ")): _*))
        .as(Seq("ri", "sy")))
      .select(col("ri"), explode(col("sy")).as("s"))
      .where(col("s") =!= "")
      .groupBy("ri").agg(countDistinct("s").as("n"))
      .collect().map(row => (row.getInt(0) + 1, row.getLong(1))).toMap
    val learned = merges.result().map { case (r, rule, cnt) =>
      (r, rule, cnt, nSymsByRound(r.toInt))
    }
    (learned, seg)
  }

  def bpeTrain(spark: SparkSession, d: String,
      rounds: Int = DefaultBpeTrainRounds): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark0 = spark
    import spark0.implicits._
    val wf = wordFreq(spark, d).persist()
    val (learned, _) = bpeTrainLoop(wf, rounds)
    wf.unpersist()
    learned
      .toDF("round", "merge_rule", "pair_count", "n_symbols")
      .orderBy("round")
  }

  /** BPE ENCODE — the trained tokenizer APPLIED at corpus scale: the
    * final per-word segmentation from the trainer loop broadcasts back
    * onto the corpus, and every document reports its word count,
    * pre-merge symbol count (characters), post-merge BPE token count,
    * and the compression ratio (chars·1e4 div bpe tokens) — the number
    * a tokenizer budget planner actually consumes (tokens-per-doc under
    * the trained vocab, not whitespace tokens).
    *
    * Scale: training costs k vocab passes (see [[bpeTrain]]); encoding
    * is one corpus explode joined against the VOCAB-sized (word →
    * token-count) map — broadcast while the vocabulary fits, shuffle
    * join beyond — then a per-doc aggregation. Docs with no tokens
    * surface with zeros via the LEFT join.
    */
  def bpeEncode(spark: SparkSession, d: String,
      rounds: Int = DefaultBpeTrainRounds): DataFrame = {
    val wf = wordFreq(spark, d).persist()
    val (_, seg) = bpeTrainLoop(wf, rounds)
    val wordLens = seg.select(col("word"),
      length(col("word")).cast(LongType).as("n_chars"),
      (size(split(col("seg"), " ")) - 1).cast(LongType).as("n_bpe"))
    val perDoc = Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("word"))
      .join(broadcast(wordLens), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_chars").as("n_char_syms"),
        sum("n_bpe").as("n_bpe_tokens"))
    Tables.documents(spark, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_char_syms"), lit(0L)).as("n_char_syms"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .withColumn("compression_e4",
        expr("CASE WHEN n_bpe_tokens > 0 THEN n_char_syms * 10000L div n_bpe_tokens ELSE 0L END"))
      .orderBy("doc_id")
  }

  /** The unrolled trainer-round CTE chain (wf, s0, then per-round
    * py/m/s/v) shared by the train report and the encode oracle.
    */
  private def bpeRoundCtes(rounds: Int): String = {
    def round(r: Int): String =
      s"""py$r AS (SELECT cf,
         |  unnest(list_transform(range(2, len(sy)), i -> sy[i] || '+' || sy[i+1])) AS pair
         |  FROM (SELECT cf, string_split(seg, ' ') AS sy FROM s${r - 1})),
         |m$r AS (SELECT pair, CAST(sum(cf) AS BIGINT) AS pc FROM py$r
         |  GROUP BY pair ORDER BY pc DESC, pair LIMIT 1),
         |s$r AS (SELECT word, cf,
         |  replace(seg, ' ' || replace(m.pair, '+', ' '), ' ' || replace(m.pair, '+', '')) AS seg
         |  FROM s${r - 1}, m$r m),
         |v$r AS (SELECT count(DISTINCT s) AS n FROM (
         |  SELECT unnest(string_split(seg, ' ')) AS s FROM s$r) WHERE s <> '')""".stripMargin
    s"""wf AS (SELECT token AS word, count(*) AS cf
       |  FROM (SELECT unnest($tokensDuck) AS token FROM documents) GROUP BY token),
       |s0 AS (SELECT word, cf, regexp_replace(word, '(.)', ' \\1', 'g') AS seg FROM wf),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  val bpeTrainSql: String = {
    val rounds = DefaultBpeTrainRounds
    val union = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT pair FROM m$r) AS merge_rule,
         |  (SELECT pc FROM m$r) AS pair_count,
         |  (SELECT CAST(n AS BIGINT) FROM v$r) AS n_symbols""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeRoundCtes(rounds)}
       |SELECT * FROM (
       |  $union)
       |ORDER BY round""".stripMargin
  }

  val bpeEncodeSql: String = {
    val rounds = DefaultBpeTrainRounds
    s"""WITH ${bpeRoundCtes(rounds)},
       |wl AS (SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
       |  CAST(len(string_split(seg, ' ')) - 1 AS BIGINT) AS n_bpe
       |  FROM s$rounds),
       |tx AS (SELECT doc_id, unnest($tokensDuck) AS word FROM documents),
       |pd AS (SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_chars) AS BIGINT) AS n_char_syms,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens
       |  FROM tx JOIN wl USING (word) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(pd.n_words, 0) AS n_words,
       |  coalesce(pd.n_char_syms, 0) AS n_char_syms,
       |  coalesce(pd.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  CASE WHEN coalesce(pd.n_bpe_tokens, 0) > 0
       |    THEN pd.n_char_syms * 10000 // pd.n_bpe_tokens ELSE 0 END AS compression_e4
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** TOKENIZER FERTILITY per language: how many BPE tokens the trained
    * tokenizer spends per whitespace word (`fertility_ppm`) and how
    * many characters each token carries (`chars_per_token_e4`), rolled
    * up per language — THE table a multilingual budget planner reads:
    * a language with fertility 2.5× another pays 2.5× the context
    * window for the same text, and a tokenizer trained on a skewed mix
    * shows it here first (Ács' fertility metric; the per-doc face is
    * [[bpeEncode]]).
    *
    * Scale: identical economics to [[bpeEncode]] — k vocab-sized
    * trainer rounds, then ONE corpus explode joined against the
    * broadcast (word → token-count) map; the rollup collapses to
    * |languages| rows via map-side partial aggregation, so the
    * per-language face is strictly cheaper than the per-doc one.
    */
  def tokenFertility(spark: SparkSession, d: String,
      rounds: Int = DefaultBpeTrainRounds): DataFrame = {
    val wf = wordFreq(spark, d).persist()
    val (_, seg) = bpeTrainLoop(wf, rounds)
    val wordLens = seg.select(col("word"),
      length(col("word")).cast(LongType).as("n_chars"),
      (size(split(col("seg"), " ")) - 1).cast(LongType).as("n_bpe"))
    Tables.documents(spark, d)
      .select(col("lang"), explode(expr(tokensSpark)).as("word"))
      .join(broadcast(wordLens), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_bpe").as("n_bpe_tokens"))
      .withColumn("fertility_ppm",
        expr("n_bpe_tokens * 1000000L div n_words"))
      .withColumn("chars_per_token_e4",
        expr("n_chars * 10000L div n_bpe_tokens"))
      .orderBy("lang")
  }

  val tokenFertilitySql: String = {
    val rounds = DefaultBpeTrainRounds
    s"""WITH ${bpeRoundCtes(rounds)},
       |wl AS (SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
       |  CAST(len(string_split(seg, ' ')) - 1 AS BIGINT) AS n_bpe
       |  FROM s$rounds),
       |tx AS (SELECT lang, unnest($tokensDuck) AS word FROM documents),
       |pl AS (SELECT lang, count(*) AS n_words,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens
       |  FROM tx JOIN wl USING (word) GROUP BY lang)
       |SELECT lang, n_words, n_chars, n_bpe_tokens,
       |  n_bpe_tokens * 1000000 // n_words AS fertility_ppm,
       |  n_chars * 10000 // n_bpe_tokens AS chars_per_token_e4
       |FROM pl ORDER BY lang""".stripMargin
  }

  /** Corpus vocabulary: token document-frequency and collection-
    * frequency, top-50 — the explode→groupBy shape (one shuffle on the
    * token; map-side partial counts keep the explosion from ever being
    * materialized through the exchange).
    */
  def textVocab(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("coll_freq"), countDistinct("doc_id").as("doc_freq"))
      .orderBy(col("coll_freq").desc, col("token"))
      .limit(50)

  val textVocabSql: String =
    s"""SELECT token, count(*) AS coll_freq, count(DISTINCT doc_id) AS doc_freq
       |FROM (SELECT doc_id, unnest($tokensDuck) AS token FROM documents)
       |GROUP BY token ORDER BY coll_freq DESC, token LIMIT 50""".stripMargin

  /** Winnowing fingerprint sets (MOSS-style) via the compiled rolling-
    * hash kernel: per doc, distinct minima of every w-window over the
    * polynomial 3-gram rolling hash, exploded to (doc_id, fp) rows —
    * the substring-plagiarism/near-dup index shape. Map-side until the
    * final order; integer-exact on both engines.
    */
  /** Exploded (doc_id, fp) winnow-fingerprint rows — the shared base of
    * the fingerprint dump and the pair join; ONE definition each side so
    * a hash-constant tweak cannot desynchronize them.
    */
  private def winnowFpRows(spark: SparkSession, d: String): DataFrame =
    winnowFpRowsOver(Tables.documents(spark, d))

  private def winnowFpRowsOver(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.winnow_fps(col("text"), 4).as("fps"))
      .where(col("fps").isNotNull)
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** DuckDB twin of [[winnowFpRows]], ending in `fpx(doc_id, fp)`. With
    * `canonicalOnly` the chain is restricted to exact-duplicate group
    * canonicals (min doc_id per content hash — the [[Dedup.dedupExact]]
    * key), mirroring the collapse the PAIR funnel composes; the per-doc
    * fingerprint dump keeps the full corpus.
    */
  private def winnowDuckCtes(canonicalOnly: Boolean = false): String = {
    val tCte =
      if (canonicalOnly)
        s"""t0 AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
           |gidm AS (SELECT doc_id,
           |  min(doc_id) OVER (PARTITION BY sha256(array_to_string(toks, ' '))) AS gid
           |  FROM t0),
           |t AS (SELECT t0.doc_id, toks FROM t0 JOIN gidm USING (doc_id)
           |      WHERE t0.doc_id = gidm.gid)""".stripMargin
      else s"t AS (SELECT doc_id, $tokensDuck AS toks FROM documents)"
    s"""$tCte,
       |tv AS (SELECT doc_id,
       |         list_transform(toks, tk -> ('0x' || substr(sha256(tk), 1, 8))::BIGINT % 1000000007) AS tvs
       |       FROM t WHERE len(toks) >= 3),
       |rh AS (SELECT doc_id,
       |         list_transform(range(1, len(tvs) - 1), i ->
       |           ((tvs[i] * 131 + tvs[i+1]) % 1000000007 * 131 + tvs[i+2]) % 1000000007) AS rhs
       |       FROM tv),
       |fpl AS (SELECT doc_id,
       |         CASE WHEN len(rhs) <= 4 THEN [list_aggregate(rhs, 'min')]
       |              ELSE list_distinct(list_transform(range(1, len(rhs) - 2), i ->
       |                     list_aggregate(rhs[i:i+3], 'min')))
       |         END AS fps
       |       FROM rh),
       |fpx AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM fpl)""".stripMargin
  }

  def textWinnow(spark: SparkSession, d: String): DataFrame =
    winnowFpRows(spark, d).orderBy("doc_id", "fp")

  val textWinnowSql: String =
    s"""WITH ${winnowDuckCtes()}
       |SELECT doc_id, fp FROM fpx ORDER BY doc_id, fp""".stripMargin

  /** Substring-duplication candidates from the winnowing index: pairs of
    * documents sharing at least `minShared` rolling-hash fingerprints,
    * with the shared count (MOSS-style — catches long COPIED PASSAGES
    * between otherwise-different documents, which whole-document MinHash
    * dilutes away; the fingerprint granularity is the winnow window).
    * Same funnel economics as LSH banding: the corpus shuffles as short
    * (fp, doc) rows, pairs form only within an fp's posting list, and a
    * count filter drops the accidental single-collision pairs. Hot
    * fingerprints (boilerplate) are the skew risk — AQE's skew-join
    * split covers the join, and production would also cap posting-list
    * length (drop fps occurring in > K docs, the classic stop-fp rule).
    */
  def winnowPairs(spark: SparkSession, d: String,
      minShared: Long = 3L): DataFrame =
    winnowPairFunnel(spark, d, minShared).orderBy("doc_a", "doc_b")

  /** The shared candidate-pair funnel: (doc_a, doc_b, n_shared_fps)
    * pairs of EXACT-CANONICAL documents sharing >= minShared winnow
    * fingerprints. Feeds both the pair report and the span merger.
    *
    * Two round-8 degeneracy guards (the round-7 replica study's fix):
    * the fingerprint join runs over exact-duplicate group canonicals
    * only (identical docs share every fingerprint, so replicas
    * previously multiplied posting lists R× and pairs C(R,2)×), and
    * [[Dedup.capPairs]] bounds each doc's partner count at
    * [[Dedup.DefaultMaxPartners]] (a no-op at the fixture SFs, binding
    * under viral boilerplate).
    */
  private def winnowPairFunnel(spark: SparkSession, d: String,
      minShared: Long,
      maxPartners: Int = Dedup.DefaultMaxPartners): DataFrame = {
    val collapsed = Dedup.exactCollapse(spark, d)
    // persisted: the frame feeds both join sides, and exchange reuse
    // verifiably does not dedupe identical subtrees (see tfidfTopTerms)
    val fps = winnowFpRowsOver(
      collapsed.where(col("doc_id") === col("gid")).select("doc_id", "text"))
      .persist()
    val pairs = fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .where(col("n_shared_fps") >= minShared)
    Dedup.capPairs(pairs, "n_shared_fps", maxPartners)
  }

  /** Span-merge knobs shared by the Scala defaults and the SQL oracle.
    * minSpanTokens = 6 means a span must cover >= 4 consecutive 3-gram
    * matches — long enough that a random single-hash collision cannot
    * fabricate one.
    */
  val DefaultMinSharedFps = 3L
  val DefaultMinSpanTokens = 6L

  /** Cross-document REPEATED-SPAN detection (Lee et al.-style exact
    * substring dedup at 3-gram-hash granularity): for each candidate
    * pair from the winnow funnel, positional rolling-hash matches are
    * merged into MAXIMAL shared spans — runs of consecutive matching
    * positions on the same alignment diagonal (pos_a - pos_b) — and
    * emitted as (doc_a, doc_b, start_a, start_b, span_tokens) with
    * 0-based token offsets. This catches boilerplate sentences inside
    * otherwise-unique documents, the granularity between whole-document
    * MinHash and chunk-level dedup.
    *
    * Scale shape — the winnow funnel, never all-pairs:
    *  1. candidate pairs come from the SAMPLED fingerprint join
    *     ([[winnowPairFunnel]] — the q_winnow_pairs economics);
    *  2. only documents that appear in a candidate pair are re-hashed
    *     positionally (semi-join against the broadcast candidate doc
    *     list — a sliver of the corpus, hashing is map-side per doc);
    *  3. the match join keys on (doc, hash), so positional rows shuffle
    *     ONCE; per-pair work is bounded by matched positions, not doc
    *     length squared;
    *  4. the island merge windows over (pair, diagonal) — partitions
    *     are per-candidate-pair match lists, never corpus-sized.
    * A doc shared across MANY pairs (viral boilerplate) fans its
    * positional rows out per pair; the funnel bounds that fan-out with
    * the exact-canonical collapse plus the per-doc partner cap
    * ([[Dedup.capPairs]] inside [[winnowPairFunnel]]).
    *
    * Correctness contract: hash collisions (P = 1e9+7) could in
    * principle fabricate a match, but both engines compute identical
    * hashes, so results stay bit-identical; the minSpanTokens filter
    * (>= 4 consecutive matches) makes a fabricated SPAN astronomically
    * unlikely.
    */
  def spanDedup(spark: SparkSession, d: String,
      minShared: Long = DefaultMinSharedFps,
      minSpanTokens: Long = DefaultMinSpanTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // three reads below: both candidate-doc branches and the match join
    val cand = winnowPairFunnel(spark, d, minShared).persist()
    val pairs = cand.select("doc_a", "doc_b")
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // persisted: the frame feeds both join sides under DIFFERENT keys
    // (doc_a, then (doc_b, h)), so exchange reuse cannot share them —
    // without the cache the candidate docs are sha256-hashed twice
    val pos = Tables.documents(spark, d)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.rolling_hashes(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
      .persist()
    val matches = broadcast(pairs)
      .join(pos.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(pos.as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.h") === col("pb.h"))
      .select(col("doc_a"), col("doc_b"),
        col("pa.pos").as("pos_a"), col("pb.pos").as("pos_b"))
    val diagW = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    matches
      .withColumn("diag", col("pos_a") - col("pos_b"))
      // island break = this match does not extend the previous one;
      // running sum of breaks numbers the maximal runs
      .withColumn("brk",
        when(col("pos_a") - lag("pos_a", 1).over(diagW) === 1, 0L).otherwise(1L))
      .withColumn("island", sum("brk").over(diagW))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(
        min("pos_a").cast(LongType).as("start_a"),
        min("pos_b").cast(LongType).as("start_b"),
        (count(lit(1)) + 2).as("span_tokens"))
      .where(col("span_tokens") >= minSpanTokens)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  /** SPAN COVERAGE — the removal decision the span detector feeds: per
    * document, the fraction of its tokens covered by the UNION of all
    * shared spans it participates in (either side of any pair). A doc
    * that is mostly covered is boilerplate assembled from repeated
    * passages even when no single pair flags it whole — the drop rule
    * Lee et al.-style pipelines apply after span detection.
    *
    * The interval union is the classic running-max sweep: intervals
    * sorted by start; a new island begins where start exceeds every
    * previous end; covered = Σ per-island (max end − min start). All
    * integer token offsets — exact on both engines.
    *
    * Scale: the span frame is the (already funneled) detector output —
    * tiny vs the corpus; the sweep windows partition per doc. The
    * corpus-side token counts are one map-side kernel pass, and the
    * final join keys on doc_id once.
    */
  def spanCoverage(spark: SparkSession, d: String,
      minShared: Long = DefaultMinSharedFps,
      minSpanTokens: Long = DefaultMinSpanTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both interval sides read the spans
    val spans = spanDedup(spark, d, minShared, minSpanTokens).persist()
    val iv = spans.select(col("doc_a").as("doc_id"),
        col("start_a").as("s"), (col("start_a") + col("span_tokens")).as("e"))
      .unionByName(spans.select(col("doc_b").as("doc_id"),
        col("start_b").as("s"), (col("start_b") + col("span_tokens")).as("e")))
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val covered = iv
      .withColumn("prev_max",
        max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island", sum("is_new").over(byDoc))
      .groupBy("doc_id", "island")
      .agg((max("e") - min("s")).as("ilen"))
      .groupBy("doc_id")
      .agg(sum("ilen").as("covered_tokens"))
    // spans are detected among exact-canonical docs only (the funnel's
    // collapse); a replica's coverage is its canonical's — identical
    // text, identical spans — so the per-doc report expands through the
    // (doc_id, gid) membership. Token counts and membership ride ONE
    // corpus scan: the text_stats kernel projects before the membership
    // window's hash exchange (16-byte rows + the count instead of text),
    // where the former separate documents scan + membership join paid a
    // second corpus pass and a corpus-sized equi-join for a column the
    // window pass could carry.
    val winByCh = org.apache.spark.sql.expressions.Window.partitionBy("ch")
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tokens"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
      .withColumn("gid", min("doc_id").over(winByCh))
      .select("doc_id", "n_tokens", "gid")
      .join(covered.withColumnRenamed("doc_id", "gid"), Seq("gid"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        expr("CASE WHEN n_tokens > 0 THEN coalesce(covered_tokens, 0L) * 10000L div n_tokens ELSE 0L END")
          .as("coverage_e4"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[spanDedup]]: same funnel (winnow pairs), same
    * positional hashes (rhs array index = 0-based offset), same
    * diagonal-island merge via window functions.
    */
  val spanDedupSql: String =
    s"""WITH ${winnowDuckCtes(canonicalOnly = true)},
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fpx a JOIN fpx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $DefaultMinSharedFps),
       |cdocs AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand)),
       |prh AS (SELECT doc_id,
       |  CAST(unnest(range(0, len(rhs))) AS BIGINT) AS pos,
       |  unnest(rhs) AS h
       |  FROM rh JOIN cdocs USING (doc_id)),
       |mt AS (SELECT c.doc_a, c.doc_b, pa.pos AS pos_a, pb.pos AS pos_b
       |  FROM cand c JOIN prh pa ON pa.doc_id = c.doc_a
       |              JOIN prh pb ON pb.doc_id = c.doc_b AND pb.h = pa.h),
       |di AS (SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a, pos_b,
       |  CASE WHEN pos_a - lag(pos_a) OVER (
       |    PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) = 1
       |    THEN 0 ELSE 1 END AS brk
       |  FROM mt),
       |isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
       |  sum(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
       |  FROM di)
       |SELECT doc_a, doc_b,
       |  CAST(min(pos_a) AS BIGINT) AS start_a,
       |  CAST(min(pos_b) AS BIGINT) AS start_b,
       |  CAST(count(*) + 2 AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_a, doc_b, diag, island
       |HAVING count(*) + 2 >= $DefaultMinSpanTokens
       |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  val spanCoverageSql: String =
    s"""WITH sp AS (SELECT * FROM ($spanDedupSql)),
       |iv AS (SELECT doc_a AS doc_id, start_a AS s, start_a + span_tokens AS e FROM sp
       |       UNION ALL
       |       SELECT doc_b, start_b, start_b + span_tokens FROM sp),
       |sw AS (SELECT doc_id, s, e,
       |  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM iv),
       |il AS (SELECT doc_id, s, e,
       |  sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY s, e) AS island
       |  FROM sw),
       |cv AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS covered_tokens FROM (
       |  SELECT doc_id, island, max(e) - min(s) AS ilen FROM il GROUP BY doc_id, island)
       |  GROUP BY doc_id),
       |nt AS (SELECT doc_id, CAST(len($tokensDuck) AS BIGINT) AS n_tokens FROM documents),
       |g2 AS (SELECT doc_id,
       |  min(doc_id) OVER (PARTITION BY sha256(array_to_string($tokensDuck, ' '))) AS gid
       |  FROM documents)
       |SELECT nt.doc_id, nt.n_tokens,
       |  coalesce(cv.covered_tokens, 0) AS covered_tokens,
       |  CASE WHEN nt.n_tokens > 0
       |    THEN coalesce(cv.covered_tokens, 0) * 10000 // nt.n_tokens
       |    ELSE 0 END AS coverage_e4
       |FROM nt JOIN g2 ON g2.doc_id = nt.doc_id
       |LEFT JOIN cv ON cv.doc_id = g2.gid
       |ORDER BY nt.doc_id""".stripMargin


  val winnowPairsSql: String =
    s"""WITH ${winnowDuckCtes(canonicalOnly = true)}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fps
       |FROM fpx a JOIN fpx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The 100 TB form of document-frequency: the token shuffle carries an
    * HLL sketch instead of countDistinct's Expand (which doubles every
    * exploded row before the exchange). The exact column exists here only
    * to oracle-check the sketch (same pattern as q_hll_distinct — the
    * accuracy boolean is what both engines compare; 15% bound because
    * the default 5% rsd is a standard deviation, not a maximum, and
    * mid-frequency tokens can sit 2-3 sigma out); a production run
    * drops it and keeps the single explode→groupBy shuffle.
    */
  def textVocabHll(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("coll_freq"),
        countDistinct("doc_id").as("doc_freq"),
        approx_count_distinct("doc_id").as("approx_df"))
      .select(col("token"), col("coll_freq"), col("doc_freq"),
        (abs(col("approx_df") - col("doc_freq")) * 100 <= col("doc_freq") * 15)
          .as("df_within_15pct"))
      .orderBy(col("coll_freq").desc, col("token"))
      .limit(50)

  val textVocabHllSql: String =
    s"""SELECT token, count(*) AS coll_freq, count(DISTINCT doc_id) AS doc_freq,
       |  true AS df_within_15pct
       |FROM (SELECT doc_id, unnest($tokensDuck) AS token FROM documents)
       |GROUP BY token ORDER BY coll_freq DESC, token LIMIT 50""".stripMargin

  /** Within-document duplicated-n-gram POSITIONAL COVERAGE — the other
    * Gopher/MassiveText repetition rule: the fraction of token
    * positions lying inside an n-gram that occurs at least twice in
    * the same document. [[textRepetition]]'s distinct-ratio counts how
    * many shingle OCCURRENCES are repeats; this measures how much of
    * the document's surface the repeats blanket (interval-union
    * semantics — overlapping duplicate grams don't double-count a
    * position), which is the form the published thresholds are stated
    * in.
    *
    * Shape: one explode into (doc, pos, gram) rows; occurrence counts
    * via a window partitioned by (doc, gram) — a single well-keyed
    * shuffle, no global window; duplicate grams explode their n
    * covered positions and a per-doc distinct count collapses the
    * interval union. Docs with no duplicated gram rejoin through a
    * per-doc-sized LEFT join so the report is total over docs with ≥ n
    * tokens. Everything shuffled is (long, long) or (long, short-string)
    * rows; nothing is quadratic in the document count.
    */
  /** Gram width for [[repCoverage]], interpolated into both the Scala
    * default and the oracle SQL so an edit cannot desynchronize them.
    * 3 matches the corpus shingle width (the synthetic corpus never
    * repeats a 5-gram within a document, and Gopher states duplicate
    * n-gram thresholds for n = 2..4 as well).
    */
  val DefaultRepGramN = 3

  def repCoverage(spark: SparkSession, d: String,
      n: Int = DefaultRepGramN): DataFrame = {
    require(n >= 2, "gram width must be at least 2")
    // The metric is a pure PER-DOCUMENT function, so nothing about it
    // belongs in a shuffle: the compiled [[graft.functions.RepCoverage]]
    // kernel resolves gram counts + interval union in one local pass
    // per doc. The declarative shape this replaces exploded every gram,
    // paid a corpus-wide window by (doc, gram), re-exploded covered
    // positions n-fold and collapsed them with a corpus-wide distinct —
    // two full shuffles for a map-side computation (measured shapes in
    // BUILDER_NOTES round 13).
    Tables.documents(spark, d)
      .select(col("doc_id"), expr(tokensSpark).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        graft.functions.GraftFunctions.rep_coverage(col("toks"), n)
          .as("n_covered"))
      .withColumn("cov_e4", expr("n_covered * 10000L div n_toks"))
      .orderBy("doc_id")
  }

  val repCoverageSql: String = {
    val n = DefaultRepGramN
    val parts = (0 until n).map(j => s"toks[pos+$j]").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $n),
       |g0 AS (SELECT doc_id, toks,
       |         unnest(range(1, len(toks) - ${n - 1} + 1)) AS pos FROM f),
       |g AS (SELECT doc_id, pos, concat_ws(' ', $parts) AS gram FROM g0),
       |c AS (SELECT doc_id, pos,
       |        count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g),
       |cp AS (SELECT doc_id, unnest(range(pos, pos + $n)) AS cp
       |       FROM c WHERE cnt >= 2),
       |cov AS (SELECT doc_id, count(DISTINCT cp) AS n_cov FROM cp GROUP BY doc_id)
       |SELECT f.doc_id, CAST(len(f.toks) AS BIGINT) AS n_toks,
       |  CAST(coalesce(cov.n_cov, 0) AS BIGINT) AS n_covered,
       |  CAST(coalesce(cov.n_cov, 0) * 10000
       |    // len(f.toks) AS BIGINT) AS cov_e4
       |FROM f LEFT JOIN cov ON f.doc_id = cov.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Within-document repetition (the Gopher/MassiveText-style quality
    * rule): fraction of duplicated 3-gram shingles, as a scaled integer.
    * High repetition flags boilerplate/spam for corpus filtering. Both
    * counts come from existing compiled kernels, so the scan stays
    * codegen-bound and shuffle-free.
    */
  def textRepetition(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        // n_shingles = n_tokens - 2, hash-free from the stats kernel —
        // the fingerprint kernel would pay a sha256 per shingle just to
        // be read for its count
        graft.functions.GraftFunctions.text_stats(col("text"), Nil).as("st"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))
      .where(col("sset").isNotNull)
      .select(col("doc_id"),
        (col("st").getItem(0) - 2).as("n_shingles"),
        size(col("sset")).cast(LongType).as("n_distinct"))
      .withColumn("rep_ratio_e4",
        expr("(n_shingles - n_distinct) * 10000L div n_shingles"))
      .orderBy("doc_id")

  val textRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesDuck AS shingles FROM t),
       |c AS (SELECT doc_id,
       |        CAST(len(shingles) AS BIGINT) AS n_shingles,
       |        CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct
       |      FROM sh WHERE len(shingles) > 0)
       |SELECT doc_id, n_shingles, n_distinct,
       |  (n_shingles - n_distinct) * 10000 // n_shingles AS rep_ratio_e4
       |FROM c ORDER BY doc_id""".stripMargin

  /** Per-document top-3 salient terms by an integer TF-IDF variant
    * (score = tf * 1e4 / df — log-free so both engines agree digit-for-
    * digit; the df-reciprocal keeps the idf MONOTONicity that picks
    * distinctive terms, which is what the operator is for). The classic
    * two-aggregation shape: tf = one (doc, token) groupBy, df = one
    * token groupBy OVER the tf rows (so the corpus explodes once), then
    * a token-keyed join back and a per-doc top-k window. All four
    * exchanges carry partially-aggregated short rows; the df side is
    * vocab-sized and would be broadcast when the vocabulary is bounded.
    * tf feeds BOTH the df aggregation and the join, so it is persisted —
    * otherwise the corpus is scanned and exploded twice (verified: the
    * two identical tf shuffles are not reliably deduped by exchange
    * reuse); at corpus scale the same reuse is a one-time tf parquet
    * materialization instead of a cache.
    */
  /** BM25 RANKING of the corpus against a fixed query-term set — the
    * retrieval scorer behind targeted data selection (score a corpus
    * against a task description, keep the top slice). Uses the RATIONAL
    * BM25 form so both engines agree bit-for-bit: k1 = 6/5, b = 3/4
    * fold algebraically into
    * `term = idf_e6 · 44·tf·avgdl / (20·tf·avgdl + 6·avgdl + 18·dl)`
    * with `idf_e6 = 10^6·(N−df) div (df+1)` (the log-free idf variant;
    * monotone in df like the Robertson log, and exactly reproducible —
    * `ln` would tie the hash to libm rounding). avgdl is floored once
    * corpus-wide. Per-term products accumulate in Decimal(38,0): at
    * 10^11 docs idf_e6·44·tf·avgdl overflows a long. The summed score
    * re-emits as BIGINT (safe: per-term scores are ≤ idf_e6 ≤ 10^6·N
    * and query terms are few; emit the decimal string instead if ever
    * ranking against 10^6-term queries).
    *
    * Scale: the token explode is filtered to the query terms BEFORE the
    * tf aggregation, so only matching occurrences ever shuffle; df and
    * the corpus scalars (N, total tokens) are one-row/term-count
    * broadcasts; doc lengths come from the compiled TextStats kernel
    * and join the (tiny, term-filtered) tf frame broadcast-side. Top-k
    * is TakeOrderedAndProject, never a global sort.
    */
  def bm25Rank(spark: SparkSession, d: String,
      queryTerms: Seq[String] = Seq("spark", "query", "table"),
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val docs = Tables.documents(spark, d)
    val dl = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.text_stats(col("text"), Nil)
        .getItem(0).as("dl"))
    val scalars = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) div count(1)").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .where(col("token").isInCollection(queryTerms))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scalars))
      .withColumn("idf_e6", expr("(n_docs - df) * 1000000L div (df + 1)"))
      .withColumn("term_score", expr(
        """CAST(idf_e6 AS DECIMAL(38,0)) * (44 * tf * avgdl)
          |  div (20 * tf * avgdl + 6 * avgdl + 18 * dl)""".stripMargin))
      .groupBy("doc_id")
      .agg(sum(col("term_score")).cast(LongType).as("score_e6"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(k)
  }

  val bm25RankSql: String =
    s"""WITH dl AS (SELECT doc_id, CAST(len($tokensDuck) AS BIGINT) AS dl FROM documents),
       |sc AS (SELECT count(*) AS n_docs, CAST(sum(dl) // count(*) AS BIGINT) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($tokensDuck) AS token FROM documents)
       |       WHERE token IN ('spark', 'query', 'table')
       |       GROUP BY doc_id, token),
       |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |s AS (SELECT tf.doc_id,
       |        ((sc.n_docs - dfq.df) * 1000000 // (dfq.df + 1))
       |          * (44 * tf.tf * sc.avgdl)
       |          // (20 * tf.tf * sc.avgdl + 6 * sc.avgdl + 18 * dl.dl) AS term_score
       |      FROM tf JOIN dfq USING (token) JOIN dl ON dl.doc_id = tf.doc_id, sc)
       |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e6,
       |  count(*) AS n_terms_hit
       |FROM s GROUP BY doc_id
       |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin

  def tfidfTopTerms(spark: SparkSession, d: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .persist()
    val dfTbl = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(dfTbl, "token")
      .withColumn("score_e4", expr("tf * 10000L div df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_e4").desc, col("token"))))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "score_e4")
      .orderBy("doc_id", "rank")
  }

  val tfidfTopTermsSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($tokensDuck) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |s AS (SELECT doc_id, token, tf.tf, dfq.df,
       |        tf.tf * 10000 // dfq.df AS score_e4,
       |        row_number() OVER (PARTITION BY doc_id
       |          ORDER BY tf.tf * 10000 // dfq.df DESC, token) AS rank
       |      FROM tf JOIN dfq USING (token))
       |SELECT doc_id, rank, token, tf, df, score_e4
       |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Sequence packing: assign documents to token-capacity training bins
    * by cumulative START OFFSET in doc_id order — bin = floor(tokens
    * before this doc / capacity), so a doc straddling a boundary is
    * wholly assigned to the bin it starts in and that bin overflows by
    * less than one document (the pack-then-truncate/pad discipline
    * trainers actually use; exact never-overflow first-fit is a
    * sequential fold, not a window). The batch-construction step
    * between curation and the trainer. Packing is CHUNKED: a running
    * token sum per shard of `shardSize` doc_ids, so the window is
    * partitioned — never the single-partition global window that would
    * serialize 10^11 docs; production packs per input split the same
    * way, and the shard factor in bin_id keeps bins globally unique.
    */
  def packSequences(spark: SparkSession, d: String,
      capacity: Long = 2048L, shardSize: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $shardSize"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        (col("shard") * 1000000L + expr(s"cum_before div $capacity")).as("bin_id"))
      .orderBy("doc_id")
  }

  val packSequencesSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($tokensDuck) AS BIGINT) AS n_tokens,
       |             doc_id // 100 AS shard
       |           FROM documents),
       |c AS (SELECT doc_id, n_tokens, shard,
       |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |      FROM t)
       |SELECT doc_id, n_tokens, shard,
       |  CAST(shard * 1000000 + cum_before // 2048 AS BIGINT) AS bin_id
       |FROM c ORDER BY doc_id""".stripMargin

  /** Inverted INDEX build: per term, the document frequency plus a
    * BOUNDED posting sample (the `maxPostings` doc_id-smallest docs,
    * comma-joined for a stable cross-engine rendering) and an id-sum
    * checksum over the FULL posting set — the retrieval-side artifact a
    * corpus pipeline materializes next to the training set.
    *
    * Scale shape: explode → distinct (doc, term) pairs, then ONE
    * exchange on the term: the rank window (`partitionBy(token)`) and
    * the follow-up `groupBy(token)` share the same hash partitioning,
    * so Catalyst plans a single shuffle for both. The collected posting
    * list is capped BEFORE aggregation by the rank filter — no group
    * ever materializes an unbounded array (a top term at corpus scale
    * has 10^9 postings; the full list lives only as the streamed count
    * and checksum).
    */
  /** Index knobs shared by [[invertedIndex]]'s defaults and the SQL
    * oracle (interpolated into both) — one definition, no drift.
    */
  val DefaultMinDf = 5L
  val DefaultMaxPostings = 100

  def invertedIndex(spark: SparkSession, d: String,
      minDf: Long = DefaultMinDf,
      maxPostings: Int = DefaultMaxPostings): DataFrame = {
    require(minDf >= 1 && maxPostings >= 1,
      s"need minDf >= 1 and maxPostings >= 1, got ($minDf, $maxPostings)")
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("token").orderBy("doc_id")))
      .groupBy("token")
      .agg(
        count(lit(1)).as("doc_freq"),
        array_join(sort_array(collect_list(
          when(col("rk") <= maxPostings, col("doc_id")))), ",").as("postings"),
        sum("doc_id").as("id_sum"))
      .where(col("doc_freq") >= minDf)
      .orderBy("token")
  }

  val invertedIndexSql: String =
    s"""WITH p AS (SELECT DISTINCT doc_id, token
       |           FROM (SELECT doc_id, unnest($tokensDuck) AS token FROM documents))
       |SELECT token, count(*) AS doc_freq,
       |  array_to_string(list(doc_id ORDER BY doc_id)[1:$DefaultMaxPostings], ',') AS postings,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM p GROUP BY token HAVING count(*) >= $DefaultMinDf ORDER BY token""".stripMargin

  /** Shingle NOVELTY score: per document, the fraction of its distinct
    * 3-gram shingles that occur in NO other document (corpus df = 1) —
    * high novelty marks genuinely fresh text, low novelty marks
    * boilerplate/templated content even when no single document is a
    * near-duplicate (the aggregate-overlap signal the pairwise dedup
    * family can't see, and a memorization-risk proxy: low-novelty text
    * is what a model sees many times under different doc_ids).
    *
    * Scale: explode distinct shingles (the compiled ShingleSet kernel),
    * one shuffle for the shingle df with map-side partials, join the
    * exploded rows back on the shingle key, one per-doc aggregate —
    * the tf-idf plan shape. The shingle-df frame is corpus-sized; at
    * 100 TB the df side stays a shuffle join (never broadcast) and AQE
    * splits hot boilerplate shingles.
    */
  def textNovelty(spark: SparkSession, d: String): DataFrame = {
    val sets = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))
      .where(col("sset").isNotNull)
      .select(col("doc_id"), explode(col("sset")).as("shingle"))
      .persist()
    val df = sets.groupBy("shingle").agg(count(lit(1)).as("df"))
    sets.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_e4", expr("n_unique * 10000L div n_shingles"))
      .orderBy("doc_id")
  }

  val textNoveltySql: String =
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |sx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS shingle
       |       FROM t WHERE len($shinglesDuck) > 0),
       |sdf AS (SELECT shingle, count(*) AS df FROM sx GROUP BY shingle)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS novelty_e4
       |FROM sx JOIN sdf USING (shingle)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Count-min-sketch HEAVY HITTERS: the corpus token stream feeds
    * Spark's distributed CountMinSketchAgg (map-side partial sketches,
    * associative merge — the frequency path when the vocabulary itself
    * is too large to aggregate exactly); the top-k tokens' estimates are
    * then probed from the collected sketch — a model artifact of a few
    * KB, same discipline as the Bloom filter and the k-means centroids —
    * and emitted as ACCURACY BOOLEANS beside the exact counts: the CMS
    * guarantees est >= true always, and est <= true + eps·N with the
    * sketch's confidence. Same oracle contract shape as the HLL and
    * approx_percentile twins (the oracle checks the exact columns and
    * asserts the booleans true).
    *
    * The exact count here doubles as the top-k selector; at true corpus
    * scale the selector is itself sketch-driven (CMS + a heap per
    * partition) and the exact pass runs only over the k candidates.
    */
  def cmsTopk(spark: SparkSession, d: String, k: Int = 20,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select(explode(expr(tokensSpark)).as("token"))
    val sketch = toks.stat.countMinSketch("token", eps, confidence, seed)
    // PROBABILISTIC CONTRACT: the CMS guarantees est <= n + eps·N only
    // with `confidence` (0.99) per probe — deterministic for this seed +
    // fixture, but a regenerated or larger fixture could legitimately
    // land a probe in the 1% tail. The emitted boolean therefore asserts
    // the DOUBLED band (est <= n + 2·eps·N, failure odds ~per-row
    // 0.01²·rows for the two-sided union), so a fixture change cannot
    // read as a framework bug; est_ge_exact stays the hard guarantee.
    val bound = math.ceil(eps * sketch.totalCount).toLong
    val top = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    top.map { case (t, n) =>
      val est = sketch.estimateCount(t)
      (t, n, est >= n, est <= n + 2 * bound)
    }.toSeq.toDF("token", "n_exact", "est_ge_exact", "est_within_eps")
      .orderBy("token")
  }

  val cmsTopkSql: String =
    s"""SELECT token, n_exact, est_ge_exact, est_within_eps FROM (
       |  SELECT token, count(*) AS n_exact,
       |    true AS est_ge_exact, true AS est_within_eps
       |  FROM (SELECT unnest($tokensDuck) AS token FROM documents)
       |  GROUP BY token ORDER BY n_exact DESC, token LIMIT 20)
       |ORDER BY token""".stripMargin

  /** Posting-length cap for [[winnowPostings]] (lengths >= the cap
    * collapse into one open-ended bucket), shared with the oracle.
    */
  val PostingLenCap = 10L

  /** WINNOW POSTING-LIST PROFILE — the [[lshTuning]] twin for the
    * fingerprint funnel: for each posting-list length (docs per
    * fingerprint, capped into an open-ended >= cap bucket), how many
    * fingerprints have it, how many (fp, doc) rows they carry, and how
    * many candidate PAIRS they would generate (Σ n·(n−1)/2 — the exact
    * cost of the pair join, priced WITHOUT running it). This is the
    * report that sizes the stop-fingerprint rule: dropping fps with
    * more than K postings removes `sum_pairs` above the K bucket —
    * boilerplate fingerprints are precisely the hot tail, and at 100 TB
    * the profile is what justifies the threshold before committing to
    * the quadratic join.
    *
    * Scale shape: one fp-keyed aggregation of the exploded fingerprint
    * rows (map-side partials), then a ≤ cap-group rollup — strictly
    * cheaper than the funnel it prices.
    */
  def winnowPostings(spark: SparkSession, d: String,
      cap: Long = PostingLenCap): DataFrame = {
    require(cap >= 2, s"posting-length cap must be at least 2, got $cap")
    winnowFpRows(spark, d)
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .select(least(col("n_docs"), lit(cap)).as("posting_len"), col("n_docs"))
      .groupBy("posting_len")
      .agg(count(lit(1)).as("n_fps"),
        sum("n_docs").as("sum_postings"),
        sum(expr("n_docs * (n_docs - 1) div 2")).as("sum_pairs"))
      .orderBy("posting_len")
  }

  val winnowPostingsSql: String =
    s"""WITH ${winnowDuckCtes()},
       |pl AS (SELECT fp, count(*) AS n_docs FROM fpx GROUP BY fp),
       |b AS (SELECT least(n_docs, $PostingLenCap) AS posting_len, n_docs FROM pl)
       |SELECT posting_len,
       |  count(*) AS n_fps,
       |  CAST(sum(n_docs) AS BIGINT) AS sum_postings,
       |  CAST(sum(n_docs * (n_docs - 1) // 2) AS BIGINT) AS sum_pairs
       |FROM b GROUP BY posting_len ORDER BY posting_len""".stripMargin

  /** Gram width / corpus-frequency threshold for [[boilerplateScrub]],
    * interpolated into both the Scala default and the oracle SQL so an
    * edit cannot desynchronize them. n matches the corpus shingle width;
    * minDf = 2 is the C4 rule ("occurs more than once in the corpus").
    */
  val DefaultBoilerGramN = 3
  val DefaultBoilerMinDf = 2

  /** CORPUS-GLOBAL boilerplate removal (the C4 rule, Raffel et al. 2020
    * §2.2 — there stated over three-sentence spans; token n-grams here
    * since the fixture documents are single-line): an n-gram that occurs
    * in at least `minDf` DISTINCT documents is boilerplate, and every
    * token position it covers is scrubbed from every document that
    * contains it. Differs from [[repCoverage]] (within-doc repeats) and
    * [[spanDedup]] (pairwise candidate spans) by keying on corpus-wide
    * document frequency — the signal that catches headers, licenses and
    * navigation chrome that appear once per document across millions of
    * documents, which neither of the other two forms can see.
    *
    * Output is total over documents: per doc the token count, covered
    * count (interval-union over overlapping flagged grams), coverage in
    * e4, and the H16 digest of the scrubbed text (tokens at covered
    * positions removed, survivors re-joined with single spaces) — the
    * digest makes the scrub itself verifiable, not just the counts.
    *
    * Scale shape: one explode into (doc, pos, gram) rows — persisted
    * because it feeds both the df aggregation and the cover join, and
    * exchange reuse does not reliably dedupe identical shuffle subtrees.
    * The df pass is one
    * gram-keyed aggregation of map-side partials; flagged grams are by
    * construction a small fraction of the vocabulary, and the cover
    * pass re-joins the SAME gram-keyed frame against them (an equi-join
    * on the existing keying — AQE broadcasts the flagged side when it
    * is small). The union is a doc-keyed aggregation. Nothing is
    * pairwise; everything shuffled is (long, int, short-string) rows —
    * linear in corpus size at any duplication rate.
    */
  def boilerplateScrub(spark: SparkSession, d: String,
      n: Int = DefaultBoilerGramN, minDf: Int = DefaultBoilerMinDf,
      collapse: Option[Boolean] = None): DataFrame = {
    require(n >= 2, s"gram width must be at least 2, got $n")
    require(minDf >= 2, s"df threshold must be at least 2, got $minDf")
    // DUPLICATION-ADAPTIVE: every output column is a function of the
    // document TEXT plus the corpus-global flagged-gram set, and that
    // set itself only needs per-content gram rows weighted by copy
    // count (df = Σ copies over contents containing the gram — exactly
    // the distinct-doc count). So under duplication mass the whole
    // gram pipeline runs once per DISTINCT content and the per-doc
    // report expands through the (doc_id, ch) membership — the same
    // collapse the dedup funnels and the admission probe make. The
    // probe's cost profile applies too: one content-hash pass + one
    // ch-keyed aggregation decide the branch, ~0.2 s at sf0.1 against
    // a gram stream that shrinks by the replica multiplicity (1000×
    // replica: 1044 s direct). A mostly-unique corpus (fixture SFs)
    // takes the direct path — the oracle pins it; the collapsed path
    // is pinned by BoilerplateCollapseSpec's differential on a
    // replicated fixture, forced through `collapse = Some(true/false)`.
    val docsT = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    // the branch DECISION is one cheap map-side sketch pass (xxhash64 +
    // HLL distinct — it only picks a plan, both plans are exact); only
    // the collapsed branch pays the real content-hash identity pass,
    // where the replica multiplicity amortizes it. Collapse when at
    // least half the corpus is exact copies — below that the
    // canonical-text selection join costs more than the gram stream
    // saves.
    val doCollapse = collapse.getOrElse {
      val s = docsT.agg(count(lit(1)).as("nd"),
        approx_count_distinct(xxhash64(col("text"))).as("nc")).collect()(0)
      s.getLong(1) * 2 <= s.getLong(0)
    }
    if (doCollapse) {
      val rep = docsT.select(col("doc_id"),
          graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
        .persist()
      val contents = rep.groupBy("ch")
        .agg(min(col("doc_id")).as("cid"), count(lit(1)).as("w"))
        .localCheckpoint(true)
      boilerplateScrubCollapsed(rep, contents, docsT, n, minDf)
    } else boilerplateScrubDirect(spark, d, n, minDf)
  }

  private def boilerplateScrubDirect(spark: SparkSession, d: String,
      n: Int, minDf: Int): DataFrame = {
    val parts = (0 until n).map(j => s"toks[i-1+$j]").mkString(", ")
    val t = Tables.documents(spark, d)
      .select(col("doc_id"), expr(tokensSpark).as("toks"))
    // Shuffle-lean shape (the round-13 A/B'd rewrite; r11/r12 numbers
    // in bench_out/BOILERPLATE_AB_r13.json):
    //  1. ONE corpus-sized shuffle: the exploded gram stream collapses
    //     straight to one row per (gram, doc) carrying its position
    //     list — that frame answers BOTH downstream questions (df =
    //     plain row count per gram, rows are already doc-distinct;
    //     coverage = re-explode of only the flagged rows' lists). The
    //     r11 shape shuffled the full exploded frame twice
    //     (countDistinct's partial-distinct pass AND the cover join).
    //  2. Grams travel as xxhash64 of the n token slots — ~3× fewer
    //     shuffle bytes than the concat_ws string and no per-row
    //     string allocation. A 64-bit collision would flag an
    //     unflagged gram (P ≈ V²/2⁶⁵; ~10⁻⁶ at the 100× replica's
    //     vocabulary) — the standard trade every hash-keyed dedup in
    //     this engine already makes.
    //  3. Coverage never expands to per-position rows: flagged gram
    //     START positions aggregate per doc, and the compiled
    //     [[graft.functions.ScrubCover]] kernel resolves the interval
    //     union, the covered count and the scrubbed digest text in one
    //     O(len + |starts|) BitSet pass — the r12 shape exploded every
    //     flagged gram n-fold and paid a corpus-wide distinct to undo
    //     the overlap.
    val gd = t.where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(toks) - ${n - 1}),
             |  i -> struct(i AS pos, xxhash64($parts) AS gram))"""
            .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
      .groupBy("gram", "doc_id")
      .agg(collect_list("pos").as("ps"))
      .persist()
    val flagged = gd.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select("gram")
    val cov = gd.join(flagged, Seq("gram"))
      .select(col("doc_id"), explode(col("ps")).as("pos"))
      .groupBy("doc_id")
      .agg(collect_list("pos").as("starts"))
    t.join(cov, Seq("doc_id"), "left")
      .withColumn("__sc", graft.functions.GraftFunctions.scrub_cover(
        col("toks"), col("starts"), n))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        coalesce(col("__sc.n_cov"), lit(0L)).as("n_covered"),
        expr("coalesce(__sc.n_cov, 0L) * 10000L div size(toks)").as("cov_e4"),
        substring(sha2(col("__sc.scrub"), 256), 1, 16)
          .as("scrub_h16"))
      .orderBy("doc_id")
  }

  /** The collapsed branch of [[boilerplateScrub]]: the direct
    * pipeline's shape, run over one canonical document per distinct
    * content, with df = Σ copy-weights (a gram in one content with w
    * copies IS in w distinct documents) and the per-content report
    * expanded through (doc_id, ch, cid). Output-identical to the
    * direct branch by construction — every column is a function of
    * text + the flagged set, and the weighted df equals the
    * distinct-doc df (BoilerplateCollapseSpec pins it).
    */
  private def boilerplateScrubCollapsed(rep: DataFrame, contents: DataFrame,
      docsT: DataFrame, n: Int, minDf: Int): DataFrame = {
    val parts = (0 until n).map(j => s"toks[i-1+$j]").mkString(", ")
    // canonical texts only — the join side is nContents rows (≤ half
    // the corpus by the branch condition; tiny under replay mass, so
    // AQE broadcasts it)
    val canon = docsT
      .join(contents.select(col("cid").as("doc_id"), col("w")), Seq("doc_id"))
      .select(col("doc_id").as("cid"), col("w"), expr(tokensSpark).as("toks"))
      .persist()
    val gd = canon.where(size(col("toks")) >= n)
      .select(col("cid"), col("w"),
        explode(expr(
          s"""transform(sequence(1, size(toks) - ${n - 1}),
             |  i -> struct(i AS pos, xxhash64($parts) AS gram))"""
            .stripMargin)).as("g"))
      .select(col("cid"), col("w"), col("g.pos").as("pos"),
        col("g.gram").as("gram"))
      .groupBy("gram", "cid")
      .agg(first(col("w")).as("w"), collect_list("pos").as("ps"))
      .persist()
    val flagged = gd.groupBy("gram")
      .agg(sum(col("w")).as("df"))
      .where(col("df") >= minDf)
      .select("gram")
    val cov = gd.join(flagged, Seq("gram"))
      .select(col("cid"), explode(col("ps")).as("pos"))
      .groupBy("cid")
      .agg(collect_list("pos").as("starts"))
    val perContent = canon.select(col("cid"), col("toks"))
      .join(cov, Seq("cid"), "left")
      .withColumn("__sc", graft.functions.GraftFunctions.scrub_cover(
        col("toks"), col("starts"), n))
      .select(col("cid"),
        size(col("toks")).cast(LongType).as("n_toks"),
        coalesce(col("__sc.n_cov"), lit(0L)).as("n_covered"),
        expr("coalesce(__sc.n_cov, 0L) * 10000L div size(toks)").as("cov_e4"),
        substring(sha2(col("__sc.scrub"), 256), 1, 16)
          .as("scrub_h16"))
    rep
      .join(contents.select(col("ch"), col("cid")), Seq("ch"))
      .join(perContent, Seq("cid"))
      .select("doc_id", "n_toks", "n_covered", "cov_e4", "scrub_h16")
      .orderBy("doc_id")
  }

  val boilerplateScrubSql: String = {
    val n = DefaultBoilerGramN
    val parts = (0 until n).map(j => s"toks[pos+$j]").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks,
       |         unnest(range(1, len(toks) - ${n - 1} + 1)) AS pos
       |       FROM t WHERE len(toks) >= $n),
       |g AS (SELECT doc_id, pos, concat_ws(' ', $parts) AS gram FROM g0),
       |flagged AS (SELECT gram FROM (
       |    SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram)
       |  WHERE df >= $DefaultBoilerMinDf),
       |cp0 AS (SELECT doc_id, unnest(range(pos, pos + $n)) AS cp
       |        FROM g JOIN flagged USING (gram)),
       |cov AS (SELECT doc_id, count(*) AS n_cov, list(cp ORDER BY cp) AS cov
       |        FROM (SELECT DISTINCT doc_id, cp FROM cp0) GROUP BY doc_id),
       |s AS (SELECT t.doc_id, t.toks, cov.n_cov, coalesce(cov.cov, []) AS cov
       |      FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |  CAST(coalesce(n_cov, 0) AS BIGINT) AS n_covered,
       |  CAST(coalesce(n_cov, 0) * 10000 // len(toks) AS BIGINT) AS cov_e4,
       |  substr(sha256(coalesce(array_to_string(
       |    list_transform(
       |      list_filter(range(1, len(toks) + 1), i -> NOT list_contains(cov, i)),
       |      i -> toks[i]), ' '), '')), 1, 16) AS scrub_h16
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** PER-SOURCE VOCABULARY CONCENTRATION — the corpus-health panel a
    * mixture designer reads beside [[graft.operators.TrainingPrep]]'s
    * mix weights: token volume, vocabulary size, the Herfindahl index
    * (Σ pᵢ², the log-free concentration twin of unigram entropy — high
    * HHI = a few tokens dominate = templated/spammy source), and the
    * single most frequent token with its share. All integer-exact: HHI
    * in ppm as `Σ cᵢ²·10⁶ div N²` accumulated in Decimal(38,0) (Σ cᵢ²
    * overflows BIGINT once a source passes ~3·10⁹ tokens — at 100 TB a
    * single source legitimately does), shares in ppm by floor division.
    * Ties on the top token resolve to the lexicographically LARGEST
    * token (struct-max on both engines — shared contract).
    *
    * Scale shape: one explode into (source, token) rows, ONE exchange
    * keyed (source, token) for the counts, then a source-keyed rollup
    * of vocab-sized partials; the top-token pick is a struct-max
    * aggregate, not a window. Nothing pairwise, nothing corpus-sized
    * past the first aggregation.
    */
  def vocabConcentration(spark: SparkSession, d: String): DataFrame = {
    val tc = Tables.documents(spark, d)
      .select(col("source"), explode(expr(tokensSpark)).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    tc.groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("sum_c2"),
        max(struct(col("c"), col("token"))).as("m"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        expr("cast(sum_c2 * 1000000 div (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)")
          .as("hhi_ppm"),
        col("m.token").as("top_token"),
        expr("m.c * 1000000L div n_tokens").as("top_share_ppm"))
      .orderBy("source")
  }

  val vocabConcentrationSql: String =
    s"""WITH tok AS (SELECT source, unnest($tokensDuck) AS token FROM documents),
       |tc AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
       |agg AS (SELECT source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_vocab,
       |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum_c2
       |  FROM tc GROUP BY source),
       |top AS (SELECT source, token AS top_token, c AS top_c FROM (
       |    SELECT source, token, c, row_number() OVER (PARTITION BY source
       |      ORDER BY c DESC, token DESC) AS rn FROM tc) WHERE rn = 1)
       |SELECT a.source, a.n_tokens, a.n_vocab,
       |  CAST(a.sum_c2 * 1000000 // (CAST(a.n_tokens AS HUGEINT) * a.n_tokens) AS BIGINT) AS hhi_ppm,
       |  t.top_token,
       |  CAST(t.top_c * 1000000 // a.n_tokens AS BIGINT) AS top_share_ppm
       |FROM agg a JOIN top t USING (source) ORDER BY a.source""".stripMargin

  /** The 36 [a-z0-9] character classes, shared by both engines. */
  private val CharClasses: Seq[String] = ("abcdefghijklmnopqrstuvwxyz" + "0123456789").map(_.toString)

  /** CHARACTER-DIVERSITY gibberish detector: per-doc inverse-Simpson
    * concentration over the [a-z0-9] character distribution — the
    * per-DOC char-level twin of [[vocabConcentration]]'s per-source
    * token panel. `eff_alphabet_ppm = N²·10⁶ div Σc²` is the effective
    * alphabet size (1e6 = one character used exclusively, 36e6 = all 36
    * classes uniform); keyboard mashing, base64 blobs, and
    * single-char-run spam all collapse it or spike `top_share_e4`, so a
    * cleaning pipeline thresholds on it where entropy would need libm
    * logs (inverse Simpson is the RATIONAL diversity index — exact in
    * integer math, monotone with entropy on the distributions that
    * matter).
    *
    * Per-class counts come from the literal-`replace` length trick
    * (`len(lw) − len(replace(lw, ch))`) — no regex, no explode; 36
    * linear passes per doc, all map-side. N²·10⁶ accumulates in
    * Decimal(38,0)/HUGEINT (like [[vocabConcentration]]'s hhi_ppm), so
    * docs beyond ~3×10⁶ alnum chars rank correctly instead of silently
    * wrapping BIGINT. Zero-alnum docs (pure symbol/emoji spam — a prime
    * gibberish case) are EMITTED with n_alnum = 0 and diverse_ok =
    * false, not filtered: a pipeline thresholding on this panel must
    * see the detector's own worst case.
    */
  def charDiversity(spark: SparkSession, d: String): DataFrame =
    charDiversityFrom(Tables.documents(spark, d))

  /** Core of [[charDiversity]] over any (doc_id, text) frame — split out
    * so specs can probe the zero-alnum and >3×10⁶-char regimes the
    * fixture corpus never exercises.
    */
  def charDiversityFrom(docs: DataFrame): DataFrame = {
    docs
      .withColumn("lw", lower(col("text")))
      // compiled one-pass kernel; byte-exact twin of the declarative
      // 36-replace ladder (CharClassCountsSpec pins it), which
      // evaluated interpreted and re-scanned the string per class —
      // unfinishable on a single-task scan at the 1000× replica
      .withColumn("cc",
        graft.functions.GraftFunctions.char_class_counts(col("lw")))
      .withColumn("n_alnum", expr("aggregate(cc, 0L, (a, v) -> a + v)"))
      .select(
        col("doc_id"), col("n_alnum"),
        expr("""CASE WHEN n_alnum > 0 THEN CAST(
            CAST(n_alnum AS DECIMAL(38,0)) * n_alnum * 1000000
              div aggregate(cc, CAST(0 AS DECIMAL(38,0)), (a, v) -> a + v * v)
            AS BIGINT) ELSE 0L END""").as("eff_alphabet_ppm"),
        expr("CASE WHEN n_alnum > 0 THEN array_max(cc) * 10000L div n_alnum ELSE 0L END")
          .as("top_share_e4"),
        expr("CAST(size(filter(cc, v -> v > 0)) AS BIGINT)").as("n_distinct_chars"))
      .withColumn("diverse_ok",
        col("n_alnum") > 0L &&
          col("eff_alphabet_ppm") >= 5000000L && col("top_share_e4") <= 3000L)
      .orderBy("doc_id")
  }

  val charDiversitySql: String = {
    val classesList = CharClasses.map(c => s"'$c'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, lower(text) AS lw FROM documents),
       |c AS (SELECT doc_id, list_transform($classesList,
       |        ch -> CAST(length(lw) - length(replace(lw, ch, '')) AS BIGINT)) AS cc
       |      FROM t),
       |s AS (SELECT doc_id, cc, CAST(coalesce(list_sum(cc), 0) AS BIGINT) AS n_alnum FROM c),
       |m AS (SELECT doc_id, n_alnum,
       |    CASE WHEN n_alnum > 0 THEN CAST(
       |      CAST(n_alnum AS HUGEINT) * n_alnum * 1000000
       |        // CAST(list_sum(list_transform(cc, v -> v * v)) AS HUGEINT)
       |      AS BIGINT) ELSE 0 END AS eff_alphabet_ppm,
       |    CASE WHEN n_alnum > 0
       |      THEN CAST(list_max(cc) AS BIGINT) * 10000 // n_alnum
       |      ELSE 0 END AS top_share_e4,
       |    CAST(len(list_filter(cc, v -> v > 0)) AS BIGINT) AS n_distinct_chars
       |  FROM s)
       |SELECT doc_id, n_alnum, eff_alphabet_ppm, top_share_e4, n_distinct_chars,
       |  (n_alnum > 0 AND eff_alphabet_ppm >= 5000000 AND top_share_e4 <= 3000) AS diverse_ok
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary-budget cut points for [[vocabCoverage]] — spans the
    * fully-saturated regime (the fixture vocabulary is small) and the
    * open-tail regime, so the panel is non-degenerate at every SF.
    */
  val VocabCoverageCuts: Seq[Int] = Seq(4, 16, 64, 256, 1024)

  /** VOCABULARY COVERAGE (Zipf) panel: for each candidate vocabulary
    * budget K, how much of the corpus token mass the top-K tokens cover
    * — the table a tokenizer designer reads to pick a vocab size (and
    * the rank-frequency face of Zipf's law: coverage_ppm vs K IS the
    * integrated Zipf curve). `min_count_in` is the collection frequency
    * of the K-th token — the cutoff a frequency-thresholded vocabulary
    * would use to realize the same cut.
    *
    * Scale shape: ONE corpus shuffle builds the vocab-sized (token, c)
    * frame (map-side partial counts); each cut is then a BOUNDED global
    * top-K (`TakeOrdered`) over the persisted vocab frame plus a 1-row
    * aggregate — no global sort, no single-partition window, nothing
    * corpus-sized past the first aggregation. Ties at the boundary
    * resolve by the shared total order (count DESC, token ASC).
    */
  def vocabCoverage(spark: SparkSession, d: String): DataFrame = {
    val tc = Tables.documents(spark, d)
      .select(explode(expr(tokensSpark)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .persist()
    // Not only a fill: the cuts are planned over a filled cache. Planned
    // over an unfilled one, the action ran 10 jobs instead of 2 at sf0.1
    // (11 in all, not 6), so this count stays.
    tc.count()
    val totals = tc.agg(
      sum("c").as("n_tokens_total"), count(lit(1)).as("n_vocab_total"))
    val cuts = VocabCoverageCuts.map { k =>
      tc.orderBy(col("c").desc, col("token").asc).limit(k)
        .agg(count(lit(1)).as("n_in"),
          sum("c").as("covered_tokens"),
          min("c").as("min_count_in"))
        .select(lit(k.toLong).as("vocab_k"), col("n_in"),
          col("covered_tokens"), col("min_count_in"))
    }.reduce(_ union _)
    cuts.join(broadcast(totals))
      .select(col("vocab_k"), col("n_in"), col("covered_tokens"),
        col("min_count_in"),
        expr("covered_tokens * 1000000L div n_tokens_total").as("coverage_ppm"),
        col("n_vocab_total"), col("n_tokens_total"))
      .orderBy("vocab_k")
  }

  val vocabCoverageSql: String = {
    val cutsList = VocabCoverageCuts.mkString("[", ", ", "]")
    s"""WITH tok AS (SELECT unnest($tokensDuck) AS token FROM documents),
       |tc AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
       |r AS (SELECT token, c,
       |    row_number() OVER (ORDER BY c DESC, token ASC) AS rn FROM tc),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens_total,
       |    count(*) AS n_vocab_total FROM tc),
       |ks AS (SELECT CAST(unnest($cutsList) AS BIGINT) AS vocab_k)
       |SELECT ks.vocab_k, count(*) AS n_in,
       |  CAST(sum(r.c) AS BIGINT) AS covered_tokens,
       |  CAST(min(r.c) AS BIGINT) AS min_count_in,
       |  CAST(sum(r.c) * 1000000 // max(tot.n_tokens_total) AS BIGINT) AS coverage_ppm,
       |  max(tot.n_vocab_total) AS n_vocab_total,
       |  max(tot.n_tokens_total) AS n_tokens_total
       |FROM ks JOIN r ON r.rn <= ks.vocab_k CROSS JOIN tot
       |GROUP BY ks.vocab_k ORDER BY ks.vocab_k""".stripMargin
  }

  /** Slice count for [[ngramSaturation]] — 8 cumulative corpus
    * fractions, assigned by the key-pure sha-bucket hash (the
    * [[Curation.sampleHash]] family), so the curve is reproducible and
    * the slices are unbiased under any doc_id layout.
    */
  val SaturationSlices = 8

  /** N-GRAM SATURATION (Heap's law) curve: split the corpus into 8
    * hash-assigned slices, and for each cumulative prefix report how
    * many NEW distinct 3-gram shingles that slice contributed —
    * `discovery_ppm` (new grams per million gram occurrences in the
    * slice) is the marginal-novelty rate a data-scaling decision reads:
    * a flat curve says more of the same data still buys new content; a
    * collapsing one says the corpus is saturating and the next token
    * budget should buy DIFFERENT data. (Heaps 1978; the measurement
    * behind data-mixing "quality vs quantity" calls.)
    *
    * Scale shape: a gram's first-appearance slice is `min(slice)` over
    * its occurrences — ONE corpus shuffle keyed (gram, slice) with
    * map-side combine, grams shipped as xxhash64 longs (the
    * [[boilerplateScrub]] economics); everything after is vocab-sized
    * (per-gram min) or 8-row (per-slice rollups, running sums). No
    * pairwise terms, no corpus-sized sort.
    */
  def ngramSaturation(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sliceCol = expr(
      s"cast(conv(substring(sha2(cast(doc_id as string), 256), 1, 8), 16, 10) as bigint) % $SaturationSlices")
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), sliceCol.as("slice"), expr(tokensSpark).as("toks"))
    val perSliceDocs = docs.groupBy("slice").agg(count(lit(1)).as("n_docs"))
    val gs = docs.where(size(col("toks")) >= 3)
      .select(col("slice"),
        explode(expr(s"transform(sequence(1, size(toks) - 2), " +
          "i -> xxhash64(concat_ws(' ', toks[i-1], toks[i], toks[i+1])))")).as("gram"))
      .groupBy("gram", "slice").agg(count(lit(1)).as("c"))
      .persist()
    gs.count() // two vocab-sized consumers below; pin one corpus shuffle
    val perSliceOcc = gs.groupBy("slice").agg(sum("c").as("occ"))
    val newGrams = gs.groupBy("gram").agg(min("slice").as("first_slice"))
      .groupBy("first_slice").agg(count(lit(1)).as("new_grams"))
      .withColumnRenamed("first_slice", "slice")
    val w = Window.orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.range(SaturationSlices).select(col("id").as("slice"))
      .join(perSliceDocs, Seq("slice"), "left")
      .join(perSliceOcc, Seq("slice"), "left")
      .join(newGrams, Seq("slice"), "left")
      .select(col("slice"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("occ"), lit(0L)).as("occ"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      // 8 rows; the single-partition window is on the FINAL tiny frame
      .select(col("slice"),
        sum("n_docs").over(w).as("n_docs_cum"),
        sum("occ").over(w).as("occ_cum"),
        col("new_grams"),
        sum("new_grams").over(w).as("distinct_grams_cum"),
        expr("CASE WHEN occ > 0 THEN new_grams * 1000000L div occ ELSE 0L END")
          .as("discovery_ppm"))
      .orderBy("slice")
  }

  val ngramSaturationSql: String =
    s"""WITH b AS (SELECT doc_id,
       |    ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $SaturationSlices AS slice,
       |    $tokensDuck AS toks FROM documents),
       |g AS (SELECT slice, unnest($shinglesDuck) AS gram FROM b WHERE len(toks) >= 3),
       |gs AS (SELECT gram, slice, count(*) AS c FROM g GROUP BY 1, 2),
       |ps AS (SELECT slice, CAST(sum(c) AS BIGINT) AS occ FROM gs GROUP BY slice),
       |ng AS (SELECT first_slice AS slice, count(*) AS new_grams FROM
       |    (SELECT gram, min(slice) AS first_slice FROM gs GROUP BY gram)
       |  GROUP BY 1),
       |nd AS (SELECT slice, count(*) AS n_docs FROM b GROUP BY slice),
       |base AS (SELECT s.slice,
       |    coalesce(nd.n_docs, 0) AS n_docs,
       |    coalesce(ps.occ, 0) AS occ,
       |    coalesce(ng.new_grams, 0) AS new_grams
       |  FROM (SELECT unnest(range($SaturationSlices)) AS slice) s
       |  LEFT JOIN nd USING (slice) LEFT JOIN ps USING (slice)
       |  LEFT JOIN ng USING (slice))
       |SELECT slice,
       |  CAST(sum(n_docs) OVER (ORDER BY slice) AS BIGINT) AS n_docs_cum,
       |  CAST(sum(occ) OVER (ORDER BY slice) AS BIGINT) AS occ_cum,
       |  CAST(new_grams AS BIGINT) AS new_grams,
       |  CAST(sum(new_grams) OVER (ORDER BY slice) AS BIGINT) AS distinct_grams_cum,
       |  CASE WHEN occ > 0 THEN CAST(new_grams * 1000000 // occ AS BIGINT)
       |       ELSE 0 END AS discovery_ppm
       |FROM base ORDER BY slice""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_ngram_saturation" -> (ngramSaturation _),
    "q_char_diversity" -> (charDiversity _),
    "q_inverted_index" -> ((s, d) => invertedIndex(s, d)),
    "q_text_novelty" -> (textNovelty _),
    "q_cms_topk" -> ((s, d) => cmsTopk(s, d)),
    "q_text_vocab" -> (textVocab _),
    "q_text_vocab_hll" -> (textVocabHll _),
    "q_bpe_pairs" -> ((s, d) => bpePairs(s, d)),
    "q_bpe_apply" -> ((s, d) => bpeApply(s, d)),
    "q_bpe_train" -> ((s, d) => bpeTrain(s, d)),
    "q_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "q_token_fertility" -> ((s, d) => tokenFertility(s, d)),
    "q_tfidf_topterms" -> ((s, d) => tfidfTopTerms(s, d)),
    "q_bm25_rank" -> ((s, d) => bm25Rank(s, d)),
    "q_pack_sequences" -> ((s, d) => packSequences(s, d)),
    "q_text_winnow" -> (textWinnow _),
    "q_winnow_postings" -> ((s, d) => winnowPostings(s, d)),
    "q_winnow_pairs" -> ((s, d) => winnowPairs(s, d)),
    "q_span_dedup" -> ((s, d) => spanDedup(s, d)),
    "q_span_coverage" -> ((s, d) => spanCoverage(s, d)),
    "q_text_repetition" -> (textRepetition _),
    "q_rep_coverage" -> ((s, d) => repCoverage(s, d)),
    "q_boilerplate_scrub" -> ((s, d) => boilerplateScrub(s, d)),
    "q_vocab_concentration" -> (vocabConcentration _),
    "q_text_tokens" -> (textTokens _),
    "q_text_quality" -> (textQuality _),
    "q_text_langid" -> (textLangId _),
    "q_text_fingerprint" -> (textFingerprint _))

  val oracles: Map[String, String] = Map(
    "q_vocab_coverage" -> vocabCoverageSql,
    "q_ngram_saturation" -> ngramSaturationSql,
    "q_char_diversity" -> charDiversitySql,
    "q_inverted_index" -> invertedIndexSql,
    "q_text_novelty" -> textNoveltySql,
    "q_cms_topk" -> cmsTopkSql,
    "q_text_vocab" -> textVocabSql,
    "q_text_vocab_hll" -> textVocabHllSql,
    "q_bpe_pairs" -> bpePairsSql,
    "q_bpe_apply" -> bpeApplySql,
    "q_bpe_train" -> bpeTrainSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_token_fertility" -> tokenFertilitySql,
    "q_tfidf_topterms" -> tfidfTopTermsSql,
    "q_bm25_rank" -> bm25RankSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_text_winnow" -> textWinnowSql,
    "q_winnow_postings" -> winnowPostingsSql,
    "q_winnow_pairs" -> winnowPairsSql,
    "q_span_dedup" -> spanDedupSql,
    "q_span_coverage" -> spanCoverageSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_rep_coverage" -> repCoverageSql,
    "q_boilerplate_scrub" -> boilerplateScrubSql,
    "q_vocab_concentration" -> vocabConcentrationSql,
    "q_text_tokens" -> textTokensSql,
    "q_text_quality" -> textQualitySql,
    "q_text_langid" -> textLangIdSql,
    "q_text_fingerprint" -> textFingerprintSql)
}
