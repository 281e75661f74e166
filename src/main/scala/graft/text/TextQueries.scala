package graft.text

import graft.Tables
import graft.dedup.Shingling
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation (SURVEY §2.5): language ID,
  * quality scoring, token counting, fingerprinting. All arithmetic is
  * portable (split/list ops, md5-derived hashes, one simple char-class
  * regex) so each query has an exact DuckDB oracle.
  *
  * Scale: token explode + broadcast stopword join; no regex backtracking
  * monsters; winnowing is a bounded window over shingle positions —
  * everything partitions by doc_id and pipelines inside codegen.
  */
object TextQueries {

  /** (lang, stopword) seed list; tiny → broadcast join. */
  val Stopwords: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "un", "es" -> "es",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ein",
    "fr" -> "le", "fr" -> "la", "fr" -> "de", "fr" -> "un", "fr" -> "et",
    "zh" -> "的", "zh" -> "是", "zh" -> "不", "zh" -> "了", "zh" -> "在")

  private val StopwordsValuesSql: String =
    Stopwords.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  /** T1: stopword-vote language ID; ties break lexicographically, docs
    * with no stopword hits are 'unknown'.
    */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sw = Stopwords.toDF("sw_lang", "word")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
    val totals = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    val hits = toks.join(broadcast(sw), Seq("word"))
      .groupBy(col("doc_id"), col("sw_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("sw_lang"))
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(totals, Seq("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("sw_lang"), lit("unknown")).as("predicted"),
        round(coalesce(col("hits"), lit(0L)) / col("n_tokens"), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  val textLangIdSql: String = s"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents),
    totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    hits AS (
      SELECT doc_id, sw_lang, count(*) AS hits
      FROM toks JOIN (VALUES $StopwordsValuesSql) sw(sw_lang, word)
        USING (word)
      GROUP BY doc_id, sw_lang),
    best AS (
      SELECT doc_id, sw_lang, hits FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY hits DESC, sw_lang) AS rn FROM hits)
      WHERE rn = 1)
    SELECT d.doc_id, d.lang,
           coalesce(best.sw_lang, 'unknown') AS predicted,
           round(coalesce(best.hits, 0) / totals.n_tokens, 6) AS score
    FROM documents d
    JOIN totals USING (doc_id)
    LEFT JOIN best USING (doc_id)
    ORDER BY doc_id"""

  /** T8: language-ID confusion matrix — the evaluation face of T1:
    * ground-truth label × prediction with counts. The eval loop every
    * classifier in the curation pipeline needs; one small aggregate
    * over T1's output.
    */
  def textLangConfusion(s: SparkSession, dir: String): DataFrame =
    textLangId(s, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  val textLangConfusionSql: String = s"""
    SELECT lang, predicted, count(*) AS n_docs
    FROM ($textLangIdSql)
    GROUP BY lang, predicted ORDER BY lang, predicted"""

  /** T2: quality scoring — length, token stats, stopword ratio, and a
    * composite score, all closed-form. The column derivation is
    * factored so P19 can reuse the SAME score for quality-weighted
    * selection.
    */
  private[graft] def withQuality(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_hits",
        expr("size(filter(w, x -> x = 'the' or x = 'a'))"))
      .withColumn("avg_token_len",
        round((col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens"), 6))
      .withColumn("stop_ratio", round(col("stop_hits") / col("n_tokens"), 6))
      .withColumn("quality", round(
        least(lit(1.0), col("n_tokens") / 100.0) *
          (lit(0.5) + lit(0.5) * least(lit(1.0), col("stop_ratio") * 5)), 6))

  def textQuality(s: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("avg_token_len"), col("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  /** The T2 composite score as a DuckDB expression over a raw text
    * column — the single SQL source of truth, mirrored by
    * [[withQuality]] on the Scala side; every oracle that consumes
    * quality (T2's own, P19's) interpolates THIS, so the formula can
    * never fork between consumers.
    */
  private[graft] def qualitySqlExpr(textCol: String): String =
    s"round(least(1.0, len(string_split($textCol, ' ')) / 100.0) * " +
      "(0.5 + 0.5 * least(1.0, " +
      s"round(len(list_filter(string_split($textCol, ' '), " +
      "x -> x = 'the' OR x = 'a')) " +
      s"/ len(string_split($textCol, ' ')), 6) * 5)), 6)"

  val textQualitySql: String = s"""
    SELECT doc_id, n_chars, n_tokens,
           round((n_chars - (n_tokens - 1)) / n_tokens, 6) AS avg_token_len,
           round(stop_hits / n_tokens, 6) AS stop_ratio,
           ${qualitySqlExpr("text")} AS quality
    FROM (
      SELECT doc_id, text, len(text) AS n_chars, len(w) AS n_tokens,
             len(list_filter(w, x -> x = 'the' OR x = 'a')) AS stop_hits
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
    ORDER BY doc_id"""

  /** T3: token counting — whitespace tokens, alpha-run tokens (one
    * simple char class, identical under Java regex and RE2), and a
    * BPE-ish subword estimate (ceil(len/4) per word).
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("w")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .as("alpha_tokens"),
        expr("cast(aggregate(transform(w, x -> cast(ceil(length(x) / 4.0) " +
          "as bigint)), cast(0 as bigint), (acc, x) -> acc + x) as bigint)")
          .as("bpe_est"))
      .orderBy(col("doc_id"))

  val textTokensSql: String = """
    SELECT doc_id, len(w) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
           list_sum(list_transform(w, x -> ceil(len(x) / 4.0)))::BIGINT
             AS bpe_est
    FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    ORDER BY doc_id"""

  /** T4: fingerprinting — whole-doc md5 plus winnowing (min 28-bit
    * shingle hash over a 4-shingle sliding window, from the first
    * complete window; the distinct minima are the fingerprint set).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))")))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        Shingling.h28(col("col")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-3, 0)
    val fps = pos.withColumn("minh", min(col("h")).over(w))
      .filter(col("i") >= 4)
      .select(col("doc_id"), col("minh")).distinct()
    val agg = fps.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_fp"), min(col("minh")).as("min_fp"),
      max(col("minh")).as("max_fp"))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("doc_md5"))
      .join(agg, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val textFingerprintSql: String = """
    WITH pos AS (
      SELECT doc_id, i,
             ('0x' || substring(md5(array_to_string(list_slice(w, i, i+2), ' ')),
              1, 7))::BIGINT AS h
      FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 3)),
    winnowed AS (
      SELECT doc_id, minh FROM (
        SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minh
        FROM pos)
      WHERE i >= 4),
    fps AS (SELECT DISTINCT doc_id, minh FROM winnowed),
    agg AS (
      SELECT doc_id, count(*) AS n_fp, min(minh) AS min_fp,
             max(minh) AS max_fp
      FROM fps GROUP BY doc_id)
    SELECT d.doc_id, md5(d.text) AS doc_md5, n_fp, min_fp, max_fp
    FROM documents d JOIN agg USING (doc_id)
    ORDER BY doc_id"""

  /** T5: corpus vocabulary statistics — the 20 most frequent word
    * 3-grams with document frequency; one shuffle on the shingle, with
    * map-side partial counts, TakeOrdered for the top-k.
    */
  def textNgramStats(s: SparkSession, dir: String): DataFrame =
    Shingling.shingles(Tables.documents(s, dir), distinctPerDoc = false)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("shingle"))
      .limit(20)

  val textNgramStatsSql: String = """
    WITH sh AS (
      SELECT doc_id, array_to_string(list_slice(w, i, i+2), ' ') AS shingle
      FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 3))
    SELECT shingle, count(*) AS occurrences,
           count(DISTINCT doc_id) AS doc_freq
    FROM sh GROUP BY shingle
    ORDER BY occurrences DESC, shingle LIMIT 20"""

  /** T10: corpus-law statistics — the two empirical laws every corpus
    * report leads with: Zipf (log-log rank-frequency slope ≈ −1) and
    * Heaps (type/token ratio). One token pass → term counts → top-N by
    * TakeOrdered (the A8 shape, never a full sort); the slope is OLS
    * over (ln rank, ln freq) for the top ZipfN terms, with both
    * coordinates quantized to integer micro-nats (the P6 discipline)
    * so all four OLS sums are exact order-free BIGINTs and the final
    * slope = (N·Σxy − Σx·Σy)/(N·Σxx − Σx²) is one division of exact
    * integers — cross-engine identical, hash-checked.
    */
  val ZipfN = 100

  def textZipf(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    // two consumers (the totals scalar and the top-N rank) — E24
    val counts = graft.CachedFrames.persist(
      toks.groupBy(col("term")).agg(count(lit(1)).as("freq")))
    val totals = counts.agg(
      count(lit(1)).as("n_types"), sum(col("freq")).as("n_tokens"))
    val top = counts.orderBy(col("freq").desc, col("term")).limit(ZipfN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term"))))
      .select(
        (round(log(col("rank").cast("double")) * 1e6, 0)).cast("long").as("x"),
        (round(log(col("freq").cast("double")) * 1e6, 0)).cast("long").as("y"))
    val sums = top.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    // totals is a 1-row aggregate: a plan-time scalar per the repo's
    // bounded-collect discipline (a 1x1 frame combine would plan a
    // BNLJ, which the no-BNLJ gate guard forbids even at one row)
    val tot = totals.head()
    sums
      .withColumn("n_types", lit(tot.getLong(0)))
      .withColumn("n_tokens", lit(tot.getLong(1)))
      .select(col("n_types"), col("n_tokens"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("heaps_ttr"))
  }

  val textZipfSql: String = s"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    counts AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
    totals AS (SELECT count(*) AS n_types, sum(freq)::BIGINT AS n_tokens
               FROM counts),
    top AS (
      SELECT CAST(round(ln(rank) * 1e6, 0) AS BIGINT) AS x,
             CAST(round(ln(freq) * 1e6, 0) AS BIGINT) AS y
      FROM (SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, term) AS rank
            FROM counts
            ORDER BY freq DESC, term LIMIT $ZipfN)),
    sums AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx,
                    sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy,
                    sum(x*x)::BIGINT AS sxx
             FROM top)
    SELECT n_types, n_tokens,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS heaps_ttr
    FROM sums, totals"""

  /** T11: collocation extraction by pointwise mutual information —
    * the corpus-analysis step after raw n-gram counts (T5): which
    * adjacent word pairs co-occur far above chance. PMI over bigram
    * positions: with N total bigrams, c₁ = count of w as the left
    * token, c₂ as the right, c₁₂ the pair count, pmi =
    * ln(c₁₂·N / (c₁·c₂)). The log's argument is one double division
    * of exact BIGINT products, so both engines feed ln the identical
    * double and the micro-quantized PMI is cross-engine exact (the
    * T10/P6 discipline). Min-count floor kills hapax noise; top-N by
    * (pmi, pair) via TakeOrdered — never a full sort.
    */
  val CollocMinCount = 5
  val CollocTopN = 50

  def textCollocations(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w)-1), i -> " +
          "struct(element_at(w, i) as w1, element_at(w, i+1) as w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2")))
    // one bounded plan-time scalar: the corpus bigram total
    val n = pairs.count()
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= CollocMinCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .withColumn("pmi_micro",
        round(log((col("c12") * lit(n)).cast("double")
          / (col("c1") * col("c2")).cast("double")) * 1e6, 0).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(CollocTopN)
  }

  val textCollocationsSql: String = s"""
    WITH pairs AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2),
    tot AS (SELECT count(*) AS n FROM pairs),
    lft AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
    rgt AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY w2),
    big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
            HAVING count(*) >= $CollocMinCount)
    SELECT w1, w2, c12, c1, c2,
           CAST(round(ln(CAST(c12 * n AS DOUBLE)
             / CAST(c1 * c2 AS DOUBLE)) * 1e6, 0) AS BIGINT) AS pmi_micro
    FROM big JOIN lft USING (w1) JOIN rgt USING (w2), tot
    ORDER BY pmi_micro DESC, w1, w2 LIMIT $CollocTopN"""

  /** T21: collocations by Dunning log-likelihood ratio (G², "Accurate
    * Methods for the Statistics of Surprise and Coincidence", 1993) —
    * the estimator that FIXES T11's known failure mode: PMI is maximal
    * for hapax pairs (two words seen once, together), so its top list
    * is rare noise; G² weighs the full 2×2 contingency table (pair,
    * left-only, right-only, neither), growing with EVIDENCE, so
    * frequent genuinely-associated pairs outrank one-off
    * coincidences — the ranking NLTK/Mahout default to for exactly
    * this reason. Identical plan shape to T11 (three aggregates over
    * the shared pair stream + one bounded scalar); per pair the four
    * k·ln(k·n/(row·col)) terms are evaluated in fixed literal order
    * on doubles derived from exact BIGINT counts and quantized once
    * to integer micro (overflow: row·col ≤ n² needs n < 3e9 bigrams
    * per G² computation — per-source sharding covers the rest).
    * The spec asserts the two estimators DISAGREE on this corpus
    * (else the gate adds nothing) and that G² is non-negative.
    */
  def textCollocationsLlr(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w)-1), i -> " +
          "struct(element_at(w, i) as w1, element_at(w, i+1) as w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2")))
    val n = pairs.count()
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    def term(k: Column, r: Column, c: Column): Column =
      when(k > 0, k.cast("double") *
        log((k * lit(n)).cast("double") / (r * c).cast("double")))
        .otherwise(lit(0.0))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= CollocMinCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .withColumn("llr_micro", round(
        (term(col("c12"), col("c1"), col("c2")) +
          term(col("c1") - col("c12"), col("c1"), lit(n) - col("c2")) +
          term(col("c2") - col("c12"), lit(n) - col("c1"), col("c2")) +
          term(lit(n) - col("c1") - col("c2") + col("c12"),
            lit(n) - col("c1"), lit(n) - col("c2"))) * lit(2000000.0), 0)
        .cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("llr_micro"))
      .orderBy(col("llr_micro").desc, col("w1"), col("w2"))
      .limit(CollocTopN)
  }

  val textCollocationsLlrSql: String = {
    def term(k: String, r: String, c: String): String =
      s"(CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) * " +
        s"ln(CAST(($k) * n AS DOUBLE) / CAST(($r) * ($c) AS DOUBLE)) " +
        "ELSE 0.0 END)"
    s"""
    WITH pairs AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2),
    tot AS (SELECT count(*) AS n FROM pairs),
    lft AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
    rgt AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY w2),
    big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
            HAVING count(*) >= $CollocMinCount)
    SELECT w1, w2, c12, c1, c2,
           CAST(round((${term("c12", "c1", "c2")}
             + ${term("c1 - c12", "c1", "n - c2")}
             + ${term("c2 - c12", "n - c1", "c2")}
             + ${term("n - c1 - c2 + c12", "n - c1", "n - c2")})
             * 2000000.0, 0) AS BIGINT) AS llr_micro
    FROM big JOIN lft USING (w1) JOIN rgt USING (w2), tot
    ORDER BY llr_micro DESC, w1, w2 LIMIT $CollocTopN"""
  }

  /** T25: domain-signature terms — which words distinguish each SOURCE
    * from the rest of the corpus, by the same Dunning G² T21 uses for
    * collocations, applied to the (source, word) contingency table:
    * k11 = word-in-source, k12 = source's other tokens, k21 = word
    * elsewhere, k22 = the rest. The corpus-analysis read: each
    * source's top-G² terms are its domain signature (what a mixture
    * auditor or a P5 weighting decision looks at); a uniform synthetic
    * corpus yields small G² values — which is itself the signature of
    * NO domain structure, priced by the spec. Shapes: one token
    * aggregate per grain (map-side combinable), the G² arithmetic in
    * fixed literal order from exact BIGINTs (T21's discipline;
    * products stay exact below 2⁵³, the square is deterministic IEEE
    * in both engines), top-3 per source via one partitioned window.
    */
  val DomainTermsPerSource = 3
  val DomainTermMinCount = 5L

  def textDomainTerms(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word")))
    val n = toks.count()
    val bySrc = toks.groupBy(col("source")).agg(count(lit(1)).as("cs"))
    val byWord = toks.groupBy(col("word")).agg(count(lit(1)).as("cw"))
    def term(k: Column, r: Column, c: Column): Column =
      when(k > 0, k.cast("double") *
        log((k * lit(n)).cast("double") / (r * c).cast("double")))
        .otherwise(lit(0.0))
    val g2 = toks.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c11"))
      .filter(col("c11") >= DomainTermMinCount)
      .join(bySrc, Seq("source"))
      .join(byWord, Seq("word"))
      .withColumn("llr_micro", round(
        (term(col("c11"), col("cs"), col("cw")) +
          term(col("cs") - col("c11"), col("cs"), lit(n) - col("cw")) +
          term(col("cw") - col("c11"), lit(n) - col("cs"), col("cw")) +
          term(lit(n) - col("cs") - col("cw") + col("c11"),
            lit(n) - col("cs"), lit(n) - col("cw"))) * lit(2000000.0), 0)
        .cast("long"))
    g2.withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("llr_micro").desc, col("word"))))
      .filter(col("rank") <= DomainTermsPerSource)
      .select(col("source"), col("rank"), col("word"), col("c11"),
        col("llr_micro"))
      .orderBy(col("source"), col("rank"))
  }

  val textDomainTermsSql: String = {
    def term(k: String, r: String, c: String): String =
      s"(CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) * " +
        s"ln(CAST(($k) * n AS DOUBLE) / CAST(($r) * ($c) AS DOUBLE)) " +
        "ELSE 0.0 END)"
    s"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents),
    tot AS (SELECT count(*) AS n FROM toks),
    bs AS (SELECT source, count(*) AS cs FROM toks GROUP BY source),
    bw AS (SELECT word, count(*) AS cw FROM toks GROUP BY word),
    g2 AS (
      SELECT source, word, c11,
             CAST(round((${term("c11", "cs", "cw")}
               + ${term("cs - c11", "cs", "n - cw")}
               + ${term("cw - c11", "n - cs", "cw")}
               + ${term("n - cs - cw + c11", "n - cs", "n - cw")})
               * 2000000.0, 0) AS BIGINT) AS llr_micro
      FROM (SELECT source, word, count(*) AS c11 FROM toks
            GROUP BY source, word HAVING count(*) >= $DomainTermMinCount)
      JOIN bs USING (source) JOIN bw USING (word), tot)
    SELECT source, rank, word, c11, llr_micro FROM (
      SELECT *, row_number() OVER (PARTITION BY source
        ORDER BY llr_micro DESC, word) AS rank
      FROM g2)
    WHERE rank <= $DomainTermsPerSource
    ORDER BY source, rank"""
  }

  /** T12 keyword count the TextRank gate emits. */
  val TextRankTopN = 40

  /** T12: TextRank keyword extraction — PageRank over the word
    * co-occurrence graph (the original TextRank formulation: nodes =
    * words, undirected edges between words within a ±2 token window,
    * edge weight = co-occurrence count), surfacing the corpus's
    * central vocabulary rather than merely its frequent one: a word
    * ranks high when it co-occurs with other high-ranking words, which
    * is what separates content terms from glue. Edge generation is
    * row-local (T7 discipline — two higher-order transforms over the
    * split array, distance 1 and distance 2, canonicalized
    * least/greatest; no positional self-join), then one aggregate to
    * weights; the iteration is D16's weighted PageRank verbatim
    * (exact integer micro units, per-round localCheckpoint), so the
    * 100 TB story is already proven: per round one edges⋈ranks
    * shuffle and a partial agg, nothing resident but the O(vocab)
    * rank frame. Oracle = the D16 recursive-CTE weighted matvec over
    * word nodes.
    */
  def textTextrank(s: SparkSession, dir: String): DataFrame = {
    val arr = Tables.documents(s, dir).select(split(col("text"), " ").as("w"))
    // size(w) > d guards sequence(1, size-d): Spark's sequence runs
    // DESCENDING when start > stop, which would fabricate pairs
    def dist(d: Int): DataFrame = arr.filter(size(col("w")) > d)
      .select(explode(expr(
        s"transform(sequence(1, size(w)-$d), i -> " +
          s"struct(element_at(w, i) as x, element_at(w, i+$d) as y))"))
        .as("p"))
      .select(least(col("p.x"), col("p.y")).as("doc_a"),
        greatest(col("p.x"), col("p.y")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val pairs = dist(1).union(dist(2))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("w"))
    graft.dedup.DedupQueries.pagerankWeightedOn(pairs)
      .select(col("doc_id").as("word"),
        col("w_out_micro").as("cooc_mass"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word"))
      .limit(TextRankTopN)
  }

  val textTextrankSql: String = s"""
    WITH RECURSIVE pairs0 AS (
      SELECT least(w[i], w[i+1]) AS a, greatest(w[i], w[i+1]) AS b
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w))) AS t(i)
      WHERE w[i] != w[i+1]
      UNION ALL
      SELECT least(w[i], w[i+2]), greatest(w[i], w[i+2])
      FROM (SELECT string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w) - 1)) AS t(i)
      WHERE w[i] != w[i+2]),
    e12 AS (SELECT a, b, count(*)::BIGINT AS w FROM pairs0 GROUP BY a, b),
    und12 AS (SELECT a, b, w FROM e12 UNION ALL SELECT b, a, w FROM e12),
    sw12 AS (SELECT a AS src, sum(w)::BIGINT AS sw FROM und12 GROUP BY a),
    nodes12 AS (SELECT src AS node, sw,
                       row_number() OVER (ORDER BY src) AS idx
                FROM sw12),
    adj12 AS (SELECT nv.idx AS vidx,
                     list(nu.idx ORDER BY nu.idx) AS ins,
                     list(e.w ORDER BY nu.idx) AS ws
              FROM und12 e JOIN nodes12 nu ON nu.node = e.a
                           JOIN nodes12 nv ON nv.node = e.b
              GROUP BY nv.idx),
    mats12 AS MATERIALIZED (
      SELECT (SELECT list(ins ORDER BY vidx) FROM adj12) AS al,
             (SELECT list(ws ORDER BY vidx) FROM adj12) AS wl,
             (SELECT list(sw ORDER BY idx) FROM nodes12) AS sv,
             (SELECT count(*) FROM nodes12) AS n),
    pr12 AS (
      SELECT 0 AS t,
             list_transform(range(1, n + 1), i -> 1000000::BIGINT) AS r
      FROM mats12
      UNION ALL
      SELECT t + 1,
             list_transform(range(1, CAST(len(al) AS BIGINT) + 1), v ->
               150000::BIGINT + (85 * CAST(list_sum(list_transform(
                 range(1, CAST(len(al[v]) AS BIGINT) + 1),
                 j -> (r[al[v][j]] * wl[v][j]) // sv[al[v][j]]))
                 AS BIGINT)) // 100)
      FROM pr12, mats12 WHERE t < ${graft.dedup.DedupQueries.PrIters})
    SELECT n.node AS word, n.sw AS cooc_mass, r[n.idx] AS rank_micro
    FROM pr12, nodes12 n WHERE t = ${graft.dedup.DedupQueries.PrIters}
    ORDER BY rank_micro DESC, word LIMIT $TextRankTopN"""

  /** T13: held-out perplexity scoring — the CCNet/Gopher quality
    * signal P9 only gestures at: P9 scores docs under an LM trained on
    * ALL docs (a resubstitution estimate); real perplexity filtering
    * scores NEW data against a REFERENCE model, which forces the two
    * things resubstitution never exercises — a train/score split and
    * OOV mass. Here the 4/5 train split fits Laplace-smoothed bigram
    * counts, the 1/5 held-out split is scored: p(cur|prev) =
    * (cb+1)/(cn+V), V = train unigram vocabulary + 1 OOV bucket, so
    * unseen bigrams (cb=0) and unseen contexts (cn=0) get exactly the
    * smoothed floor instead of crashing the join. Per-pair NLL
    * quantizes to integer micro-nats from ONE double division of
    * exact BIGINTs ((cn+V)/(cb+1) — ln sees the identical double in
    * both engines, the T11 discipline), so per-doc sums are order-free
    * BIGINT arithmetic. At 100 TB: the reference counts are a
    * shuffle-joined vocabulary exactly like T9's — never broadcast —
    * and scoring is one pass over the held-out corpus. V is a bounded
    * plan-time scalar (one count, the T11 `n` idiom).
    */
  def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val tr = docs.filter(col("doc_id") % 5 =!= 0)
    def bigrams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-1), i -> " +
          "struct(element_at(w, i) as prev, element_at(w, i+1) as cur))"))
        .as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"),
          col("p.cur").as("cur"))
    val trp = graft.CachedFrames.persist(bigrams(tr))
    val v = tr.select(explode(col("w")).as("word"))
      .agg(countDistinct(col("word"))).head.getLong(0) + 1
    val ctx = trp.groupBy(col("prev")).agg(count(lit(1)).as("cn"))
    val big = trp.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("cb"))
    bigrams(docs.filter(col("doc_id") % 5 === 0))
      .join(big, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .withColumn("unseen",
        when(col("cb").isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("lp_micro", round(log(
        (coalesce(col("cn"), lit(0L)) + lit(v)).cast("double") /
          (coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double")) * 1e6,
        0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("unseen")).as("n_unseen"),
        expr("sum(lp_micro) div count(1)").as("nll_micro"))
      .orderBy(col("doc_id"))
  }

  val textPerplexitySql: String = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    tr AS (SELECT doc_id, w FROM d WHERE doc_id % 5 != 0),
    trp AS (SELECT w[i] AS prev, w[i+1] AS cur
            FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
    hop AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur
            FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                  FROM d WHERE doc_id % 5 = 0)),
    voc AS (SELECT count(DISTINCT word) + 1 AS v
            FROM (SELECT unnest(w) AS word FROM tr)),
    ctx AS (SELECT prev, count(*) AS cn FROM trp GROUP BY prev),
    big AS (SELECT prev, cur, count(*) AS cb FROM trp GROUP BY prev, cur),
    scored AS (
      SELECT doc_id,
             CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS unseen,
             round(ln(CAST(coalesce(cn, 0) + v AS DOUBLE)
               / CAST(coalesce(cb, 0) + 1 AS DOUBLE)) * 1e6, 0)::BIGINT
               AS lp_micro
      FROM hop LEFT JOIN big USING (prev, cur)
               LEFT JOIN ctx USING (prev), voc)
    SELECT doc_id, count(*) AS n_bigrams, sum(unseen)::BIGINT AS n_unseen,
           (sum(lp_micro)::BIGINT // count(*)) AS nll_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** T15 interpolation weight (and its explicit complement — written
    * out so Scala and SQL interpolate the SAME double literal, never a
    * computed 1−λ whose floating representation could differ from the
    * parsed constant).
    */
  val JmLambda = 0.7
  val JmLambdaC = 0.3

  /** T15: Jelinek-Mercer interpolated bigram scoring — the smoothing
    * that actually wins on held-out text (Chen & Goodman): T13's
    * add-one bigram over-penalizes every unseen pair by spreading one
    * count across the whole vocabulary, while JM backs off smoothly,
    * p = λ·p_ML(cur|prev) + (1−λ)·p_uni(cur) — an unseen bigram of a
    * COMMON word costs little, of a rare word a lot, which is the
    * right shape for quality filtering. Same 4/5 train / 1/5 held-out
    * protocol as T13 so the two smoothers are directly comparable on
    * identical pairs (the spec asserts JM's aggregate NLL is lower).
    * Cross-engine exactness: p_ML and the Laplace-floored unigram are
    * each ONE double division of exact BIGINTs, the interpolation is
    * two IEEE multiplies and an add of the same literals, and the NLL
    * micro-quantizes per pair before order-free BIGINT doc sums.
    * Same scale shape as T13: reference counts shuffle-join, totals
    * are two bounded plan-time scalars.
    */
  /** (doc_id, text) → the ≥2-token docs with their word arrays. */
  private def wordDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)

  private def jmBigrams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(w)-1), i -> " +
        "struct(element_at(w, i) as prev, element_at(w, i+1) as cur))"))
      .as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"),
        col("p.cur").as("cur"))

  /** The trained JM reference model: bigram/context/unigram count
    * frames plus the two exact plan-time scalars. Trained ONCE offline
    * — this is what ships to the R23 streaming face, where the count
    * frames join stream-static.
    */
  private[graft] case class JmModel(big: DataFrame, ctx: DataFrame,
                                    uni: DataFrame, nt: Long, v: Long)

  /** Fit JM bigram counts on a (doc_id, text) training corpus. */
  private[graft] def jmTrain(trDocs: DataFrame): JmModel = {
    val tr = wordDocs(trDocs)
    val trp = graft.CachedFrames.persist(jmBigrams(tr))
    val uni = graft.CachedFrames.persist(
      tr.select(explode(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cu")))
    val tot = uni.agg(coalesce(sum(col("cu")), lit(0L)), count(lit(1)))
      .head()
    JmModel(
      big = trp.groupBy(col("prev"), col("cur"))
        .agg(count(lit(1)).as("cb")),
      ctx = trp.groupBy(col("prev")).agg(count(lit(1)).as("cn")),
      uni = uni,
      nt = tot.getLong(0),
      v = tot.getLong(1) + 1)
  }

  /** Score a (doc_id, text) frame against a trained model — per-doc
    * (n_bigrams, n_unseen, nll_micro), unordered (streaming-safe: on
    * a stream the three reference joins are stream-static and the
    * per-doc aggregate completes within the arrival trigger).
    */
  private[graft] def jmScore(m: JmModel)(docs: DataFrame): DataFrame =
    jmBigrams(wordDocs(docs))
      // the model tables are vocabulary-scale (bigram counts grow
      // super-linearly under Heaps' law — the sf1 probe measured the
      // AQE-elected broadcast at 16.8 MB, GBs at 100 TB), so all
      // three reference joins are pinned SHUFFLE_HASH: scored pairs
      // and counts co-shuffle on their keys, nothing corpus-growing
      // is ever collected to one node. Matches the T9/T13 discipline
      // ("a 100 TB vocabulary is not a broadcast").
      .join(m.big.hint("shuffle_hash"), Seq("prev", "cur"), "left")
      .join(m.ctx.hint("shuffle_hash"), Seq("prev"), "left")
      .join(m.uni.withColumnRenamed("word", "cur").hint("shuffle_hash"),
        Seq("cur"), "left")
      .withColumn("unseen",
        when(col("cb").isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("p_ml",
        when(col("cb").isNull, lit(0.0))
          .otherwise(col("cb").cast("double") / col("cn").cast("double")))
      .withColumn("p_uni",
        (coalesce(col("cu"), lit(0L)) + lit(1L)).cast("double") /
          lit((m.nt + m.v).toDouble))
      .withColumn("nll_pair_micro", round(
        -log(lit(JmLambda) * col("p_ml") + lit(JmLambdaC) * col("p_uni"))
          * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"),
        expr("sum(nll_pair_micro) div count(1)").as("nll_micro"))

  def textPerplexityJm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val m = jmTrain(d.filter(col("doc_id") % 5 =!= 0))
    jmScore(m)(d.filter(col("doc_id") % 5 === 0))
      .orderBy(col("doc_id"))
  }

  val textPerplexityJmSql: String = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    tr AS (SELECT doc_id, w FROM d WHERE doc_id % 5 != 0),
    trp AS (SELECT w[i] AS prev, w[i+1] AS cur
            FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
    hop AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur
            FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                  FROM d WHERE doc_id % 5 = 0)),
    uni AS (SELECT word, count(*) AS cu
            FROM (SELECT unnest(w) AS word FROM tr) GROUP BY word),
    tot AS (SELECT sum(cu)::BIGINT AS nt, count(*) + 1 AS v FROM uni),
    ctx AS (SELECT prev, count(*) AS cn FROM trp GROUP BY prev),
    big AS (SELECT prev, cur, count(*) AS cb FROM trp GROUP BY prev, cur),
    scored AS (
      SELECT doc_id,
             CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS unseen,
             CAST(round(-ln(
               $JmLambda * (CASE WHEN cb IS NULL THEN 0.0
                 ELSE CAST(cb AS DOUBLE) / CAST(cn AS DOUBLE) END)
               + $JmLambdaC * (CAST(coalesce(cu, 0) + 1 AS DOUBLE)
                 / CAST(nt + v AS DOUBLE))) * 1e6, 0) AS BIGINT)
               AS nll_pair_micro
      FROM hop LEFT JOIN big USING (prev, cur)
               LEFT JOIN ctx USING (prev)
               LEFT JOIN uni ON uni.word = hop.cur, tot)
    SELECT doc_id, count(*) AS n_bigrams, sum(unseen)::BIGINT AS n_unseen,
           (sum(nll_pair_micro)::BIGINT // count(*)) AS nll_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** T20's absolute discount is ESTIMATED from the training bigram
    * count-of-counts (Chen & Goodman 1999): D = n1/(n1 + 2·n2), n_k =
    * number of bigram types seen exactly k times. A fixed literary
    * D=0.75 assumes a natural Zipfian type distribution; on corpora
    * that are flatter (this synthetic one) it over-discounts and KN
    * loses to JM — the estimate adapts. One IEEE division of two
    * exact BIGINTs, identical in both engines.
    */

  /** T20: interpolated Kneser-Ney bigram scoring — the smoother that
    * wins held-out perplexity in virtually every published n-gram
    * comparison (Chen & Goodman 1999), completing the T13 (Laplace) →
    * T15 (Jelinek-Mercer) → T20 ladder on the IDENTICAL 4/5 train /
    * 1/5 held-out split. The structural insight KN adds: the backoff
    * weight of a word is how many distinct CONTEXTS it follows
    * (continuation count), not how often it occurs — "Francisco" is
    * frequent but predictable from "San", so its continuation count
    * is tiny. Model:
    *   p(cur|prev) = (max(c(prev,cur)−D, 0) + D·N1+(prev·)·pc(cur))
    *                   / c(prev)
    *   pc(cur)     = (N1+(·cur) + 1) / (B + V)      (+1/V floor keeps
    *                 unseen held-out words finite; B = bigram types)
    * and an unseen CONTEXT backs off to pc(cur) alone. Scale shape
    * identical to T15: three reference-count frames shuffle-join the
    * held-out pairs (a 100 TB vocabulary is not a broadcast), the two
    * totals are bounded plan-time scalars, distinct-context counts
    * are map-side-combinable aggregates. Cross-engine exactness: all
    * counts are exact BIGINTs; per pair, the same literal-for-literal
    * IEEE expression quantizes once to integer micro-nats before the
    * order-free BIGINT doc sum (the T13/T15 discipline). The spec
    * asserts the corpus-level KN NLL beats T15's JM on the same pairs.
    */
  def textPerplexityKn(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val tr = wordDocs(d.filter(col("doc_id") % 5 =!= 0))
    val trp = graft.CachedFrames.persist(jmBigrams(tr))
    val big = trp.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("cb"))
    // context totals + forward continuation counts in ONE aggregate
    // over the bigram-type frame (c(prev) still needs the raw pairs)
    val ctx = graft.CachedFrames.persist(
      trp.groupBy(col("prev")).agg(count(lit(1)).as("cn"),
        count_distinct(col("cur")).as("n1fwd")))
    val cont = big.groupBy(col("cur"))
      .agg(count(lit(1)).as("n1rev"))
    // bounded scalars: bigram type count B, unigram vocab V (+1 unk),
    // count-of-counts n1/n2 for the estimated discount
    val bigStats = big.agg(count(lit(1)),
      sum(when(col("cb") === 1, 1L).otherwise(0L)),
      sum(when(col("cb") === 2, 1L).otherwise(0L))).head()
    val b = bigStats.getLong(0)
    val knD = bigStats.getLong(1).toDouble /
      (bigStats.getLong(1) + 2L * bigStats.getLong(2)).toDouble
    val v = tr.select(explode(col("w")).as("word"))
      .agg(count_distinct(col("word"))).head().getLong(0) + 1
    val denom = (b + v).toDouble
    jmBigrams(wordDocs(d.filter(col("doc_id") % 5 === 0)))
      .join(big, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(cont, Seq("cur"), "left")
      .withColumn("unseen",
        when(col("cb").isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("pc",
        (coalesce(col("n1rev"), lit(0L)) + lit(1L)).cast("double") /
          lit(denom))
      .withColumn("p", when(col("cn").isNull, col("pc")).otherwise(
        (greatest(coalesce(col("cb"), lit(0L)).cast("double") -
            lit(knD), lit(0.0)) +
          lit(knD) * col("n1fwd").cast("double") * col("pc")) /
          col("cn").cast("double")))
      .withColumn("nll_pair_micro",
        round(-log(col("p")) * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("unseen")).as("n_unseen"),
        expr("sum(nll_pair_micro) div count(1)").as("nll_micro"))
      .orderBy(col("doc_id"))
  }

  val textPerplexityKnSql: String = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    tr AS (SELECT doc_id, w FROM d WHERE doc_id % 5 != 0),
    trp AS (SELECT w[i] AS prev, w[i+1] AS cur
            FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
    hop AS (SELECT doc_id, w[i] AS prev, w[i+1] AS cur
            FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                  FROM d WHERE doc_id % 5 = 0)),
    big AS (SELECT prev, cur, count(*) AS cb FROM trp GROUP BY prev, cur),
    ctx AS (SELECT prev, count(*) AS cn, count(DISTINCT cur) AS n1fwd
            FROM trp GROUP BY prev),
    cont AS (SELECT cur, count(*) AS n1rev FROM big GROUP BY cur),
    tot AS (SELECT (SELECT sum(n1fwd)::BIGINT FROM ctx)
              + (SELECT count(DISTINCT word) + 1 FROM
                   (SELECT unnest(w) AS word FROM tr)) AS denom),
    dd AS (SELECT CAST(sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END)
                 + 2 * sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             AS kd FROM big),
    scored AS (
      SELECT doc_id,
             CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS unseen,
             CAST(round(-ln(CASE WHEN cn IS NULL
               THEN CAST(coalesce(n1rev, 0) + 1 AS DOUBLE)
                      / CAST(denom AS DOUBLE)
               ELSE (greatest(CAST(coalesce(cb, 0) AS DOUBLE)
                       - kd, 0.0)
                     + kd * CAST(n1fwd AS DOUBLE)
                       * (CAST(coalesce(n1rev, 0) + 1 AS DOUBLE)
                          / CAST(denom AS DOUBLE)))
                    / CAST(cn AS DOUBLE) END) * 1e6, 0) AS BIGINT)
               AS nll_pair_micro
      FROM hop LEFT JOIN big USING (prev, cur)
               LEFT JOIN ctx USING (prev)
               LEFT JOIN cont ON cont.cur = hop.cur, tot, dd)
    SELECT doc_id, count(*) AS n_bigrams, sum(unseen)::BIGINT AS n_unseen,
           (sum(nll_pair_micro)::BIGINT // count(*)) AS nll_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** BM25 parameters (Robertson/Sparck-Jones defaults) and the fixed
    * query term set for the `text_bm25` gate entry.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("spark", "query", "vector")

  /** T6: BM25 keyword search — the retrieval face of the corpus. The
    * inverted-index shape at 100 TB: only postings of the QUERY terms
    * survive the first filter (pushdown prunes everything else), df per
    * term is a tiny aggregate broadcast back, and the per-doc score is
    * one small join + sum. Cross-engine discipline follows P6: each
    * (doc, term) contribution is quantized to integer micro-units
    * (idf×tf-norm, one rounding per posting), so the per-doc sum is
    * exact BIGINT arithmetic; N and avgdl are exact (integer sums and
    * counts) in both engines.
    */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    // persist-multi-consumer-frames: toks feeds dl AND tf — without
    // this the corpus tokenizes once per consumer (the Shingling /
    // pqCore discipline); released via CachedFrames after consumption
    val toks = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word")))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // bounded plan-time scalars: corpus doc count + mean doc length
    // (both exact integer arithmetic, so cross-engine identical)
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
    val nDocs = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / nDocs
    val tf = toks.filter(col("word").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .withColumn("idf_micro", round(
        log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * 1e6, 0).cast("long"))
    val scored = tf.join(broadcast(df.select("word", "idf_micro")), Seq("word"))
      .join(dl, Seq("doc_id"))
      .withColumn("contrib_micro", round(
        col("idf_micro") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / avgdl)),
        0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
    scored.orderBy(col("score_micro").desc, col("doc_id")).limit(10)
  }

  val textBm25Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*)::DOUBLE AS n,
                     (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
           WHERE word IN ($terms) GROUP BY doc_id, word),
    df AS (SELECT word, count(*) AS df,
                  round(ln(((SELECT n FROM stats) - count(*) + 0.5)
                    / (count(*) + 0.5) + 1.0) * 1e6, 0)::BIGINT AS idf_micro
           FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             round(idf_micro * (tf * ($Bm25K1 + 1.0)) /
               (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl
                 / (SELECT avgdl FROM stats))), 0)::BIGINT AS contrib_micro
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id))
    SELECT doc_id, sum(contrib_micro)::BIGINT AS score_micro,
           count(*) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 10"""
  }

  /** T9: TF-IDF retrieval with cosine normalization — BM25's classical
    * sibling, and a structurally DIFFERENT query: the per-doc norm
    * needs the weight of EVERY term (the full inverted index with
    * per-document norms — what a TF-IDF index build materializes),
    * while scoring touches only query-term postings. The vocabulary
    * df table joins back as a SHUFFLE join (P9's honest n-gram-table
    * shape — a 100 TB vocabulary is not a broadcast). Exactness
    * discipline: idf quantizes once per term (integer micro), doc
    * weights are tf×idf_micro (exact BIGINT), norm² is an exact BIGINT
    * sum of squares, and the final cosine divides two exact integers —
    * deterministic cross-engine with one terminal rounding.
    */
  /** T22's query phrase (a trigram that actually occurs in the corpus). */
  val PhraseTerms: Seq[String] = Seq("slow", "hash", "batch")

  /** T22: positional phrase search — the IR operator bag-of-words
    * retrieval (T6 BM25 / T9 TF-IDF) structurally cannot answer:
    * "these words, ADJACENT, in THIS order". The index is positional
    * postings (doc, word, pos) — what Lucene stores beside every
    * term — and a phrase match is the k-way self-join of the query
    * terms' postings on (doc, pos+offset). Scale shape: the term
    * filter prunes the postings stream to |phrase| tiny slices BEFORE
    * any join (query terms are selective — the pushdown does the
    * work); each adjacency join is an equi-join on (doc_id, pos),
    * shuffled on ids, never on text. Emits per-doc match counts +
    * first occurrence — the snippet anchor.
    */
  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
      .filter(col("word").isin(PhraseTerms: _*))
    def slice(i: Int) = postings.filter(col("word") === PhraseTerms(i))
      .select(col("doc_id"), (col("pos") - i).as("anchor"))
    PhraseTerms.indices.map(slice).reduce(
        (a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("anchor")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  val textPhraseSearchSql: String = {
    def slice(i: Int): String =
      s"(SELECT doc_id, pos - $i AS anchor FROM postings " +
        s"WHERE word = '${PhraseTerms(i)}') t$i"
    val joins = slice(0) + PhraseTerms.indices.drop(1)
      .map(i => s" JOIN ${slice(i)} USING (doc_id, anchor)").mkString
    s"""
    WITH postings AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           unnest(range(1, len(w) + 1)) AS t(i)
      WHERE w[i] IN (${PhraseTerms.map(t => s"'$t'").mkString(", ")})),
    hits AS (SELECT doc_id, anchor FROM $joins)
    SELECT doc_id, count(*) AS n_matches, min(anchor)::BIGINT AS first_pos
    FROM hits GROUP BY doc_id ORDER BY doc_id"""
  }

  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word")))
    // every doc yields >=1 token row under split(), so the doc count
    // answers what distinct-counting the exploded token stream would —
    // without shuffling corpus-token-cardinality rows for a scalar
    val nDocs = Tables.documents(s, dir).count()
    // the full index: every (doc, term) weight — feeds norms AND scoring.
    // df rides a window over the tf frame rather than a groupBy+join:
    // the term dictionary is Heaps'-law-sized (the sf1 probe measured
    // its broadcast at 16.8 MB — GBs at 100 TB), so joining it back
    // either broadcasts a corpus-growing frame or re-shuffles the whole
    // index; the window computes df on the single word-shuffle the
    // dictionary aggregate needs anyway, and nothing is broadcast.
    val tf = toks.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val byWord = org.apache.spark.sql.expressions.Window.partitionBy("word")
    val weights = graft.CachedFrames.persist(
      tf.withColumn("df", count(lit(1)).over(byWord))
        .withColumn("idf_micro",
          round(log(lit(nDocs.toDouble) / col("df")) * 1e6, 0).cast("long"))
        .withColumn("w_micro", col("tf") * col("idf_micro")))
    // w_micro ~ tf*idf*1e6 can reach 1e10; its square breaks 63 bits
    // long before the corpus is interesting, and Spark's non-ANSI sum
    // WRAPS silently where DuckDB errors. Both accumulations therefore
    // run 128-bit exact: decimal(38,0) here, HUGEINT in the oracle —
    // w^2 <= 1.2e23 summed over 1e6 terms stays < 1e30 << 1e38
    val wDec = col("w_micro").cast("decimal(20,0)")
    val norms = weights.groupBy(col("doc_id"))
      .agg(sum(wDec * wDec).as("norm2"))
    val qpost = weights.filter(col("word").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"))
      .agg(sum(wDec * col("idf_micro").cast("decimal(20,0)"))
          .as("dot_scaled"),
        count(lit(1)).as("n_terms"))
    qpost.join(norms, Seq("doc_id"))
      .filter(col("norm2") > 0)
      .select(col("doc_id"), col("n_terms"),
        round(col("dot_scaled") / sqrt(col("norm2")), 0).cast("long")
          .as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  val textTfidfSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
           GROUP BY doc_id, word),
    df AS (SELECT word, round(ln((SELECT n_docs FROM n) / count(*)) * 1e6,
                   0)::BIGINT AS idf_micro
           FROM tf GROUP BY word),
    weights AS (
      SELECT doc_id, word, (tf * idf_micro)::BIGINT AS w_micro, idf_micro
      FROM tf JOIN df USING (word)),
    norms AS (SELECT doc_id,
                     sum(CAST(w_micro AS HUGEINT) * w_micro) AS norm2
              FROM weights GROUP BY doc_id),
    qpost AS (SELECT doc_id,
                     sum(CAST(w_micro AS HUGEINT) * idf_micro) AS dot_scaled,
                     count(*) AS n_terms
              FROM weights WHERE word IN ($terms) GROUP BY doc_id)
    SELECT doc_id, n_terms,
           round(dot_scaled / sqrt(norm2), 0)::BIGINT AS score_micro
    FROM qpost JOIN norms USING (doc_id)
    WHERE norm2 > 0
    ORDER BY score_micro DESC, doc_id LIMIT 10"""
  }

  /** T7: repetition signals (the Gopher repetition filters' shape):
    * duplicate-word fraction and the most-frequent-bigram share per
    * document. The statistic is PER-ROW, so the whole computation is
    * one narrow projection: the top-bigram count folds over the sorted
    * bigram array (max run of equal neighbours) with a higher-order
    * `aggregate` — the corpus's bigrams are never exploded, never
    * shuffled (the groupBy(doc_id, bg) idiom shuffles every bigram of
    * the corpus TWICE for a per-document number; at 100 TB that is a
    * key space the size of the corpus's bigram count for zero
    * cross-row information). The only exchange left is the output
    * ORDER BY. The DuckDB oracle restates the semantics via its
    * GROUP BY idiom — same value, engine-appropriate plan.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // max run length over the sorted per-doc bigram array = the count
    // of the most frequent bigram; <=> makes the first element start
    // its run at 1 (null prev compares false)
    val topBg =
      """aggregate(
        |  array_sort(transform(sequence(1, size(w)-1),
        |    i -> concat(element_at(w, i), ' ', element_at(w, i+1)))),
        |  named_struct('prev', cast(null as string),
        |    'run', cast(0 as bigint), 'best', cast(0 as bigint)),
        |  (a, x) -> named_struct('prev', x,
        |    'run', if(x <=> a.prev, a.run + 1, cast(1 as bigint)),
        |    'best', greatest(a.best,
        |      if(x <=> a.prev, a.run + 1, cast(1 as bigint)))),
        |  a -> a.best)""".stripMargin
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        expr(topBg).as("top_bg"))
      .select(col("doc_id"), col("n_words"),
        round(lit(1.0) - col("n_distinct") / col("n_words"), 6)
          .as("dup_word_frac"),
        col("top_bg"),
        round(col("top_bg") / (col("n_words") - 1), 6)
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String = """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    perdoc AS (
      SELECT doc_id, len(w) AS n_words,
             len(list_distinct(w)) AS n_distinct
      FROM base),
    bigrams AS (
      SELECT doc_id, len(w) AS n_words, w[i] || ' ' || w[i+1] AS bg
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM base)),
    topbg AS (
      SELECT doc_id, n_words, max(c) AS top_bg FROM (
        SELECT doc_id, n_words, bg, count(*) AS c
        FROM bigrams GROUP BY doc_id, n_words, bg)
      GROUP BY doc_id, n_words)
    SELECT perdoc.doc_id, perdoc.n_words,
           round(1.0 - n_distinct / perdoc.n_words, 6) AS dup_word_frac,
           top_bg, round(top_bg / (perdoc.n_words - 1), 6) AS top_bigram_frac
    FROM perdoc JOIN topbg USING (doc_id)
    ORDER BY doc_id"""

  // ---- T16: BPE merge learning (tokenizer training) ----

  /** Merge-table depth for the gate entry: enough rounds that merges
    * chain (later rounds merge symbols earlier rounds created), small
    * enough that the oracle's generated CTE blocks stay readable.
    */
  val BpeRounds = 8

  /** End-of-word marker, each word's last symbol: a control character
    * that cannot occur in whitespace-split corpus words, so no merge
    * crosses a word boundary and a decoder can split on it.
    */
  val BpeMark = "\u0004"

  /** Production merge depth for the T16d deep gates (a real
    * tokenizer's vocabulary budget, vs the 8 oracle-restated rounds)
    * and the checkpoint stride at which the merge-table prefix is
    * fingerprinted.
    */
  val BpeDeepRounds = 32768
  val BpeCkptEvery = 512

  /** The BPE trainer, EXACT to any depth, on the driver over the
    * collected word-frequency table with incremental pair-count
    * maintenance (the classic trainer: a lazy-invalidation max-heap over
    * pair counts; a merge re-tokenizes only the words containing its
    * pair and refreshes only the counts it touched). Every BPE face
    * trains here: T16/T17/T27/T29/T30 at the oracle depth `BpeRounds`,
    * the T16d gates at `BpeDeepRounds`.
    *
    * WHY driver-side, in a repo that bans driver loops: BPE training
    * state is the VOCABULARY — distinct words + counts — never the
    * corpus. A distributed round (pair-count shuffle, 1-row argmax
    * collect, checkpoint of the re-merged vocabulary) costs several
    * Spark jobs per merge for state that fits in tens of MB; every
    * production trainer (subword-nmt, HF tokenizers) collects the word
    * table and trains in memory for this reason. The ONE corpus-scale
    * pass stays distributed (the word count that builds `vocab`); the
    * trained tokenizer returns as a dimension frame.
    *
    * Semantics are the oracle chain's: a word starts as its code points
    * (what Spark's `substring`/`length` count — not UTF-16 units) plus
    * `BpeMark`; each round merges the argmax pair greedily, left to
    * right, non-overlapping; the argmax breaks count ties by (l, r) in
    * [[Utf8Order]], the order of SQL `ORDER BY` on strings. Pinned three
    * ways: the gates' merge tables hash-check against the ORACLE's
    * chain, TextSpec replays the full deep trajectory against the
    * independent reference trainer on the real corpus vocabulary, and
    * the fuzz vocabularies run at depth.
    *
    * Returns (merge table, word → post-merge symbols).
    */
  private[graft] def trainBpe(vocab: Seq[(String, Long)], maxRounds: Int)
      : (Vector[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    import scala.collection.mutable
    val words: Array[Array[String]] = vocab.map { case (w, _) =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))) :+
        BpeMark }.toArray
    val wcs: Array[Long] = vocab.map(_._2).toArray
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPairs(i: Int, sign: Long): Unit = {
      val s = words(i); val c = wcs(i) * sign
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val n = pairCnt.getOrElse(p, 0L) + c
        if (n == 0L) pairCnt.remove(p) else pairCnt(p) = n
        if (sign > 0L) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L))
    // max-heap: highest count, then SMALLEST (l, r) — the oracle's
    // ORDER BY cnt DESC, l, r. Entries are snapshots; a popped entry
    // counts only if it still equals the live count.
    val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String),
                    b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val cl = Utf8Order.compare(b._2, a._2)
            if (cl != 0) cl else Utf8Order.compare(b._3, a._3)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    pairCnt.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var k = 1
    var done = false
    while (k <= maxRounds && !done) {
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (pairCnt.get((cand._2, cand._3)).contains(cand._1))
          top = Some(cand)
      }
      top match {
        case None => done = true
        case Some((cnt, l, r)) =>
          merges += ((k, l, r, cnt))
          val affected =
            pairWords.getOrElse((l, r), mutable.Set.empty).toArray.sorted
          val touched = mutable.Set.empty[(String, String)]
          affected.foreach { i =>
            val s = words(i)
            var has = false; var j = 0
            while (!has && j + 1 < s.length) {
              if (s(j) == l && s(j + 1) == r) has = true
              j += 1
            }
            if (has) { // membership sets go stale by design; verify
              var u = 0
              while (u + 1 < s.length) {
                touched += ((s(u), s(u + 1))); u += 1 }
              addPairs(i, -1L)
              words(i) = mergeGreedy(s, l, r)
              addPairs(i, 1L)
              val t = words(i); u = 0
              while (u + 1 < t.length) {
                touched += ((t(u), t(u + 1))); u += 1 }
            }
          }
          // refresh heap snapshots for EVERY count this merge moved —
          // decreased counts included, or their pairs become
          // unreachable behind stale higher snapshots
          touched.foreach { p =>
            pairCnt.get(p).foreach(c => heap.enqueue((c, p._1, p._2)))
          }
          k += 1
      }
    }
    val syms = vocab.indices.map(i => vocab(i)._1 -> words(i).toSeq).toMap
    (merges.result(), syms)
  }

  /** String order by code point, which is the UTF-8 byte order Spark
    * and the oracle sort strings in. Java's `compareTo` orders UTF-16
    * units instead, which puts a non-BMP character (a surrogate pair,
    * D800–DFFF) below U+E000–U+FFFF. At the first differing unit, two
    * units at or above D800 are rotated so that surrogates sort last.
    */
  private[graft] val Utf8Order: Ordering[String] = new Ordering[String] {
    private def rot(c: Int): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) Integer.compare(a.length, b.length)
      else {
        val (x, y) = (a.charAt(i).toInt, b.charAt(i).toInt)
        if (x >= 0xD800 && y >= 0xD800) Integer.compare(rot(x), rot(y))
        else Integer.compare(x, y)
      }
    }
  }

  /** The greedy left-to-right non-overlapping merge of (l, r) on a
    * word's symbol array: "a a a" under (a,a) → "aa a".
    */
  private def mergeGreedy(syms: Array[String], l: String,
                          r: String): Array[String] = {
    val nb = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        nb += (l + r); i += 2
      } else { nb += syms(i); i += 1 }
    }
    nb.result()
  }

  /** The deep training, shared by the gates below. */
  private def deepBpe(s: SparkSession, dir: String)
      : (Vector[(Int, String, String, Long)], Map[String, Seq[String]]) =
    graft.Deployed.memo(s, "bpe-deep", dir) {
      trainBpe(vocabOf(corpusWords(s, dir)), BpeDeepRounds)
    }

  /** The corpus's non-empty space-split words, one row each. */
  private def corpusWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)

  /** The (word, count) table of a word stream, collected: the trainer's
    * whole input, vocabulary-sized, never the corpus. */
  private def vocabOf(words: DataFrame): Seq[(String, Long)] =
    words.groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1)

  /** (word, n_toks): each word of `words` with its token count under the
    * tokenizer trained `BpeRounds` deep on that same stream — the
    * frozen tokenizer as a dimension table, what T17/T27 bill with and
    * R24's ingest join reads.
    */
  private[graft] def bpeTokenCounts(words: DataFrame): DataFrame = {
    val (_, syms) = trainBpe(vocabOf(words), BpeRounds)
    import words.sparkSession.implicits._
    syms.toSeq.map { case (w, ss) => (w, ss.length.toLong) }
      .toDF("word", "n_toks")
  }

  /** T16d: the deep trainer's merge-table PREFIX — the first
    * `BpeRounds` rows of the `BpeDeepRounds`-deep trajectory. BPE
    * merges are prefix-stable (round k depends only on rounds < k),
    * so this gate hash-checks the deep trainer against the SAME
    * DuckDB chain that checks T16: one divergent early merge in the
    * incremental trainer and the hash breaks. Depth itself is spec'd
    * (full-trajectory replay vs the reference trainer) and fingerprinted
    * (`text_bpe_deep_ckpt`).
    */
  def textBpeDeep(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = deepBpe(s, dir)
    import s.implicits._
    merges.take(BpeRounds)
      .toDF("merge_round", "left_sym", "right_sym", "pair_cnt")
      .orderBy(col("merge_round"))
  }

  /** T16d checkpoints: every `BpeCkptEvery`-th round (plus the final
    * round) the merge-table prefix is fingerprinted — (ckpt_round,
    * md5 of the merge sequence so far). No SQL oracle CAN restate 32k
    * chained rounds — each round's argmax aggregates over the previous
    * round's state, which SQL recursion prohibits, so the only SQL
    * form is static per-round unrolling, and unrolling 512+ rounds
    * would restate the trajectory under test — so this gate is
    * rows-only by design; TextSpec pins the fingerprints against the
    * independent reference trainer replayed on the same vocabulary,
    * and the fold MECHANISM itself is oracle-checked at the reachable
    * depth by `text_bpe_deep_ckpt_prefix` below.
    */
  def textBpeDeepCkpt(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = deepBpe(s, dir)
    import s.implicits._
    bpeCkptRows(merges).toDF("ckpt_round", "table_md5")
      .orderBy(col("ckpt_round"))
  }

  /** T16d': the checkpoint-fingerprint MECHANISM under a hash-matched
    * oracle — the DEEP trainer's cut at the oracle depth, exactly the
    * row `bpeCkptRows` computes for `text_bpe_deep_ckpt`, restated in
    * DuckDB as `md5(string_agg(l || r || cnt ORDER BY round))` over
    * the same 8-round chain that checks T16. This pins the fold
    * byte-for-byte (concatenation order, count formatting, hex case)
    * AND re-checks the deep trainer's prefix through a second,
    * structurally different lens (a fingerprint, not a row set). The
    * full-depth cuts stay rows-only BY NECESSITY: each BPE round's
    * argmax is an aggregate over the previous round's state, which SQL
    * recursion prohibits (no aggregation over the recursive
    * reference), so the only SQL form is static per-round unrolling —
    * and unrolling 512+ rounds would make the oracle restate the very
    * trajectory under test. TextSpec covers depth instead
    * (reference-replay + fuzz-to-exhaustion).
    */
  def textBpeDeepCkptPrefix(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = deepBpe(s, dir)
    import s.implicits._
    bpeCkptRows(merges).filter(_._1 == BpeRounds)
      .toDF("ckpt_round", "table_md5")
  }

  lazy val textBpeDeepCkptPrefixSql: String = s"""
    WITH $bpeChainSql,
    m AS (SELECT * FROM (
      ${(1 to BpeRounds).map(k =>
        s"SELECT $k AS merge_round, l, r, cnt FROM b$k")
        .mkString(" UNION ALL ")}))
    SELECT CAST($BpeRounds AS INTEGER) AS ckpt_round,
           md5(string_agg(
             l || chr(1) || r || chr(1) || CAST(cnt AS VARCHAR) || chr(2),
             '' ORDER BY merge_round)) AS table_md5
    FROM m"""

  private[graft] def bpeCkptRows(
      merges: Seq[(Int, String, String, Long)]): Seq[(Int, String)] = {
    // cuts: every stride, the final table, AND the oracle depth — so
    // the BpeRounds fingerprint is recomputable from the hash-checked
    // text_bpe rows. A corpus can EXHAUST before the cap (the
    // synthetic tables' 31-word vocabulary merges out in ~10² rounds;
    // depth beyond exhaustion is spec'd on rich planted vocabularies)
    val cuts = ((BpeCkptEvery to merges.length by BpeCkptEvery)
      ++ Seq(merges.length)
      ++ (if (merges.length >= BpeRounds) Seq(BpeRounds) else Nil))
      .distinct.sorted
    cuts.map { n =>
      val md = java.security.MessageDigest.getInstance("MD5")
      merges.take(n).foreach { case (_, l, r, c) =>
        md.update(s"${l}\u0001${r}\u0001${c}\u0002".getBytes("UTF-8")) }
      n -> md.digest().map("%02x".format(_)).mkString
    }
  }

  /** T17d: encode accounting under the DEEP vocabulary — what a token
    * budget spends with a production-depth tokenizer. Same shape as
    * T17 (one corpus-word join + per-doc aggregate); the trained
    * table arrives as a broadcast dimension frame (vocabulary-scale,
    * the codebook discipline). Rows-only by design (the oracle cannot
    * restate 32k rounds); TextSpec pins it against T17's oracle-checked
    * shallow accounting (deeper merges never cost MORE tokens) and
    * against the reference encoder.
    */
  def textBpeDeepEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, syms) = deepBpe(s, dir)
    val docsWords = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0))
    import s.implicits._
    val tokDf = syms.toSeq.map { case (w, ss) => (w, ss.length) }
      .toDF("word", "n_toks")
    docsWords.join(broadcast(tokDf), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks").cast("long")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** T16: byte-pair-encoding MERGE LEARNING — tokenizer training as a
    * first-class corpus operator (Sennrich et al.'s reference
    * algorithm, run on the word-frequency table the way every
    * production BPE trainer runs it). Each round: (1) weighted counts
    * of adjacent symbol pairs across the vocabulary, exact BIGINT
    * weights; (2) the argmax pair with a deterministic (count DESC,
    * left, right) tiebreak; (3) the greedy left-to-right
    * non-overlapping merge applied vocabulary-wide — all in
    * [[trainBpe]] on the driver. The gate emits the learned merge table
    * — (merge_round, left_sym, right_sym, pair_cnt) — and the DuckDB
    * oracle restates all `BpeRounds` rounds as generated CTE blocks, so
    * the hash checks the whole training trajectory: one divergent merge
    * anywhere cascades into every later round. Scale shape: training
    * state is the VOCABULARY (distinct words + counts), never the
    * corpus — the one corpus-sized pass is the word count.
    */
  def textBpe(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = trainBpe(vocabOf(corpusWords(s, dir)), BpeRounds)
    import s.implicits._
    merges.toDF("merge_round", "left_sym", "right_sym", "pair_cnt")
      .orderBy(col("merge_round"))
  }

  /** One oracle round: pair counts over v{k−1}, the deterministic
    * argmax, and the fold-merged vocabulary v{k}.
    */
  private def bpeRoundSql(k: Int): String = s"""
    p$k AS (
      SELECT syms[i] AS l, syms[i+1] AS r, sum(wc)::BIGINT AS cnt
      FROM (SELECT list_filter(string_split(wstr, chr(31)),
                     s -> len(s) > 0) AS syms, wc
            FROM v${k - 1}),
           unnest(range(1, len(syms))) AS u(i)
      GROUP BY l, r),
    b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
    v$k AS (
      SELECT word, wc,
             list_reduce(
               list_transform(list_filter(string_split(wstr, chr(31)),
                 s -> len(s) > 0), s -> chr(31) || s),
               (acc, e) -> CASE WHEN ends_with(acc, chr(31) || l)
                   AND e = chr(31) || r
                 THEN acc || r ELSE acc || e END) AS wstr
      FROM v${k - 1}, b$k)"""

  /** The shared oracle chain: v0 (char-split vocabulary) through
    * v{BpeRounds} (post-merge vocabulary), with b1..bR the per-round
    * argmax pairs. A word's symbols sit in `wstr` delimited by chr(31),
    * a control character no corpus word holds; a merged symbol is the
    * concatenation l||r, appended without a delimiter, so it cannot
    * re-match `l` — the non-overlapping rule.
    */
  private val bpeChainSql: String = s"""
    v0 AS (
      SELECT word, count(*)::BIGINT AS wc,
             chr(31) || array_to_string(
               list_transform(range(1, len(word) + 1), i -> word[i]),
               chr(31)) || chr(31) || chr(4) AS wstr
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE len(word) > 0
      GROUP BY word),
    ${(1 to BpeRounds).map(bpeRoundSql).mkString(",")}"""

  val textBpeSql: String = s"""
    WITH $bpeChainSql
    SELECT * FROM (
      ${(1 to BpeRounds).map(k =>
        s"SELECT CAST($k AS INTEGER) AS merge_round, l AS left_sym, " +
          s"r AS right_sym, cnt AS pair_cnt FROM b$k")
        .mkString(" UNION ALL ")})
    ORDER BY merge_round"""

  /** T17: BPE ENCODING — the application face of T16: join the corpus
    * against the trained post-merge vocabulary and account each
    * document's exact subword-token cost under the learned merges.
    * This replaces T3's ceil(len/4) `bpe_est` heuristic with the real
    * number a trained tokenizer produces, which is what a token
    * budget (P13's accounting, P4's packing) actually spends. Scale
    * shape: encoding is ONE shuffle join of the corpus word stream
    * against the vocabulary (word → token count — the trained
    * tokenizer as a dimension table, exactly how production pipelines
    * apply a frozen tokenizer), then a per-doc aggregate; training
    * cost is T16's and amortizes across every corpus it encodes.
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    // the word stream feeds the vocabulary build AND the final encode
    // join — persist or the corpus tokenizes twice (E24 discipline)
    val docsWords = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0))
    docsWords.join(bpeTokenCounts(docsWords.select(col("word"))), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val textBpeEncodeSql: String = s"""
    WITH $bpeChainSql,
    encoded AS (
      SELECT word, len(list_filter(string_split(wstr, chr(31)),
               s -> len(s) > 0))::BIGINT AS n_toks
      FROM v$BpeRounds),
    dw AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE len(word) > 0)
    SELECT doc_id, count(*) AS n_words, sum(n_toks)::BIGINT AS n_bpe_tokens
    FROM dw JOIN encoded USING (word)
    GROUP BY doc_id ORDER BY doc_id"""

  /** T29 (T17's missing half): MATERIALIZED token-ID sequences — what
    * a training run actually reads. T17 bills token COUNTS (what a
    * budget spends); the loader needs the ids in order. Token ids are
    * dense ranks over the trained tokenizer's distinct subword symbols
    * (sym-ascending — both engines restate it exactly); each corpus
    * word flattens to its ordered subword-id list through ONE
    * dimension join against the trained vocabulary (the frozen-
    * tokenizer-as-dimension-table shape production pipelines use),
    * and each document reassembles its sequence by (word position,
    * subword position). Scale shape: the T17 word-stream shuffle plus
    * one per-doc aggregate whose state is the document's own token
    * sequence — the OUTPUT, so materializing it is the floor, not
    * overhead. The symbol ids are ranked on the driver, where the
    * tokenizer trains, in the oracle's string order ([[Utf8Order]]);
    * the symbol table is bounded by merges + alphabet, never the corpus.
    */
  /** The frozen-tokenizer frames T29/T30 share: the per-doc word
    * stream, the word → token-id map (raw-vocabulary-scale), and the
    * bounded symbol ↔ id table. */
  private def bpeTokenizerFrames(s: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    val docsWords = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("wpos", "word")))
      .filter(length(col("word")) > 0))
    val (_, syms) = trainBpe(vocabOf(docsWords), BpeRounds)
    val tokId = syms.values.flatten.toSeq.distinct.sorted(Utf8Order)
      .zipWithIndex.map { case (sym, i) => sym -> (i + 1).toLong }
    val idOf = tokId.toMap
    import s.implicits._
    val symIds = tokId.toDF("sym", "tok_id")
    val wordIds = syms.toSeq.map { case (w, ss) => (w, ss.map(idOf)) }
      .toDF("word", "ids")
    (docsWords, wordIds, symIds)
  }

  /** The deployed tokenizer's (sym, tok_id) table — what R35's
    * streaming decoder collects at start-up (tokenizer-vocab-sized,
    * the codebook discipline). */
  private[graft] def bpeSymbolTable(s: SparkSession,
                                    dir: String): DataFrame =
    bpeTokenizerFrames(s, dir)._3

  private[graft] def bpeTokenSequences(s: SparkSession,
                                       dir: String): DataFrame = {
    val (docsWords, wordIds, _) = bpeTokenizerFrames(s, dir)
    // word→ids is RAW-vocabulary-scale (Heaps'-law growth): pinned
    // SHUFFLE_HASH per the T9/T13 discipline
    docsWords.join(wordIds.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("wpos"), col("ids"))))
        .as("ws"))
      .select(col("doc_id"),
        flatten(expr("transform(ws, w -> w.ids)")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }

  private val TokenSequencesKind = "token-sequences"

  /** The DEPLOYED tokenizer's encoded corpus — (doc_id, token_ids,
    * n_tokens), memoized in [[graft.Deployed]]. Every downstream
    * loader-pipeline operator (P32/P33/P35/P36 pack/order/manifest,
    * D35/P41 token-grain substring dedup) consumes the SAME
    * frozen-tokenizer encode as offline input prep — priced by its own
    * gates (text_bpe = train, text_bpe_tokens / text_bpe_encode =
    * encode, which deliberately do NOT use this memo). The
    * localCheckpoint pins one lineage per (session, dir): downstream
    * plans are identical across invocations, so their CachedFrames
    * entries dedupe, and the tokenizer trains once per corpus.
    */
  private[graft] def deployedTokenSequences(s: SparkSession,
                                            dir: String): DataFrame =
    graft.Deployed.memo(s, TokenSequencesKind, dir) {
      bpeTokenSequences(s, dir)
        .select(col("doc_id"), col("token_ids"), col("n_tokens"))
        .localCheckpoint(false)
    }

  /** Drop the token memo (test teardown, corpus swap). */
  private[graft] def releaseDeployedTokenSequences(): Unit =
    graft.Deployed.release(TokenSequencesKind)

  /** T30: BPE DECODE — the tokenizer ROUND-TRIP, closing the loader
    * loop T29 opened (a training pipeline that can only encode is
    * half a tokenizer: eval harnesses, data inspection, and generation
    * all decode). Reconstructs each document from NOTHING but the
    * flat token-id stream and the bounded symbol table: ids map back
    * to symbol strings, the concatenation splits on the end-of-word
    * mark (each word's last symbol carries `BpeMark` — BPE merges
    * never cross it, so word boundaries survive flattening), and the
    * words rejoin with single spaces. `is_match` compares against the
    * identically-normalized source text (split-filter-join — the same
    * whitespace normalization the encoder applied), so a TRUE row is
    * a proved lossless round-trip, not a heuristic. One narrow join
    * to the bounded symbol table + one per-doc aggregate — no window,
    * no corpus-scale broadcast (the symbol table is
    * tokenizer-vocab-sized and broadcasts by design).
    */
  def textBpeDecode(s: SparkSession, dir: String): DataFrame = {
    val (docsWords, wordIds, symIds) = bpeTokenizerFrames(s, dir)
    val seqs = docsWords.join(wordIds.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("wpos"), col("ids"))))
        .as("ws"))
      .select(col("doc_id"),
        flatten(expr("transform(ws, w -> w.ids)")).as("token_ids"))
    val stream = seqs
      .select(col("doc_id"),
        posexplode(col("token_ids")).as(Seq("spos", "tok")))
      .join(broadcast(symIds.select(col("tok_id").as("tok"), col("sym"))),
        Seq("tok"))
    val decoded = stream.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws("", expr(
          "transform(sort_array(collect_list(struct(spos, sym))), " +
            "p -> p.sym)")).as("allsym"))
      .select(col("doc_id"), col("n_tokens"),
        array_join(filter(split(col("allsym"), BpeMark),
          w => length(w) > lit(0)), " ").as("decoded"))
    val orig = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          w => length(w) > lit(0)), " ").as("norm"))
    decoded.join(orig, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        md5(col("decoded")).as("decoded_md5"),
        (col("decoded") === col("norm")).as("is_match"))
      .orderBy(col("doc_id"))
  }

  lazy val textBpeDecodeSql: String = s"""
    WITH $bpeTokenFlatSql,
    dec AS (
      SELECT f.doc_id,
             count(*)::BIGINT AS n_tokens,
             string_agg(s.sym, '' ORDER BY f.wpos, f.spos) AS allsym
      FROM flat f JOIN sym_ids s USING (tok_id) GROUP BY f.doc_id),
    d2 AS (
      SELECT doc_id, n_tokens,
             array_to_string(list_filter(
               string_split(allsym, chr(4)), w -> len(w) > 0), ' ')
               AS decoded
      FROM dec),
    orig AS (
      SELECT doc_id,
             array_to_string(list_filter(
               string_split(text, ' '), w -> len(w) > 0), ' ') AS norm
      FROM documents)
    SELECT doc_id, n_tokens, md5(decoded) AS decoded_md5,
           (decoded = norm) AS is_match
    FROM d2 JOIN orig USING (doc_id) ORDER BY doc_id"""

  /** The T29 gate: the sequence rendered as a '-'-joined string so the
    * driver's scalar-cell hasher checks it exactly (list cells sort
    * unreliably through pandas); the array face above is what P29's
    * tokenized writer consumes.
    */
  def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    bpeTokenSequences(s, dir)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("token_ids"), "-").as("token_str"))
      .orderBy(col("doc_id"))

  /** The T29 oracle scaffolding up to the per-token `flat` relation —
    * shared by the sequence gate and P32's block packer. */
  private[graft] lazy val bpeTokenFlatSql: String = s"""$bpeChainSql,
    wsyms AS (
      SELECT word, list_filter(string_split(wstr, chr(31)),
               s -> len(s) > 0) AS syms
      FROM v$BpeRounds),
    sym_ids AS (
      SELECT sym, row_number() OVER (ORDER BY sym)::BIGINT AS tok_id
      FROM (SELECT DISTINCT unnest(syms) AS sym FROM wsyms)),
    wexp AS (
      SELECT word, unnest(syms) AS sym,
             unnest(range(1, 1 + len(syms))) AS spos
      FROM wsyms),
    word_ids AS (
      SELECT word, list(tok_id ORDER BY spos) AS ids
      FROM wexp JOIN sym_ids USING (sym)
      GROUP BY word),
    dw AS (
      SELECT doc_id, word, wpos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               unnest(range(1, 1 + len(string_split(text, ' ')))) AS wpos
        FROM documents)
      WHERE len(word) > 0),
    flat AS (
      SELECT doc_id, wpos, unnest(ids) AS tok_id,
             unnest(range(1, 1 + len(ids))) AS spos
      FROM dw JOIN word_ids USING (word))"""

  lazy val textBpeTokensSql: String = s"""
    WITH $bpeTokenFlatSql
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           array_to_string(list(tok_id ORDER BY wpos, spos), '-')
             AS token_str
    FROM flat GROUP BY doc_id ORDER BY doc_id"""

  /** T27: tokenizer FERTILITY per source — the report every corpus
    * card carries (tokens-per-word and chars-per-token under the
    * trained tokenizer, per source): fertility prices how expensively
    * a source tokenizes (morphology-heavy or noisy sources fragment
    * into more subwords — their token budget buys fewer words), and
    * chars-per-token is the compression ratio a byte budget converts
    * through. Rides T17's one corpus-word join; both ratios emit in
    * exact integer ppm (micro units, BIGINT division) so the whole
    * report hash-checks. Scale shape: the word-stream shuffle T16/T17
    * already pay plus one (sources)-bounded aggregate.
    */
  def textFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val dw = graft.CachedFrames.persist(docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0))
    val toks = bpeTokenCounts(dw.select(col("word")))
    // toks is RAW-vocabulary-scale (every corpus word — Heaps'-law
    // growth, not the bounded merge table): pinned SHUFFLE_HASH per
    // the T9/T13 discipline, so it is never broadcast to every task
    val per = dw.join(toks.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"))
    val chars = docs.groupBy(col("source"))
      .agg(sum(length(col("text")).cast("long")).as("n_chars"))
    per.join(chars, Seq("source"))
      .withColumn("fertility_ppm",
        expr("n_bpe_tokens * 1000000 div n_words"))
      .withColumn("chars_per_token_ppm",
        expr("n_chars * 1000000 div n_bpe_tokens"))
      .orderBy(col("source"))
  }

  val textFertilitySql: String = s"""
    WITH $bpeChainSql,
    encoded AS (
      SELECT word, len(list_filter(string_split(wstr, chr(31)),
               s -> len(s) > 0))::BIGINT AS n_toks
      FROM v$BpeRounds),
    dw AS (
      SELECT doc_id, source, word
      FROM (SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE len(word) > 0),
    per AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_words, sum(n_toks)::BIGINT AS n_bpe_tokens
      FROM dw JOIN encoded USING (word) GROUP BY source),
    ch AS (SELECT source, sum(len(text))::BIGINT AS n_chars
           FROM documents GROUP BY source)
    SELECT source, n_docs, n_words, n_bpe_tokens, n_chars,
           n_bpe_tokens * 1000000 // n_words AS fertility_ppm,
           n_chars * 1000000 // n_bpe_tokens AS chars_per_token_ppm
    FROM per JOIN ch USING (source) ORDER BY source"""

  /** T28: per-source unigram KL DRIFT vs the corpus mixture — the
    * distribution-shift scalar a reweighting pass (P24's attribution,
    * DSIR-style selection) consumes: KL(source ‖ corpus) over unigram
    * frequencies says how far a source's vocabulary usage sits from
    * the blend it ships in. No smoothing needed: every source word is
    * a corpus word by construction, so the reference probability never
    * vanishes. Determinism discipline: each term's log-ratio rounds to
    * 6dp FIRST (both engines' libm agree through 6dp), then scales to
    * an integral-valued double that multiplies the exact BIGINT count
    * — so the per-source sum is exact integer arithmetic and the
    * divide-by-total is one integer division: the whole report
    * hash-checks, no float summation order anywhere. Scale shape: the
    * word shuffle the unigram families already pay, two bounded
    * aggregates, one scalar collect (corpus token total — the codebook
    * idiom).
    */
  def textKlDrift(s: SparkSession, dir: String): DataFrame = {
    val dw = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val bs = graft.CachedFrames.persist(
      dw.groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("c_sw")))
    val ts = bs.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
    val bw = bs.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
    val tC = bw.agg(sum(col("c_w"))).head().getLong(0)
    val terms = bs
      .join(ts.hint("shuffle_hash"), Seq("source"))
      .join(bw.hint("shuffle_hash"), Seq("word"))
      .withColumn("x", round(
        log((col("c_sw").cast("double") * lit(tC.toDouble)) /
          (col("c_w").cast("double") * col("t_s").cast("double"))), 6))
      .withColumn("term_micro",
        round(col("c_sw") * col("x") * lit(1e6), 0).cast("long"))
    terms.groupBy(col("source"))
      .agg(max(col("t_s")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("term_micro")).as("kl_sum_micro"))
      .withColumn("kl_micro", expr("kl_sum_micro div n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("kl_micro"))
      .orderBy(col("source"))
  }

  val textKlDriftSql: String = """
    WITH dw AS (
      SELECT source, word
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE len(word) > 0),
    bs AS (SELECT source, word, count(*)::BIGINT AS c_sw
           FROM dw GROUP BY source, word),
    ts AS (SELECT source, sum(c_sw)::BIGINT AS t_s FROM bs GROUP BY source),
    bw AS (SELECT word, sum(c_sw)::BIGINT AS c_w FROM bs GROUP BY word),
    tc AS (SELECT sum(c_w)::BIGINT AS t_c FROM bw),
    terms AS (
      SELECT source, t_s, c_sw,
             CAST(round(c_sw * round(ln((c_sw::DOUBLE * t_c) /
               (c_w::DOUBLE * t_s)), 6) * 1e6, 0) AS BIGINT) AS term_micro
      FROM bs JOIN ts USING (source) JOIN bw USING (word) CROSS JOIN tc)
    SELECT source, max(t_s) AS n_tokens, count(*) AS n_types,
           sum(term_micro)::BIGINT // max(t_s) AS kl_micro
    FROM terms GROUP BY source ORDER BY source"""

  // ---- T19: cross-doc repeated-span coverage ----

  /** T19: per-document REPEATED-TEXT coverage — the removal signal
    * substring-level dedup actually acts on (Lee et al.'s "deduplicate
    * before training": what FRACTION of this document is text that
    * also appears elsewhere?). D7 found the cross-doc spans; this
    * operator turns them into the per-doc number a filter thresholds.
    * Tiles are D7's exact definition — disjoint 10-word windows — so
    * coverage needs no interval union: repeated_frac = repeated tiles
    * / tiles, exact integer micro. A tile counts as repeated only if
    * its hash occurs in ≥2 DISTINCT docs (within-doc repetition is
    * T7's signal, deliberately not double-counted here). Scale shape:
    * the span index shuffles 16-byte hashes, the cross-doc flag is
    * one aggregate over it, the flag joins back hash-to-hash
    * (both sides O(corpus) ⇒ SHUFFLE_HASH, the §8a rule), and the
    * per-doc rollup shuffles doc ids — text never shuffles.
    */
  def textRepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    val spans = graft.CachedFrames.persist(Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 10)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        explode(expr(
          "transform(sequence(1, size(w) div 10), " +
            "k -> concat_ws(' ', slice(w, (k-1)*10+1, 10)))")).as("span"))
      .withColumn("h", md5(col("span"))).drop("span"))
    val rep = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("is_rep"))
    spans.join(rep.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_words"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(coalesce(col("is_rep"), lit(0L))).as("n_repeated_tiles"))
      .withColumn("repeated_frac_micro",
        expr("n_repeated_tiles * 1000000 div n_tiles"))
      .select(col("doc_id"), col("n_words"), col("n_tiles"),
        col("n_repeated_tiles"), col("repeated_frac_micro"))
      .orderBy(col("doc_id"))
  }

  val textRepeatedSpansSql: String = """
    WITH sp AS (
      SELECT doc_id, len(w)::BIGINT AS n_words,
             md5(array_to_string(
               list_slice(w, (k-1)*10+1, (k-1)*10+10), ' ')) AS h
      FROM (SELECT doc_id, w, unnest(range(1, 1 + len(w)//10)) AS k
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
            WHERE len(w) >= 10)),
    rep AS (SELECT h FROM sp GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2)
    SELECT doc_id, n_words, count(*) AS n_tiles,
           sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_repeated_tiles,
           (sum(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000 // count(*))::BIGINT AS repeated_frac_micro
    FROM sp LEFT JOIN rep ON sp.h = rep.h
    GROUP BY doc_id, n_words ORDER BY doc_id"""

  // ---- T18: hybrid retrieval (BM25 ⊕ vector, RRF fusion) ----

  /** Reciprocal-rank-fusion constant (Cormack et al.'s k=60). */
  val RrfK = 60

  /** T18: HYBRID retrieval — the fusion step every modern retrieval
    * stack runs: a lexical ranking (T6's BM25 over the fixed query
    * terms) and a dense ranking (S1's exact cosine list for query
    * vector 0 — swap any ANN face at scale; ids are shared between
    * `documents` and `embeddings`) merge by reciprocal rank fusion,
    * rrf = Σ 1/(k + rank) over the sources that returned the doc.
    * RRF is rank-only — no score normalization across incomparable
    * scales, the reason it became the default — and here each
    * reciprocal quantizes as 1000000 div (k + rank), pure integer
    * division, so fused scores are exact BIGINTs in both engines.
    * Scale shape: both input rankings are top-N frames (KBs), the
    * fusion is a full-outer join of two tiny lists + one sort of ≤
    * N₁+N₂ rows — cost lives in the component retrievals, which keep
    * their own scale designs (T6 postings pushdown, S-family ANN).
    */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    val wt = Window.orderBy(col("score_micro").desc, col("doc_id"))
    val bm = textBm25(s, dir)
      .withColumn("text_rank", row_number().over(wt))
      .select(col("doc_id"), col("text_rank"))
    val vec = graft.sim.SimQueries.knnBrute(s, dir)
      .filter(col("q_id") === 0)
      .select(col("neighbor").cast("long").as("doc_id"),
        col("rank").as("vec_rank"))
    bm.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($RrfK + text_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + vec_rank)"), lit(0L)))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_micro").desc,
          col("doc_id"))))
      .filter(col("rank") <= 10)
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        col("rrf_micro"), col("rank"))
      .orderBy(col("rank"))
  }

  val hybridSearchSql: String = s"""
    WITH bm AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id)
               AS text_rank
      FROM ($textBm25Sql)),
    vec AS (
      SELECT neighbor AS doc_id, rank AS vec_rank
      FROM (${graft.sim.SimQueries.knnBruteSql})
      WHERE q_id = 0),
    fused AS (
      SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
             text_rank, vec_rank,
             coalesce(1000000 // ($RrfK + text_rank), 0)::BIGINT +
               coalesce(1000000 // ($RrfK + vec_rank), 0)::BIGINT
               AS rrf_micro
      FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
    SELECT doc_id, text_rank, vec_rank, rrf_micro,
           row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
    FROM fused
    QUALIFY rank <= 10
    ORDER BY rank"""

  /** T26: RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase rung beside T11's TextRank: TextRank ranks WORDS by
    * graph centrality, RAKE ranks PHRASES by co-occurrence degree,
    * and it's the one every curation stack reaches for first because
    * it needs nothing but a stopword list. Candidate phrases are
    * maximal stopword-free runs (each doc's OWN language's list, the
    * T1 broadcast join), capped at 4 words per standard practice —
    * the cap also bounds every output string. Scoring is RAKE's
    * deg/freq: a word's degree sums the lengths of phrases it
    * occurs in, its frequency counts occurrences, word score =
    * deg·10⁶ div freq (exact micro), and a phrase scores the SUM of
    * its words' scores — an order-free integer sum, so cross-engine
    * exact. The per-position window is per-DOC (bounded by doc
    * length); phrase text assembles with an ordered aggregate; the
    * word-stat joins shuffle on the word key the stats already
    * grouped on. Output: global top-20 phrases (TakeOrdered).
    */
  def textRake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sw = Stopwords.toDF("sw_lang", "word")
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("lang"), (col("pos") + 1).as("pos"),
        col("col").as("word"))
    val flagged = pos
      .join(broadcast(sw),
        pos("lang") === sw("sw_lang") && pos("word") === sw("word"),
        "left")
      .select(col("doc_id"), col("lang"), col("pos"), pos("word"),
        col("sw_lang").isNotNull.cast("int").as("is_stop"))
    val withPhrase = flagged.withColumn("phrase_id",
      sum(col("is_stop")).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("is_stop") === 0)
    val phrases = withPhrase
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word"))).as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= 4)
    val members = withPhrase
      .join(phrases.select(col("doc_id"), col("phrase_id"), col("plen")),
        Seq("doc_id", "phrase_id"))
    val wordStats = members.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_micro", expr("deg * 1000000 div freq"))
    val phraseScores = members
      .join(wordStats.select(col("word"), col("wscore_micro"))
        .hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(sum(col("wscore_micro")).as("score_micro"))
      .join(phrases, Seq("doc_id", "phrase_id"))
    phraseScores
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(20)
  }

  val textRakeSql: String = s"""
    WITH sw(sw_lang, word) AS (VALUES $StopwordsValuesSql),
    pos AS (
      SELECT doc_id, lang, i AS pos, w[i] AS word
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
            FROM documents)),
    flagged AS (
      SELECT p.doc_id, p.lang, p.pos, p.word,
             CASE WHEN s.word IS NULL THEN 0 ELSE 1 END AS is_stop
      FROM pos p LEFT JOIN sw s
        ON s.sw_lang = p.lang AND s.word = p.word),
    wp AS (
      SELECT doc_id, pos, word, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM flagged),
    nonstop AS (SELECT * FROM wp WHERE is_stop = 0),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(word, ' ' ORDER BY pos) AS phrase,
             count(*)::BIGINT AS plen
      FROM nonstop GROUP BY 1, 2 HAVING count(*) <= 4),
    members AS (
      SELECT n.doc_id, n.phrase_id, n.word, p.plen
      FROM nonstop n JOIN phrases p USING (doc_id, phrase_id)),
    ws AS (
      SELECT word, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS deg,
             sum(plen)::BIGINT * 1000000 // count(*)::BIGINT
               AS wscore_micro
      FROM members GROUP BY 1),
    ps AS (
      SELECT m.doc_id, m.phrase_id,
             sum(w.wscore_micro)::BIGINT AS score_micro
      FROM members m JOIN ws w USING (word) GROUP BY 1, 2)
    SELECT p.phrase, count(*)::BIGINT AS n_occurrences,
           min(s.score_micro)::BIGINT AS score_micro
    FROM ps s JOIN phrases p USING (doc_id, phrase_id)
    GROUP BY p.phrase
    ORDER BY score_micro DESC, phrase LIMIT 20"""

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe" -> (textBpe _),
    "text_bpe_deep" -> (textBpeDeep _),
    "text_bpe_deep_ckpt" -> (textBpeDeepCkpt _),
    "text_bpe_deep_ckpt_prefix" -> (textBpeDeepCkptPrefix _),
    "text_bpe_deep_encode" -> (textBpeDeepEncode _),
    "text_rake" -> (textRake _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_bpe_tokens" -> (textBpeTokens _),
    "text_bpe_decode" -> (textBpeDecode _),
    "text_fertility" -> (textFertility _),
    "text_kl_drift" -> (textKlDrift _),
    "hybrid_search" -> (hybridSearch _),
    "text_repeated_spans" -> (textRepeatedSpans _),
    "text_bm25" -> (textBm25 _),
    "text_tfidf" -> (textTfidf _),
    "text_phrase_search" -> (textPhraseSearch _),
    "text_repetition" -> (textRepetition _),
    "text_lang_id" -> (textLangId _),
    "text_lang_confusion" -> (textLangConfusion _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_fingerprint" -> (textFingerprint _),
    "text_ngram_stats" -> (textNgramStats _),
    "text_zipf" -> (textZipf _),
    "text_collocations" -> (textCollocations _),
    "text_collocations_llr" -> (textCollocationsLlr _),
    "text_domain_terms" -> (textDomainTerms _),
    "text_textrank" -> (textTextrank _),
    "text_perplexity" -> (textPerplexity _),
    "text_perplexity_jm" -> (textPerplexityJm _),
    "text_perplexity_kn" -> (textPerplexityKn _))

  def oracles: Map[String, String] = Map(
    "text_bpe" -> textBpeSql,
    "text_bpe_deep" -> textBpeSql,
    "text_bpe_deep_ckpt_prefix" -> textBpeDeepCkptPrefixSql,
    "text_rake" -> textRakeSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_bpe_tokens" -> textBpeTokensSql,
    "text_bpe_decode" -> textBpeDecodeSql,
    "text_fertility" -> textFertilitySql,
    "text_kl_drift" -> textKlDriftSql,
    "hybrid_search" -> hybridSearchSql,
    "text_repeated_spans" -> textRepeatedSpansSql,
    "text_bm25" -> textBm25Sql,
    "text_tfidf" -> textTfidfSql,
    "text_phrase_search" -> textPhraseSearchSql,
    "text_repetition" -> textRepetitionSql,
    "text_lang_id" -> textLangIdSql,
    "text_lang_confusion" -> textLangConfusionSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_ngram_stats" -> textNgramStatsSql,
    "text_zipf" -> textZipfSql,
    "text_collocations" -> textCollocationsSql,
    "text_collocations_llr" -> textCollocationsLlrSql,
    "text_domain_terms" -> textDomainTermsSql,
    "text_textrank" -> textTextrankSql,
    "text_perplexity" -> textPerplexitySql,
    "text_perplexity_jm" -> textPerplexityJmSql,
    "text_perplexity_kn" -> textPerplexityKnSql)
}
