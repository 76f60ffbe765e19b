package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Text analysis operators over `documents` (doc_id, text, lang, source,
  * n_chars): token counting (whitespace + BPE-ish regex), quality scoring,
  * language-ID by stopword profiles, and document fingerprinting.
  *
  * Everything is a narrow per-row projection — embarrassingly parallel,
  * no shuffle except the final presentation sort; at 100 TB these run at
  * scan speed inside whole-stage codegen.
  *
  * Determinism: only integer counts, exact ratios of those integers, and
  * hash digests — every query here is oracle-checkable except the rolling
  * hash (kept SQL-expressible on both sides anyway).
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // -------------------------------------------------------------- stats
  /** Token counts + quality signals: whitespace tokens, distinct tokens,
    * type-token ratio, BPE-ish regex token count (letter runs / digit
    * runs / single punctuation — a crude byte-pair-style segmentation),
    * stopword ratio, mean token length.
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    statsOn(docs(spark, dir))

  // Shared quality-feature expressions over the tokenized column `w` —
  // ONE definition feeds both [[statsOn]] and [[qualityScoreOn]], so
  // the stopword list and the per-feature arithmetic whose cross-engine
  // bit-exactness the oracle relies on can't drift between the two
  // operators (their SQL twins spell the same list; ExtSpec pins the
  // logit-reproduces-from-stats contract). count_in_set / sum_strlen
  // are native codegen expressions (TextStatsExpressions); the HOF
  // lambdas they replaced were interpreted per token.
  private def stopCount = expr("count_in_set(w, array('the','a','of','and','to'))")
  private def ttrCol = size(array_distinct(col("w"))).cast("double") / size(col("w"))
  private def stopRatioCol = stopCount.cast("double") / size(col("w"))
  private def meanTokLenCol = expr("sum_strlen(w)").cast("double") / size(col("w"))

  def statsOn(documents: DataFrame): DataFrame = {
    documents
      .withColumn("w", split(col("text"), " "))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_uniq"),
        ttrCol.as("ttr"),
        expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))")
          .as("n_bpe_tokens"),
        stopCount.as("n_stop"),
        stopRatioCol.as("stop_ratio"),
        meanTokLenCol.as("mean_tok_len"))
      .orderBy(col("doc_id"))
  }

  val statsSql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars_m,
      |  CAST(len(w) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(w)) AS INT) AS n_uniq,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens,
      |  CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS INT) AS n_stop,
      |  CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(w) AS stop_ratio,
      |  CAST(list_aggregate(list_transform(w, x -> CAST(length(x) AS INT)), 'sum') AS DOUBLE) / len(w) AS mean_tok_len
      |FROM d ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- quality scorer
  /** Linear quality classifier: a fastText-style scorer with FIXED,
    * interpretable weights over the [[stats]] features (token count,
    * type-token ratio, stopword ratio, mean token length) — the shape of
    * the model-based quality stage every large corpus pipeline runs
    * after the rule-based one ([[qualityFilter]]). The score stays a
    * LOGIT (w·x + b, threshold at 0): skipping the sigmoid keeps the
    * arithmetic a fixed left-to-right double fold that DuckDB reproduces
    * bit-for-bit, where exp() would differ in the last ulp across
    * engines. Pure scan-side projection — zero shuffles; weights would
    * come from a trained model file in production, broadcast as
    * literals exactly as here.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOn(docs(spark, dir))

  def qualityScoreOn(documents: DataFrame): DataFrame = {
    documents
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("double"))
      .withColumn("ttr", ttrCol)
      .withColumn("stop_ratio", stopRatioCol)
      .withColumn("mean_tok_len", meanTokLenCol)
      .withColumn("logit",
        lit(-2.5) + col("n_tokens") * lit(0.01) + col("ttr") * lit(1.5) +
          col("stop_ratio") * lit(6.0) + col("mean_tok_len") * lit(0.08))
      .select(col("doc_id"), round(col("logit"), 6).as("quality_logit"),
        (col("logit") > 0.0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS ttr,
      |    CAST(len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    CAST(list_aggregate(list_transform(string_split(text, ' '),
      |        x -> CAST(length(x) AS INT)), 'sum') AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_tok_len
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    -2.5 + n_tokens * 0.01 + ttr * 1.5 + stop_ratio * 6.0
      |      + mean_tok_len * 0.08 AS logit
      |  FROM f)
      |SELECT doc_id, round(logit, 6) AS quality_logit,
      |  CAST(logit > 0.0 AS INT) AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ LM surprisal filter
  /** Character-trigram language-model surprisal — the perplexity-style
    * quality filter big corpus pipelines run after the rule-based pass
    * (CCNet's KenLM stage, shape-wise): train an add-one-smoothed char
    * trigram model ON the corpus, then score each document by its mean
    * per-trigram surprisal −(1/n)·Σ ln p(t₃|t₁t₂); boilerplate and
    * natural text score low, character noise scores high. Production
    * would load a pre-trained model and calibrate the threshold on a
    * held-out slice; the operator shape is identical (the model table
    * just arrives from a file instead of the corpus aggregate).
    *
    * p(tri) = (c₃ + 1) / (c₂ + 96): c₃ = corpus trigram count, c₂ = its
    * 2-char-prefix count (derived from the SAME trigram multiset, so the
    * model is one groupBy), 96 ≈ printable-ASCII alphabet for the
    * add-one mass.
    *
    * Cross-engine exactness: ln() is the one transcendental the oracle
    * replay can't fold bit-for-bit, so each model term is SNAPPED TO A
    * FIXED-POINT GRID before any cross-row aggregation — term_fp =
    * round(ln(c₃+1)·10⁶) − round(ln(c₂+96)·10⁶) as BIGINT. A 1-ulp
    * engine difference in ln only matters if the value sits within
    * ~1e-10 of a grid midpoint (vanishing over the few thousand distinct
    * counts); after the snap, the per-document Σ term_fp is INTEGER
    * arithmetic — order-proof across partitions, exactly the trick the
    * scaled-BIGINT pagerank uses. The final per-doc mean divides two
    * exact integers in double (deterministic IEEE on both engines).
    *
    * Scale shape: one corpus scan explodes trigrams (narrow, no text
    * shuffles — trigram keys only); the model is alphabet³-bounded
    * (≤ ~900k rows whatever the corpus size — broadcastable at 100 TB);
    * per-doc scoring is a broadcast join + map-side partial sum.
    */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame =
    lmSurprisalOn(docs(spark, dir))

  def lmSurprisalOn(documents: DataFrame): DataFrame = {
    // the batch form both trains and scores from the same trigram
    // multiset — stage it once instead of exploding the corpus twice
    val tris = graft.engine.Materialize.stage(lmTrigrams(documents))
    lmScoreTris(tris, lmModelFromTris(tris)).orderBy(col("doc_id"))
  }

  /** The frozen model artifact: (tri, term_fp) from a reference corpus.
    * A planning-time aggregate — the streaming twin
    * ([[graft.streaming.SurprisalFilter]]) derives it once per corpus
    * release and broadcasts it to every micro-batch, exactly like the
    * temperature-mix recipe. */
  def lmModel(reference: DataFrame): DataFrame =
    lmModelFromTris(lmTrigrams(reference))

  private def lmModelFromTris(tris: DataFrame): DataFrame = {
    // prefix totals as a window over the trigram counts instead of a
    // groupBy + self-join: the join form evaluated the trigram aggregate
    // once per reference (guide §1.2), and the window needs only the one
    // exchange on the prefix (bounded fan-in: ≤|alphabet| rows per pfx)
    val c3 = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3"))
    val wPfx = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("substring(tri, 1, 2)"))
    c3.withColumn("c2", sum(col("c3")).over(wPfx))
      .withColumn("term_fp", expr(
        "cast(round(ln(c3 + 1.0d) * 1000000.0d) as bigint) - " +
          "cast(round(ln(c2 + 96.0d) * 1000000.0d) as bigint)"))
      .select(col("tri"), col("term_fp"))
  }

  private def lmTrigrams(documents: DataFrame): DataFrame =
    documents.filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))

  /** Score `documents` against a (tri, term_fp) model. Trigrams absent
    * from the model drop out of the mean (inner join) — the batch form
    * never hits this (the model IS the corpus); a stream scoring against
    * a frozen model treats unseen trigrams as uninformative rather than
    * inventing a count for them. */
  def lmScore(documents: DataFrame, model: DataFrame): DataFrame =
    lmScoreTris(lmTrigrams(documents), model)

  private def lmScoreTris(tris: DataFrame, model: DataFrame): DataFrame =
    tris.join(broadcast(model), "tri")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("term_fp")).as("score_fp"))
      .withColumn("surprisal", round(
        expr("cast(-score_fp as double) / (cast(n_tri as double) * 1000000.0d)"), 6))
      .select(col("doc_id"), col("n_tri"), col("surprisal"),
        (col("surprisal") < lit(0.85)).cast("int").as("keep"))

  val lmSurprisalSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
      |tri AS (SELECT doc_id, substr(text, CAST(t.i AS INT), 3) AS tri
      |        FROM d, UNNEST(generate_series(1, length(text) - 2)) AS t(i)),
      |c3 AS (SELECT tri, COUNT(*) AS c3 FROM tri GROUP BY tri),
      |c2 AS (SELECT substr(tri, 1, 2) AS pfx, SUM(c3) AS c2 FROM c3 GROUP BY 1),
      |m AS (SELECT tri, CAST(round(ln(c3 + 1.0) * 1000000.0) AS BIGINT)
      |             - CAST(round(ln(c2 + 96.0) * 1000000.0) AS BIGINT) AS term_fp
      |      FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pfx),
      |sc AS (SELECT t.doc_id, COUNT(*) AS n_tri, CAST(SUM(m.term_fp) AS BIGINT) AS score_fp
      |       FROM tri t JOIN m USING (tri) GROUP BY t.doc_id),
      |r AS (SELECT doc_id, n_tri,
      |        round(CAST(-score_fp AS DOUBLE) / (CAST(n_tri AS DOUBLE) * 1000000.0), 6) AS surprisal
      |      FROM sc)
      |SELECT doc_id, n_tri, surprisal,
      |  CAST(surprisal < 0.85 AS INT) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ PMI collocations
  /** Pointwise-mutual-information collocations: the top word bigrams by
    * PMI = ln p(ab) / (p(a)·p(b)) with a minimum-support floor — the
    * classic measure (Church & Hanks) separating real collocations from
    * bigrams that co-occur only because both words are frequent; corpus
    * pipelines use it for tokenizer-merge candidates, phrase mining,
    * and boilerplate fingerprints where raw frequency ([[topNgrams]])
    * surfaces stopword pairs. Over OCCURRENCE counts (not the distinct
    * per-doc sets topNgrams uses): PMI's probabilities are occurrence
    * probabilities.
    *
    * Exactness: PMI decomposes into ±ln of INTEGER counts — lnfp(c_ab)
    * − lnfp(N_b) − lnfp(c_a) − lnfp(c_b) + 2·lnfp(N_u) on the
    * [[lmSurprisalOn]] fixed-point grid — so scoring, ranking, and the
    * emitted values are pure BIGINT arithmetic (the displayed pmi is
    * the integer divided by 10⁶). Support floor c_ab ≥ 5 kills the
    * singleton-pair PMI spike (two hapaxes co-occurring once score the
    * corpus maximum — the known PMI pathology).
    *
    * Scale shape: two partial+final counts (bigram occurrences, unigram
    * occurrences), a 1-row totals frame broadcast, the unigram table
    * joined twice by word key, distributed top-k. Nothing shuffles but
    * gram keys and counts.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocationsOn(docs(spark, dir), minCount = 5, topK = 20)

  def pmiCollocationsOn(documents: DataFrame, minCount: Long,
      topK: Int): DataFrame = {
    val lnfp = (x: String) => s"cast(round(ln($x) * 1000000.0d) as bigint)"
    // bigram occurrences extract PER ROW (no token-stream self-join —
    // the round-2 lesson: the first exchange is the gram count)
    val d = documents.withColumn("w", split(col("text"), " "))
    val uni = d.select(explode(col("w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cw"))
    val nu = uni.agg(sum(col("cw")).as("n_u"))
    val big = d.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) as wa, element_at(w, i + 1) as wb))"))
        .as("bg"))
      .select(col("bg.wa").as("wa"), col("bg.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    val nb = big.agg(sum(col("cab")).as("n_b"))
    big
      .join(uni.select(col("wd").as("wa"), col("cw").as("ca")), "wa")
      .join(uni.select(col("wd").as("wb"), col("cw").as("cb")), "wb")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("pmi_fp", expr(
        s"${lnfp("cab")} - ${lnfp("n_b")} - ${lnfp("ca")} - ${lnfp("cb")}" +
          s" + 2L * ${lnfp("n_u")}"))
      .select(concat_ws(" ", col("wa"), col("wb")).as("ngram"),
        col("cab"),
        round(col("pmi_fp").cast("double") / 1000000.0d, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ngram"))
      .limit(topK)
  }

  val pmiCollocationsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(t.i AS INT) AS p, w[i] AS wd
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(generate_series(1, len(w))) AS t(i)),
      |uni AS (SELECT wd, COUNT(*) AS cw FROM toks GROUP BY wd),
      |nu AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_u FROM uni),
      |big AS (SELECT a.wd AS wa, b.wd AS wb, COUNT(*) AS cab
      |        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS n_b FROM big),
      |sc AS (
      |  SELECT big.wa, big.wb, big.cab,
      |    CAST(round(ln(big.cab) * 1000000.0) AS BIGINT)
      |    - CAST(round(ln(nb.n_b) * 1000000.0) AS BIGINT)
      |    - CAST(round(ln(x.cw) * 1000000.0) AS BIGINT)
      |    - CAST(round(ln(y.cw) * 1000000.0) AS BIGINT)
      |    + 2 * CAST(round(ln(nu.n_u) * 1000000.0) AS BIGINT) AS pmi_fp
      |  FROM big JOIN uni x ON big.wa = x.wd JOIN uni y ON big.wb = y.wd
      |  CROSS JOIN nu CROSS JOIN nb)
      |SELECT wa || ' ' || wb AS ngram, cab,
      |  round(CAST(pmi_fp AS DOUBLE) / 1000000.0, 6) AS pmi
      |FROM sc ORDER BY pmi DESC, ngram LIMIT 20""".stripMargin

  // ------------------------------------------------ CCNet terciles
  /** CCNet's perplexity bucketing (Wenzek et al.): rank the corpus by LM
    * surprisal and split into head / middle / tail terciles — the
    * segmentation CCNet publishes per language so downstream consumers
    * can choose how deep into the quality distribution to train. Tercile
    * membership is RANK-derived (tercile = (rank−1)·3 div n — integer
    * arithmetic, no float quantile to drift cross-engine), and the
    * global rank over (surprisal, doc_id) is built with the same
    * scalable two-level construction as [[graft.ext.Dedup
    * .sortedNeighborhood]]: bucket by floor(surprisal·100) (a bounded
    * numeric histogram — surprisal lives in a few hundred cents), local
    * row_number per bucket, plus a broadcast cumulative-offset table
    * whose row count is the number of DISTINCT cents, not documents.
    * One unpartitioned window runs over that cents table only.
    */
  def ccnetTerciles(spark: SparkSession, dir: String): DataFrame =
    ccnetTercilesOn(docs(spark, dir))

  def ccnetTercilesOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    // staged: the local-rank window, the offset grid, and the total
    // each reference this frame — without a cut the whole trigram-LM
    // scoring chain executes three times in the one job (no release
    // site: the returned frame is backed by it; the between-queries
    // sweep reclaims, same convention as bpeTokenize)
    val scored = graft.engine.Materialize.stage(lmSurprisalOn(documents)
      .select(col("doc_id"), col("surprisal"))
      .withColumn("bkt", floor(col("surprisal") * 100).cast("long")))
    val wLocal = W.partitionBy(col("bkt"))
      .orderBy(col("surprisal"), col("doc_id"))
    val local = scored.withColumn("lrn", row_number().over(wLocal).cast("long"))
    val wOff = W.orderBy(col("bkt")).rowsBetween(W.unboundedPreceding, -1)
    val offsets = scored.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("bkt").as("obkt"), col("off"))
    val n = scored.agg(count(lit(1)).as("n"))
    local.join(broadcast(offsets), col("bkt") === col("obkt"))
      .crossJoin(broadcast(n))
      .withColumn("r", col("off") + col("lrn"))
      .select(col("doc_id"), col("surprisal"),
        expr("(r - 1) * 3 div n").cast("int").as("tercile"))
      .orderBy(col("doc_id"))
  }

  val ccnetTercilesSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 3),
      |tri AS (SELECT doc_id, substr(text, CAST(t.i AS INT), 3) AS tri
      |        FROM d, UNNEST(generate_series(1, length(text) - 2)) AS t(i)),
      |c3 AS (SELECT tri, COUNT(*) AS c3 FROM tri GROUP BY tri),
      |c2 AS (SELECT substr(tri, 1, 2) AS pfx, SUM(c3) AS c2 FROM c3 GROUP BY 1),
      |m AS (SELECT tri, CAST(round(ln(c3 + 1.0) * 1000000.0) AS BIGINT)
      |             - CAST(round(ln(c2 + 96.0) * 1000000.0) AS BIGINT) AS term_fp
      |      FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pfx),
      |sc AS (SELECT t.doc_id, COUNT(*) AS n_tri, CAST(SUM(m.term_fp) AS BIGINT) AS score_fp
      |       FROM tri t JOIN m USING (tri) GROUP BY t.doc_id),
      |r AS (SELECT doc_id,
      |        round(CAST(-score_fp AS DOUBLE) / (CAST(n_tri AS DOUBLE) * 1000000.0), 6) AS surprisal
      |      FROM sc),
      |rk AS (SELECT doc_id, surprisal,
      |         row_number() OVER (ORDER BY surprisal, doc_id) AS r,
      |         COUNT(*) OVER () AS n
      |       FROM r)
      |SELECT doc_id, surprisal, CAST((r - 1) * 3 // n AS INT) AS tercile
      |FROM rk ORDER BY doc_id""".stripMargin

  // ------------------------------------------- winnowing fingerprints
  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the
    * MOSS sketch) and the near-dup pairs they surface: every k=8-char
    * gram hashes with the 31-ary mod-1e9+7 polynomial, the minimum of
    * each w=4-hash window is selected, and the distinct selections are
    * the document's fingerprint set — with the paper's guarantee that
    * any shared substring of length ≥ w+k−1 = 11 chars shares ≥ 1
    * fingerprint. Density is ~2/(w+1) of all grams, so the sketch is a
    * tunable fraction of the text while staying POSITION-ROBUST (unlike
    * fixed-stride chunking) and SUBSTRING-SENSITIVE (unlike word-shingle
    * MinHash, which tokenizes first).
    *
    * Pairs: inverted-index join on the fingerprint (id-only, never
    * all-pairs — the [[graft.ext.Dedup]] candidate discipline), scored
    * by containment overlap |A∩B| / min(|A|,|B|) ≥ 0.5 with a ≥ 3
    * shared-fingerprint support floor.
    *
    * STOP-FINGERPRINT CAP (the Σc² lesson, measured): winnowing picks
    * window MINIMA, so the corpus' smallest-hashed common grams are
    * selected by almost every document containing them — at sf0.01 one
    * fingerprint sat in 387 of 500 docs and fps with df > 8 carried
    * 98.7% of the join's Σc² while discriminating nothing. The df-cap
    * drops them before the self-join (ngramJaccard's dfCap semantics:
    * overlap is computed over the capped universe), which cut the
    * uncapped form's 51 s / 541 s at sf0.1 / ×10 to ~2 s / ~8 s and
    * still recovers 24/25 of the exact-Jaccard pairs (+1 legitimate
    * substring-level pair word-shingle Jaccard can't see).
    *
    * Scale shape: `winnow_hashes` is a native codegen expression — the
    * whole sketch computes scan-side in one pass (no explode of char
    * grams, no window functions); only (doc_id, fp) rows shuffle, and
    * the df-cap bounds every inverted-index bucket.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOn(docs(spark, dir), k = 8, w = 4, tau = 0.5,
      dfCap = 8, minShared = 3)

  def winnowPairsOn(documents: DataFrame, k: Int, w: Int, tau: Double,
      dfCap: Long, minShared: Long): DataFrame = {
    val fps0 = graft.engine.Materialize.stage(
      documents.select(col("doc_id"),
        explode(expr(s"winnow_hashes(text, $k, $w)")).as("fp")))
    val hot = fps0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("fp").as("hot_fp"))
    // staged: the per-doc fingerprint counts and BOTH self-join sides
    // consume the df-capped index — un-staged, the hot-key aggregate +
    // anti-join re-ran per reference (PlanAudit r16; guide §1.2)
    val fps = graft.engine.Materialize.stage(
      fps0.join(hot, col("fp") === col("hot_fp"), "left_anti"))
    val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("na")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nb")), "doc_b")
      .withColumn("overlap",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= tau)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("overlap"), 6).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowPairsSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(text, '') AS cs FROM documents
      |           WHERE length(text) >= 8),
      |h AS (SELECT doc_id, CAST(t.i AS INT) AS pos,
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(list_slice(cs, t.i, t.i + 7), c -> CAST(ascii(c) AS BIGINT))),
      |          (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      |      FROM d, UNNEST(generate_series(1, len(cs) - 7)) AS t(i)),
      |m AS (SELECT doc_id, greatest(MAX(pos) - 3, 1) AS nw FROM h GROUP BY doc_id),
      |win AS (SELECT doc_id, pos AS j,
      |          MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |        FROM h),
      |fps0 AS (SELECT DISTINCT w.doc_id, w.fp
      |         FROM win w JOIN m ON w.doc_id = m.doc_id WHERE w.j <= m.nw),
      |hot AS (SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) > 8),
      |fps AS (SELECT * FROM fps0 ANTI JOIN hot USING (fp)),
      |nf AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      |          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared,
      |  round(CAST(shared AS DOUBLE) / least(x.nfp, y.nfp), 6) AS overlap
      |FROM pairs JOIN nf x ON doc_a = x.doc_id JOIN nf y ON doc_b = y.doc_id
      |WHERE shared >= 3
      |  AND CAST(shared AS DOUBLE) / least(x.nfp, y.nfp) >= CAST(0.5 AS DOUBLE)
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------- DSIR importance resampling
  /** Data Selection with Importance Resampling (Xie et al. 2023), the
    * example-level complement to the domain-level [[mixTemperature]]:
    * score every document by how much more likely its tokens are under a
    * TARGET distribution than under the raw-corpus SOURCE distribution,
    * then keep the top-weighted documents. Here the target is the `en`
    * slice (production: a high-quality seed corpus) and the model is an
    * add-one-smoothed unigram bag: logweight(d) = Σ_tokens ln
    * p_t(w)/p_s(w) with p(w) = (c_w + 1)/(T + V). The per-token log
    * ratio decomposes into Σ [lnfp(c_t+1) − lnfp(c_s+1)] + n_tok·C with
    * C = lnfp(T_s+V) − lnfp(T_t+V), where lnfp snaps each ln of an
    * integer to the 10⁻⁶ fixed-point grid ([[lmSurprisalOn]]'s trick) —
    * so the cross-row sum is pure BIGINT arithmetic and the whole
    * selection hash-matches the oracle.
    *
    * Scale shape: two token-count aggregates (partial+final on the
    * word), a model join keyed on the word, a 1-row totals frame
    * broadcast for C, one per-doc partial sum, and a distributed
    * top-k (TakeOrdered) for the selection. DSIR's production form
    * hashes words into a fixed bucket table to bound the model — that
    * turns the model join into a broadcast; the word-level model here
    * keeps the oracle replayable and the shape identical.
    */
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    dsirSampleOn(docs(spark, dir), targetLang = "en", topK = 100)

  def dsirSampleOn(documents: DataFrame, targetLang: String,
      topK: Int): DataFrame = {
    val lnfp = (x: String) =>
      s"cast(round(ln($x) * 1000000.0d) as bigint)"
    val toks = documents.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val src = toks.groupBy(col("w")).agg(count(lit(1)).as("cs"))
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy(col("w")).agg(count(lit(1)).as("ct0"))
    // staged: the normalizer aggregate and the scoring join both read the
    // model — un-staged, BOTH corpus token aggregations (source + target)
    // ran twice (PlanAudit r16 ×2; guide §1.2). |vocab| rows. The token
    // stream itself stays lazy: checkpointing exploded tokens would write
    // corpus-scale bytes for no shuffle saved.
    val model = graft.engine.Materialize.stage(src.join(tgt, Seq("w"), "left")
      .withColumn("ct", coalesce(col("ct0"), lit(0L)))
      .withColumn("term_fp",
        expr(s"${lnfp("ct + 1.0d")} - ${lnfp("cs + 1.0d")}"))
      .select(col("w"), col("cs"), col("ct"), col("term_fp")))
    val cfp = model.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"),
        count(lit(1)).as("v"))
      .select(expr(s"${lnfp("ts + v * 1.0d")} - ${lnfp("tt + v * 1.0d")}")
        .as("c_fp"))
    toks.join(model.select(col("w"), col("term_fp")), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("term_fp")).as("s_fp"))
      .crossJoin(broadcast(cfp))
      .withColumn("logweight", round(
        expr("cast(s_fp + n_tok * c_fp as double) / 1000000.0d"), 6))
      .select(col("doc_id"), col("n_tok"), col("logweight"))
      .orderBy(col("logweight").desc, col("doc_id"))
      .limit(topK)
  }

  val dsirSampleSql: String =
    """WITH toks AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |src AS (SELECT w, COUNT(*) AS cs FROM toks GROUP BY w),
      |tgt AS (SELECT w, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w),
      |m AS (SELECT s.w, s.cs, COALESCE(t.ct, 0) AS ct FROM src s LEFT JOIN tgt t ON s.w = t.w),
      |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ts, CAST(SUM(ct) AS BIGINT) AS tt,
      |               CAST(COUNT(*) AS BIGINT) AS v FROM m),
      |mt AS (SELECT w, CAST(round(ln(ct + 1.0) * 1000000.0) AS BIGINT)
      |            - CAST(round(ln(cs + 1.0) * 1000000.0) AS BIGINT) AS term_fp FROM m),
      |cfp AS (SELECT CAST(round(ln(ts + v * 1.0) * 1000000.0) AS BIGINT)
      |             - CAST(round(ln(tt + v * 1.0) * 1000000.0) AS BIGINT) AS c_fp FROM tot),
      |sc AS (SELECT t.doc_id, COUNT(*) AS n_tok, CAST(SUM(mt.term_fp) AS BIGINT) AS s_fp
      |       FROM toks t JOIN mt ON t.w = mt.w GROUP BY t.doc_id)
      |SELECT sc.doc_id, sc.n_tok,
      |  round(CAST(sc.s_fp + sc.n_tok * cfp.c_fp AS DOUBLE) / 1000000.0, 6) AS logweight
      |FROM sc CROSS JOIN cfp ORDER BY logweight DESC, doc_id LIMIT 100""".stripMargin

  // ------------------------------------------------------------- langid
  /** Stopword-profile language ID: score each language by occurrences of
    * its function words among the tokens; argmax with a fixed tie-break
    * cascade (en > de > fr > es). The synthetic corpus is label-agnostic
    * word salad, so this demonstrates the operator (and hash-matches its
    * oracle) rather than recovering the synthetic `lang` column.
    */
  private val profiles = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(docs(spark, dir))

  def langIdOn(documents: DataFrame): DataFrame = {
    val base = documents.withColumn("w", split(col("text"), " "))
    val scored = profiles.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        expr(s"count_in_set(w, array(${words.map("'" + _ + "'").mkString(",")}))"))
    }
    scored.select(
      col("doc_id"), col("lang").as("lang_actual"),
      col("score_en"), col("score_de"), col("score_fr"), col("score_es"),
      when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr")
          && col("score_en") >= col("score_es"), "en")
        .when(col("score_de") >= col("score_fr") && col("score_de") >= col("score_es"), "de")
        .when(col("score_fr") >= col("score_es"), "fr")
        .otherwise("es").as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    def sc(lang: String, words: Seq[String]) =
      s"CAST(len(list_filter(string_split(text, ' '), x -> list_contains([${words.map("'" + _ + "'").mkString(",")}], x))) AS INT) AS score_$lang"
    s"""WITH s AS (SELECT doc_id, lang AS lang_actual,
       |  ${profiles.map { case (l, ws) => sc(l, ws) }.mkString(",\n  ")}
       |FROM documents)
       |SELECT doc_id, lang_actual, score_en, score_de, score_fr, score_es,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |       WHEN score_fr >= score_es THEN 'fr'
       |       ELSE 'es' END AS lang_pred
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- langid evaluation
  /** Confusion matrix + per-class recall for the stopword language
    * identifier — the EVAL loop [[langIdOn]] was missing (the
    * ann_recall argument: a classifier you haven't scored against its
    * labels is a guess). One aggregate over the per-doc predictions:
    * (actual, predicted, n) cells plus each cell's share of its actual
    * class in integer basis points — on the label-agnostic synthetic
    * corpus the matrix documents exactly how the tie-break cascade
    * distributes word salad, and on a real corpus it is the
    * class-imbalance screen run before trusting any lang filter.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    langIdConfusionOn(docs(spark, dir))

  def langIdConfusionOn(documents: DataFrame): DataFrame = {
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang_actual"))
    langIdOn(documents)
      .groupBy(col("lang_actual"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_actual", sum(col("n")).over(wa))
      .select(col("lang_actual"), col("lang_pred"), col("n"),
        expr("(n * 10000L) div n_actual").as("share_bp"))
      .orderBy(col("lang_actual"), col("lang_pred"))
  }

  val langIdConfusionSql: String =
    s"""WITH pred AS ($langIdSql),
       |c AS (SELECT lang_actual, lang_pred, COUNT(*) AS n
       |      FROM pred GROUP BY 1, 2),
       |t AS (SELECT lang_actual, SUM(n) AS n_actual FROM c GROUP BY 1)
       |SELECT c.lang_actual, c.lang_pred, c.n,
       |  CAST((c.n * 10000) // t.n_actual AS BIGINT) AS share_bp
       |FROM c JOIN t USING (lang_actual)
       |ORDER BY lang_actual, lang_pred""".stripMargin

  // -------------------------------------------------------- fingerprint
  /** Document fingerprints: md5 digest + a 31-ary polynomial rolling hash
    * mod 1e9+7 over the character codepoints (the classic Rabin-Karp
    * shape, fold kept under 2⁶³ so ANSI arithmetic never overflows).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintOn(docs(spark, dir))

  def fingerprintOn(documents: DataFrame): DataFrame = {
    // roll_hash31 fuses the per-CHARACTER fold
    // `aggregate(split(text,''), 0L, (acc,c) -> (acc*31+ascii(c)) % 1e9+7)`
    // into one codegen call — the worst interpreted loop in the family
    // (a lambda dispatch per character, not per token).
    documents
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5"),
        expr("roll_hash31(text)").as("fp_roll"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp_md5,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- corpus n-grams
  /** Distinct word bigrams per doc, computed scan-side by the native
    * `word_ngrams` expression (dedup happens inside the per-row call).
    * The r2–r5 form was posexplode + a per-doc `lead` window + a
    * corpus-wide distinct — the window alone shuffled and sorted the
    * WHOLE token stream before any consumer could filter, which made
    * the contamination probes pay ~3.5 s each at sf0.1 for what is an
    * embarrassingly-parallel per-document computation. Now the first
    * exchange in every consumer is its own (post-filter) aggregation.
    */
  private def bigrams(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
      explode(expr("word_ngrams(text, 2)")).as("ngram"))
  }

  /** Top word-bigrams by document frequency — corpus vocabulary /
    * boilerplate analysis. One shuffle on the n-gram; partial counts
    * map-side; top-k fused.
    */
  def topNgrams(spark: SparkSession, dir: String): DataFrame =
    bigrams(docs(spark, dir))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(20)

  val topNgramsSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS ngram
      |       FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
      |       WHERE len(w) >= 2)
      |SELECT ngram, COUNT(*) AS df FROM bg GROUP BY ngram
      |ORDER BY df DESC, ngram LIMIT 20""".stripMargin

  /** Benchmark-contamination probe: which documents contain any of a
    * fixed probe-phrase set as a token bigram. The probe set is tiny and
    * broadcast; the corpus is scanned once — the shape contamination
    * checks take against eval suites at 100 TB.
    */
  private val probePhrases = Seq(
    "hash join", "sort merge", "query plan", "table scan", "group by")

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = probePhrases.toDF("probe")
    bigrams(docs(spark, dir))
      .join(broadcast(probes), col("ngram") === col("probe"))
      .select(col("doc_id"), col("probe"))
      .orderBy(col("doc_id"), col("probe"))
  }

  val contaminationSql: String = {
    val values = probePhrases.map(p => s"('$p')").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS ngram
       |       FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
       |       WHERE len(w) >= 2)
       |SELECT doc_id, probe FROM bg JOIN (VALUES $values) p(probe) ON ngram = probe
       |ORDER BY doc_id, probe""".stripMargin
  }

  /** Bloom-prefiltered contamination probe — [[contamination]]'s 100 TB
    * form. The exact version broadcasts the probe phrases into a join;
    * that works while the probe set is join-buildable, but a real
    * eval-suite decontamination set (every 13-gram of every benchmark,
    * 10⁸+ entries) is broadcast-raw-infeasible. Here the probe set is
    * compressed to a serialized `BloomFilter` (built by the PUBLIC
    * distributed builder `df.stat.bloomFilter`, so the build itself
    * scales), carried to the scan as ONE binary literal, and probed
    * scan-side in whole-stage codegen (`bloom_might_contain`, zero join,
    * zero shuffle); only might-contain survivors reach the exact join
    * that removes bloom false positives. Blooms have no false negatives,
    * so the output is IDENTICAL to the exact operator's — graded against
    * the same DuckDB oracle.
    */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = probePhrases.toDF("probe")
    // distributed bloom build (tiny here; the API point is that it isn't
    // a driver-side loop when the probe table is 10⁸ rows)
    val bloom = probes.stat.bloomFilter("probe", 64L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    bigrams(docs(spark, dir))
      .filter(call_function("bloom_might_contain", lit(bytes), col("ngram")))
      .join(broadcast(probes), col("ngram") === col("probe"))
      .select(col("doc_id"), col("probe"))
      .orderBy(col("doc_id"), col("probe"))
  }

  // ---------------------------------------------------- overlap spans
  /** Maximum contiguous token-overlap span against an eval set — the
    * GPT-3/PaLM decontamination rule proper ("drop any training document
    * sharing an N-token contiguous span with a benchmark"), which the
    * membership probes ([[contamination]]) cannot express: they say a
    * phrase occurs, not how LONG the shared run is. Exact for every
    * span ≥ k via k-gram anchoring: both sides explode positional
    * k-grams; matches land on (doc, eval, diagonal = pos_d − pos_e);
    * a run of L CONSECUTIVE anchor matches on one diagonal is a shared
    * span of exactly L + k − 1 tokens, found with gaps-and-islands —
    * so the distributed longest-common-substring reduces to one join +
    * one window, never a per-pair alignment.
    *
    * Scale shape: the eval suite (every benchmark k-gram, positions
    * attached) is the small side — broadcast here; at a 10⁸-gram suite
    * it becomes a shuffle join on the gram key, and hot grams get the
    * same df-cap the Jaccard index uses ([[graft.ext.Dedup]]) since a
    * boilerplate anchor's matches are exactly the pairs a long-span
    * rule doesn't need. The corpus is scanned once; only anchor
    * matches (id pairs + positions) shuffle.
    *
    * The pseudo eval-suite is deterministic: every doc_id ≡ 0 (mod 50).
    * Output per contaminated corpus doc: its longest span, the eval doc
    * achieving it (ties → smaller eval_id), and how many eval docs it
    * shares a ≥ `flagSpan`-token span with.
    */
  def overlapSpans(spark: SparkSession, dir: String): DataFrame =
    overlapSpansOn(docs(spark, dir), k = 5, evalMod = 50, flagSpan = 8)

  def overlapSpansOn(documents: DataFrame, k: Int, evalMod: Int,
      flagSpan: Int): DataFrame = {
    val grams = overlapGrams(documents, k)
    overlapSpanScore(
      grams.filter(col("doc_id") % evalMod =!= 0),
      grams.filter(col("doc_id") % evalMod === 0)
        .select(col("doc_id").as("eval_id"), col("pos").as("pe"), col("gram")),
      k, flagSpan)
      .orderBy(col("doc_id"))
  }

  /** Positional k-gram extraction shared by the batch operator (both
    * sides) and the ingest twin (arriving documents).
    */
  private def overlapGrams(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // guard: Spark's sequence(1, 0) DESCENDS instead of emptying, so
      // docs shorter than k tokens need the explicit empty branch
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(ws) >= $k THEN transform(sequence(1, size(ws) - ${k - 1})," +
          s" i -> concat_ws(' ', slice(ws, i, $k))) ELSE CAST(array() AS array<string>) END"))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("gram"))

  /** Public gram extraction for the ingest twin's corpus side. */
  def overlapCorpusGrams(documents: DataFrame, k: Int = 5): DataFrame =
    overlapGrams(documents, k)

  /** The eval-suite k-gram table (eval_id, pe, gram) for a reference
    * snapshot — the frozen artifact [[graft.streaming.OverlapSpanIngest]]
    * builds once and probes every micro-batch against.
    */
  def overlapEvalGrams(reference: DataFrame, k: Int = 5,
      evalMod: Int = 50): DataFrame =
    overlapGrams(reference.filter(col("doc_id") % evalMod === 0), k)
      .select(col("doc_id").as("eval_id"), col("pos").as("pe"), col("gram"))

  /** Score corpus grams against a FROZEN eval-gram table: the diagonal
    * gaps-and-islands core. Every window is doc_id-partitioned, so the
    * scoring is batch-local — shared verbatim by the batch operator and
    * the ingest twin (a document's spans depend only on its own grams
    * and the frozen table).
    */
  def overlapSpanScore(corpGrams: DataFrame, evalGrams: DataFrame,
      k: Int, flagSpan: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val matches = corpGrams.join(broadcast(evalGrams), "gram")
      .select(col("doc_id"), col("eval_id"), col("pos").as("pd"),
        (col("pos") - col("pe")).as("diag"))
    val wDiag = Window.partitionBy(col("doc_id"), col("eval_id"), col("diag"))
      .orderBy(col("pd"))
    val spans = matches
      .withColumn("grp", col("pd") - row_number().over(wDiag))
      .groupBy(col("doc_id"), col("eval_id"), col("diag"), col("grp"))
      .agg((count(lit(1)) + (k - 1)).as("span"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(max(col("span")).as("span"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("span").desc, col("eval_id"))
    spans
      .withColumn("rk", row_number().over(wTop))
      .withColumn("n_flagged", sum(when(col("span") >= flagSpan, 1L)
        .otherwise(0L)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("span").as("max_span"), col("eval_id"),
        col("n_flagged"))
  }

  val overlapSpansSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    array_to_string(w[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      |  WHERE len(w) >= 5),
      |ev AS (SELECT doc_id AS eval_id, pos AS pe, gram FROM grams
      |       WHERE doc_id % 50 = 0),
      |cp AS (SELECT doc_id, pos AS pd, gram FROM grams WHERE doc_id % 50 <> 0),
      |m AS (
      |  SELECT cp.doc_id, ev.eval_id, cp.pd, cp.pd - ev.pe AS diag
      |  FROM cp JOIN ev USING (gram)),
      |runs AS (
      |  SELECT doc_id, eval_id, diag, pd,
      |    pd - row_number() OVER (PARTITION BY doc_id, eval_id, diag ORDER BY pd) AS grp
      |  FROM m),
      |sp AS (
      |  SELECT doc_id, eval_id, CAST(COUNT(*) + 4 AS BIGINT) AS span
      |  FROM runs GROUP BY doc_id, eval_id, diag, grp),
      |pair AS (SELECT doc_id, eval_id, MAX(span) AS span FROM sp GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, eval_id, span,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY span DESC, eval_id) AS rk,
      |    CAST(SUM(CASE WHEN span >= 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id) AS BIGINT) AS n_flagged
      |  FROM pair)
      |SELECT doc_id, span AS max_span, eval_id, n_flagged
      |FROM top WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** TF-IDF top-3 terms per document: token explode → per-(doc, term) tf,
    * df derived from tf, idf joined back broadcast-or-shuffle by
    * Catalyst. Oracle-checked (tfidfSql): round-6 scores + (tfidf DESC,
    * term) tie-breaks make the cross-engine comparison robust despite
    * log() — equal (tf, df) pairs give bit-equal scores and unequal ones
    * differ far beyond one ulp.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    // tf is one row per (doc, term), so df falls out of tf directly —
    // no second pass over the token stream and no distinct. tf is
    // materialized once (Materialize.stage) because both the join and df
    // branch from it.
    val tf = graft.engine.Materialize.stage(
      docs(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs(spark, dir).select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ---------------------------------------------------- stratified sample
  /** Deterministic stratified sampling: k docs per language, ranked by a
    * hash of the key — the replay-safe TABLESAMPLE substitute (q23) in
    * its per-group form. Same rows come back on any cluster size, any
    * retry, any partitioning.
    */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  val samplePerGroupSql: String =
    """WITH h AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM h)
      |SELECT lang, rk, doc_id FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------- weighted mixing
  /** Weighted domain mixing: each source keeps a deterministic fraction
    * of its documents (`weight`), selected by hash-rank — how a training
    * mixture up/down-samples domains (web 0.5×, books 2-pass, …). The
    * per-source weights here derive from the source id so the fixture
    * needs no external mixture-spec table; in production they'd join in
    * from one. Replay-safe on any cluster size (md5 rank, no rand()); one
    * window shuffle partitioned by source.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val w = bySrc.orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .withColumn("weight",
        lit(0.25) + expr("cast(substring(source, 4) as int)") % 3 * lit(0.25))
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(bySrc).cast("long"))
      .filter(col("rk") <= ceil(col("weight") * col("n_src")))
      .select(col("source"), col("weight"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  // ------------------------------------------- temperature (α) mixing
  /** Temperature-based corpus mixing, α = 0.5: each domain's sampling
    * quota is ∝ √n_d (UniMax/multilingual-LM style — big domains get
    * down-weighted relative to size, small ones flattened up), against a
    * total budget of half the corpus. Unlike [[weightedSample]] (fixed
    * per-source weights, hash-RANK selection → one window sort per
    * source), selection here is hash-THRESHOLD: keep a doc iff the low
    * 20 bits of splitmix64(doc_id) fall under the domain's integer
    * threshold quota·2²⁰ div n_d. No window, no sort — the whole
    * operator is one partial+final count, a broadcast of |domains| rows,
    * and a codegen'd filter in the scan, which is the only shape that
    * holds when one domain is 50 TB (rank selection would sort it).
    * Achieved counts land within binomial noise of the quota
    * (deterministic given the ids — both engines keep the same rows).
    * All arithmetic is integer: isqrt weights (floor(sqrt) of a BIGINT
    * is exact in ieee double below 2⁵²), truncating-div quotas, 2²⁰
    * thresholds (granularity 1e-6, overflow-safe to ~8×10¹² docs per
    * domain). The oracle replays mix64 with the HUGEINT mod-2⁶⁴ chain.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    mixApply(d, mixThresholds(d))
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** The mixing RECIPE: per-domain integer keep-thresholds (lang, t)
    * derived from a corpus snapshot's domain counts. Computed once
    * (offline, in a planning pass) and then applied per-row — which is
    * what makes the operator liftable into an ingest stream: the
    * decision for a document needs only its own (doc_id, lang) plus
    * this |domains|-row table.
    */
  def mixThresholds(d: DataFrame): DataFrame = {
    val w = d.groupBy(col("lang")).agg(count(lit(1)).as("n_d"))
      .withColumn("wt", expr("cast(floor(sqrt(cast(n_d as double))) as bigint)"))
    val tot = w.agg(sum(col("n_d")).as("total"), sum(col("wt")).as("sw"))
    w.crossJoin(broadcast(tot))
      .withColumn("quota", expr("total div 2 * wt div sw"))
      .withColumn("t", expr("quota * 1048576 div n_d"))
      .select(col("lang"), col("t"))
  }

  /** Apply a mixing recipe to a documents frame — batch or streaming
    * alike (stateless: broadcast the |domains|-row recipe, codegen'd
    * hash-threshold filter in the scan; no window, no sort, no state).
    */
  def mixApply(docs: DataFrame, thresholds: DataFrame): DataFrame = {
    docs.join(broadcast(thresholds), Seq("lang"))
      .filter(expr("pmod(mix64(doc_id), 1048576)") < col("t"))
  }

  val mixTemperatureSql: String =
    """WITH n AS (SELECT lang, COUNT(*) AS n_d FROM documents GROUP BY 1),
      |w AS (SELECT lang, n_d,
      |        CAST(floor(sqrt(CAST(n_d AS DOUBLE))) AS BIGINT) AS wt FROM n),
      |tot AS (SELECT SUM(n_d) AS total, SUM(wt) AS sw FROM w),
      |thr AS (
      |  SELECT lang, (SELECT total FROM tot) // 2 * wt // (SELECT sw FROM tot)
      |    * 1048576 // n_d AS t
      |  FROM w),
      |hx AS (
      |  SELECT doc_id, lang,
      |    (CAST(doc_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 1048576 AS BIGINT) AS low20
      |  FROM documents)
      |SELECT h.lang, h.doc_id FROM hx h JOIN thr ON h.lang = thr.lang
      |WHERE h.low20 < thr.t ORDER BY h.lang, h.doc_id""".stripMargin

  val weightedSampleSql: String =
    """WITH h AS (
      |  SELECT source, doc_id,
      |    CAST(0.25 AS DOUBLE) + (CAST(substring(source, 4) AS INT) % 3) * CAST(0.25 AS DOUBLE) AS weight,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |r AS (
      |  SELECT source, weight, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS n_src
      |  FROM h)
      |SELECT source, weight, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= ceil(weight * n_src) ORDER BY source, rk""".stripMargin

  // ---------------------------- hashed-feature linear classifier
  /** Hashed-feature linear classifier — the fastText trick that makes
    * model-based filtering vocabulary-free: each distinct word BIGRAM
    * hashes into one of 2¹⁶ weight buckets (roll_hash31 mod 65536), and
    * the document's logit is the sum of its buckets' weights. Memory is
    * the fixed bucket table, never the open corpus vocabulary — the
    * property that holds at 100 TB where a vocab-keyed join would
    * shuffle the token stream. The weight vector here is a frozen
    * pseudo-random stand-in (w(b) = mix64(b) mod 8 − 4 ∈ [−4, 3]); a
    * trained model ships as the same 64 K numbers and slots into the
    * same expression. Everything is computed scan-side per row
    * (word_ngrams → hash → bucket → weight-sum in one projection, all
    * integer): zero shuffles except the presentation sort, and the
    * decision is per-row deterministic, so the operator lifts into an
    * ingest stream unchanged. The oracle replays roll_hash31 over each
    * gram's characters and the splitmix64 weight chain in full.
    *
    * Sibling of [[qualityScore]] (dense interpretable features): this is
    * the sparse-feature half of the production quality stack, where the
    * feature space is the n-gram text itself.
    */
  def classifierHashed(spark: SparkSession, dir: String): DataFrame =
    classifierHashedOn(docs(spark, dir))

  def classifierHashedOn(documents: DataFrame): DataFrame =
    classifierScoreOn(documents).orderBy(col("doc_id"))

  /** The scoring projection alone (no presentation sort) — stateless and
    * per-row deterministic, so it applies to a STREAMING frame unchanged
    * (StreamingSpec pins stream ≡ batch); the graded batch entry just
    * adds the sort.
    */
  def classifierScoreOn(documents: DataFrame): DataFrame = {
    documents
      .withColumn("grams", expr("word_ngrams(text, 2)"))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_feat"),
        expr("aggregate(grams, 0L, (a, g) -> " +
          "a + pmod(mix64(pmod(roll_hash31(g), 65536)), 8) - 4)").as("logit"))
      .withColumn("keep", when(col("logit") > 0, 1).otherwise(0))
  }

  /** The classifier's scoring chain as a WITH-body — shared verbatim by
    * [[classifierHashedSql]] and [[classifierLiftSql]] so the replayed
    * roll_hash31/splitmix64 arithmetic can't drift between the score
    * query and its evaluation query. Ends in `s(doc_id, n_feat, logit)`.
    */
  private val classifierCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS gram
      |      FROM d, UNNEST(generate_series(1, len(w)-1)) AS t(i)
      |      WHERE len(w) >= 2),
      |b AS (SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split_regex(gram, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) % 65536 AS bkt
      |  FROM g),
      |wt AS (SELECT doc_id,
      |    (CAST(bkt AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 8 AS BIGINT) - 4 AS w8
      |  FROM b),
      |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
      |        CAST(SUM(w8) AS BIGINT) AS logit
      |      FROM wt GROUP BY 1)""".stripMargin

  val classifierHashedSql: String =
    s"""WITH $classifierCtes
      |SELECT doc_id, n_feat, logit,
      |  CASE WHEN logit > 0 THEN 1 ELSE 0 END AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ------------------------------------------- classifier lift table
  /** Decile lift table for the hashed classifier — the campaign-eval /
    * model-triage report: rank every document by its logit (descending,
    * doc_id tie-break), cut into 10 rank deciles, and report each
    * decile's response rate (here: is-English, an independent label the
    * score never saw) against the corpus base rate, all in integer
    * basis points so the table hash-matches cross-engine (lift 10000 =
    * parity).
    *
    * The global rank is computed WITHOUT a single-partition window (the
    * classic lift-table scale trap): per-logit partials rank in
    * parallel (`row_number` partitioned by logit), and each logit's
    * rank offset comes from a prefix sum over the tiny distinct-logit
    * grid — logits are small integers (Σ of ±4-bounded weights), so the
    * grid is O(hundreds) at any corpus size. Decile assignment is the
    * explicit `(r−1)·10 div n + 1` formula, identical both engines
    * (ntile's uneven-bucket fill order is engine-defined — avoided).
    */
  def classifierLift(spark: SparkSession, dir: String): DataFrame =
    classifierLiftOn(docs(spark, dir))

  def classifierLiftOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = classifierScoreOn(documents).select(col("doc_id"), col("logit"))
      .join(documents.select(col("doc_id"),
        (col("lang") === "en").cast("long").as("pos")), "doc_id")
    val offs = s.groupBy(col("logit")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("logit").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = s.agg(count(lit(1)).as("n_total"), sum(col("pos")).as("tp"))
      .select(col("n_total"), expr("tp * 10000 div n_total").as("obp"))
    val wIn = Window.partitionBy(col("logit")).orderBy(col("doc_id"))
    s.join(broadcast(offs.select(col("logit"), col("off"))), "logit")
      .withColumn("r", col("off") + row_number().over(wIn))
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("(r - 1) * 10 div n_total + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        max(col("obp")).as("obp"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 10000 div n_docs").as("rate_bp"),
        expr("(n_pos * 10000 div n_docs) * 10000 div obp").as("lift_bp"))
      .orderBy(col("decile"))
  }

  val classifierLiftSql: String =
    s"""WITH $classifierCtes,
      |resp AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS pos FROM documents),
      |j AS (SELECT s.doc_id, s.logit, resp.pos FROM s JOIN resp USING (doc_id)),
      |rk AS (SELECT *, row_number() OVER (ORDER BY logit DESC, doc_id) AS r,
      |         COUNT(*) OVER () AS n_total FROM j),
      |dd AS (SELECT *, (r - 1) * 10 // n_total + 1 AS decile FROM rk),
      |a AS (SELECT decile, COUNT(*) AS n_docs,
      |        CAST(SUM(pos) AS BIGINT) AS n_pos FROM dd GROUP BY 1),
      |o AS (SELECT CAST(SUM(pos) * 10000 // COUNT(*) AS BIGINT) AS obp FROM j)
      |SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
      |  n_pos * 10000 // n_docs AS rate_bp,
      |  (n_pos * 10000 // n_docs) * 10000 // obp AS lift_bp
      |FROM a, o ORDER BY decile""".stripMargin

  // ----------------------------------------- BPE vocabulary learning
  /** Byte-pair-encoding merge learning over the corpus (word-level: the
    * symbol alphabet starts as whitespace tokens, exactly how a
    * word-piece vocabulary is grown over a pre-tokenized corpus): each
    * round counts ADJACENT symbol pairs corpus-wide, promotes the most
    * frequent pair (ties broken lexicographically) to a new merged
    * symbol, and rewrites every non-overlapping occurrence left-to-right
    * — the trainer loop behind every BPE/word-piece tokenizer, run as k
    * distributed passes.
    *
    * The left-to-right greedy rewrite is the part that looks sequential
    * but is not: within a RUN of consecutive occurrences, greedy keeps
    * exactly the 1st, 3rd, 5th… occurrence, so "keep" is a parity test
    * against the run's start, and the run's start is one running max
    * (last non-occurrence position) — two window passes over the
    * per-doc sort, fully partition-parallel. Per round the work is one
    * pair-count aggregation (map-side partial, |vocab|² keys at most)
    * plus those windows; the argmax is a 1-row aggregate to the driver,
    * like any ANALYZE scalar. State between rounds is the rewritten
    * symbol stream, staged and released per round
    * ([[graft.engine.Materialize]]) so round r+1 never recomputes
    * round r's windows.
    *
    * Output: the merge table (round, pair, its corpus count, and how
    * many non-overlapping merges actually applied) — graded against a
    * DuckDB oracle that unrolls the identical rounds as CTEs
    * ([[bpeLearnSqlFor]]), making the whole training loop cross-engine
    * exact, the same contract as the fixed-point KMeans
    * ([[graft.ext.Similarity]]).
    */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    bpeLearnOn(docs(spark, dir), rounds = 4)

  def bpeLearnOn(documents: DataFrame, rounds: Int): DataFrame = {
    val spark = documents.sparkSession
    val (merges, seq) = bpeCore(documents, rounds)
    graft.engine.Materialize.release(seq)
    import spark.implicits._
    merges.toDF("round", "sym_a", "sym_b", "pair_count", "applied")
      .orderBy(col("round"))
  }

  /** The trainer loop shared by [[bpeLearnOn]] (emits the merge table)
    * and [[bpeTokenizeOn]] (emits the rewritten corpus stats). Returns
    * the merges and the FINAL staged symbol stream — caller releases.
    */
  /** The initial per-document symbol stream (doc_id, pos, sym) both the
    * trainer and the apply-only replay start from.
    */
  private def bpeSymbols(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "sym")))
      .select(col("doc_id"), (col("p0").cast("long") + 1).as("pos"), col("sym"))

  /** One merge round for the pair (a, b): flag left-to-right
    * non-overlapping occurrences (run-parity on the distance to the
    * last non-hit), drop each hit's right symbol, renumber. Returns
    * (flagged, next): the trainer counts `keep` on `flagged`; both
    * trainer and [[bpeApplyOn]] continue on `next` — ONE rewrite
    * definition, so learn-time and ingest-time segmentation cannot
    * drift.
    */
  private def bpeRound(seq: DataFrame, a: String, b: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withNext = seq.withColumn("nsym", lead(col("sym"), 1).over(w))
    val flagged = withNext
      .withColumn("hit", col("nsym").isNotNull &&
        col("sym") === lit(a) && col("nsym") === lit(b))
      .withColumn("lastnh", max(when(!col("hit"), col("pos"))).over(wrun))
      .withColumn("keep", col("hit") &&
        (col("pos") - coalesce(col("lastnh"), lit(0L)) - 1) % 2 === 0)
    val next = flagged
      .withColumn("droprow", lag(col("keep"), 1, false).over(w))
      .filter(!col("droprow"))
      .select(col("doc_id"), col("pos").as("opos"),
        when(col("keep"), lit(s"$a $b")).otherwise(col("sym")).as("sym"))
      .select(col("doc_id"),
        row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("opos"))).cast("long").as("pos"),
        col("sym"))
    (flagged, next)
  }

  private def bpeCore(documents: DataFrame,
      rounds: Int): (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var seq = graft.engine.Materialize.stage(bpeSymbols(documents))
    // each landed merge removes EXACTLY one row (the pair's right
    // symbol), so `applied` is the staged frames' length difference —
    // counting the already-materialized stages instead of re-running
    // the flag-window chain halves the per-round work (BENCH r10)
    var nPrev = seq.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    for (r <- 1 to rounds) {
      val best = seq.withColumn("nsym", lead(col("sym"), 1).over(w))
        .filter(col("nsym").isNotNull)
        .groupBy(col("sym"), col("nsym")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("sym"), col("nsym"))
        .limit(1).collect()(0)
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      val next = graft.engine.Materialize.stage(bpeRound(seq, a, b)._2)
      val nNext = next.count()
      val applied = nPrev - nNext
      graft.engine.Materialize.release(seq)
      seq = next
      nPrev = nNext
      out += ((r, a, b, c, applied))
    }
    (out.toSeq, seq)
  }

  /** APPLY-ONLY BPE replay under a FROZEN merge list (rank order): the
    * ingest-time form — no corpus-wide argmax, no per-round action, so
    * every window is doc_id-partitioned and the whole rewrite is
    * batch-local (the streaming twin [[graft.streaming.BpeTokenizeIngest]]
    * runs it per micro-batch against a broadcastable merge table).
    * Returns the same per-document segmentation stats as
    * [[bpeTokenizeOn]]; applied to the training corpus itself the two
    * are equal by construction (StreamingSpec pins it).
    */
  def bpeApplyOn(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // A production merge list is tens of thousands of entries; each replay
    // round stacks a window+filter+row_number stage, so an unbroken chain
    // would blow up Catalyst analysis long before execution. Cut the plan
    // every `stageEvery` merges (superseded stages released immediately;
    // the final stage backs the returned frame under the sweep contract).
    // Short lists — the graded rounds=4 path and the per-micro-batch
    // streaming twin — stay unstaged and keep their single-plan shape.
    val stageEvery = 16
    var seq = bpeSymbols(documents)
    var staged: Option[DataFrame] = None
    for (((a, b), i) <- merges.zipWithIndex) {
      seq = bpeRound(seq, a, b)._2
      if ((i + 1) % stageEvery == 0) {
        val next = graft.engine.Materialize.stage(seq)
        staged.foreach(graft.engine.Materialize.release)
        staged = Some(next)
        seq = next
      }
    }
    val after = seq.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bpe"))
    documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(after, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_bpe"),
        (col("n_tokens") - col("n_bpe")).as("n_merged"))
  }

  /** The APPLY side of BPE: tokenize the corpus under the learned merge
    * table (replaying the merges in rank order — standard BPE-apply
    * semantics) and report each document's segmentation: original token
    * count, symbol count after the merges, and how many merges landed.
    * This is the bytes-per-token / fertility measurement a tokenizer
    * change is judged by before anyone retrains with it. Shares
    * [[bpeCore]] with the trainer, so the rewrite semantics cannot
    * drift between learn and apply; the oracle shares the CTE chain the
    * same way.
    */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    bpeTokenizeOn(docs(spark, dir), rounds = 4)

  def bpeTokenizeOn(documents: DataFrame, rounds: Int): DataFrame = {
    // the final staged stream backs the returned frame, so it has no
    // release() site here — the between-queries sweep reclaims it
    // (Materialize.sweep contract, same as the surprisal trigram stage)
    val (_, seq) = bpeCore(documents, rounds)
    val after = seq.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bpe"))
    documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(after, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_bpe"),
        (col("n_tokens") - col("n_bpe")).as("n_merged"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[bpeLearnOn]]: the k training rounds unrolled as
    * CTE blocks (pair count → argmax → run-parity rewrite), emitting the
    * same merge table.
    */
  def bpeLearnSqlFor(rounds: Int): String =
    bpeChainSql(rounds) + "\n" +
      (1 to rounds).map { x =>
        s"""SELECT $x AS round, (SELECT a FROM b$x) AS sym_a,
           |  (SELECT b FROM b$x) AS sym_b, (SELECT c FROM b$x) AS pair_count,
           |  (SELECT applied FROM a$x) AS applied""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY round"

  /** Tokenize-under-merges tail over the same chain: per-doc counts
    * before (r0) and after (r-final).
    */
  def bpeTokenizeSqlFor(rounds: Int): String =
    bpeChainSql(rounds) +
      s""",
         |c0 AS (SELECT doc_id, COUNT(*) AS n_tokens FROM r0 GROUP BY 1),
         |cf AS (SELECT doc_id, COUNT(*) AS n_bpe FROM r$rounds GROUP BY 1)
         |SELECT c0.doc_id, c0.n_tokens, cf.n_bpe,
         |  c0.n_tokens - cf.n_bpe AS n_merged
         |FROM c0 JOIN cf USING (doc_id) ORDER BY doc_id""".stripMargin

  private def bpeChainSql(rounds: Int): String = {
    val head =
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |r0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS sym
        |       FROM toks, UNNEST(generate_series(1, len(w))) AS t(i))""".stripMargin
    val blocks = (1 to rounds).map { x =>
      val p = x - 1
      s"""n$x AS (SELECT doc_id, pos, sym,
         |         lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nsym
         |       FROM r$p),
         |b$x AS (SELECT sym AS a, nsym AS b, COUNT(*) AS c
         |       FROM n$x WHERE nsym IS NOT NULL
         |       GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1),
         |f$x AS (SELECT doc_id, pos, sym,
         |         (nsym IS NOT NULL AND sym = (SELECT a FROM b$x)
         |          AND nsym = (SELECT b FROM b$x)) AS hit
         |       FROM n$x),
         |g$x AS (SELECT *, MAX(CASE WHEN NOT hit THEN pos END)
         |           OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastnh
         |       FROM f$x),
         |k$x AS (SELECT *,
         |         hit AND (pos - COALESCE(lastnh, 0) - 1) % 2 = 0 AS keep
         |       FROM g$x),
         |a$x AS (SELECT COUNT(*) AS applied FROM k$x WHERE keep),
         |d$x AS (SELECT *, COALESCE(lag(keep)
         |           OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS droprow
         |       FROM k$x),
         |r$x AS (SELECT doc_id,
         |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos,
         |         CASE WHEN keep
         |           THEN (SELECT a FROM b$x) || ' ' || (SELECT b FROM b$x)
         |           ELSE sym END AS sym
         |       FROM d$x WHERE NOT droprow)""".stripMargin
    }
    (head +: blocks).mkString(",\n")
  }

  // ------------------------------------- deterministic shard shuffle
  /** Training-order shuffle: every document gets a pseudo-random SHARD
    * (splitmix64 of doc_id mod 8) and a pseudo-random POSITION within
    * its shard (rank of an independently-salted second hash) — the
    * deterministic global permutation a pretraining run materializes
    * before packing sequences into batches. Hash-assignment means the
    * shards are size-balanced w.h.p. with no coordination, and the
    * permutation is a pure function of the ids: any worker, any restart,
    * any cluster size reproduces it, and (shard, pos) is a stable
    * resume address for a training checkpoint.
    *
    * Scale shape: no global sort exists anywhere — shard assignment is a
    * scan-side projection, and each shard orders independently (the
    * window partitions by shard), which at 100 TB is
    * `repartition(nShards, shard).sortWithinPartitions(okey)` writing
    * one file per shard: linear scan + per-shard sort, parallelism =
    * shard count. The within-shard rank key keeps 40 bits of the hash
    * (power-of-two modulus, so Spark's signed pmod and the oracle's
    * unsigned remainder agree), tie-broken by doc_id.
    */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    shardShuffleOn(docs(spark, dir), nShards = 8)

  def shardShuffleOn(documents: DataFrame, nShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("okey"), col("doc_id"))
    documents
      .select(
        col("doc_id"),
        expr(s"pmod(mix64(doc_id), $nShards)").as("shard"),
        expr("pmod(mix64(doc_id + 999983), 1099511627776)").as("okey"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  val shardShuffleSql: String =
    """WITH ha AS (
      |  SELECT doc_id,
      |    (CAST(doc_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 8 AS BIGINT) AS shard
      |  FROM documents),
      |hb AS (
      |  SELECT doc_id,
      |    (CAST(doc_id AS HUGEINT) + 999983 + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 1099511627776 AS BIGINT) AS okey
      |  FROM documents)
      |SELECT a.shard,
      |  CAST(row_number() OVER (PARTITION BY a.shard ORDER BY b.okey, a.doc_id) AS BIGINT) AS pos,
      |  a.doc_id
      |FROM ha a JOIN hb b USING (doc_id)
      |ORDER BY shard, pos""".stripMargin

  // ------------------------------------------------------ quality filter
  /** Composite C4-style cleaning pass: length bounds, stopword-ratio
    * floor, type-token-ratio floor (kills degenerate repetition), and
    * exact-dup removal (rank-1 per text) — the filters composed into ONE
    * scan the way a training-data pipeline runs them. Survivors carry
    * their metrics for auditing.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    // Dup-rank partitions on md5(text), not the text itself — the window
    // shuffle/sort key is 16 bytes instead of the whole document (the
    // ~1000× key-size cut that matters at 100 TB). md5 collisions are the
    // only way this diverges from per-text ranking (practically never;
    // the oracle partitions by raw text and hash-matches).
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    docs(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("stop_ratio",
        expr("count_in_set(w, array('the','a','of','and','to'))")
          .cast("double") / size(col("w")))
      .withColumn("ttr",
        size(array_distinct(col("w"))).cast("double") / size(col("w")))
      .withColumn("dup_rank", row_number().over(wDup))
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50 &&
        col("stop_ratio") >= 0.01 && col("ttr") >= 0.5 && col("dup_rank") === 1)
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"), round(col("ttr"), 6).as("ttr"))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql: String =
    """WITH d AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS w FROM documents),
      |m AS (SELECT doc_id, text, n_chars, len(w) AS n_tokens,
      |  CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)/len(w) AS stop_ratio,
      |  CAST(len(list_distinct(w)) AS DOUBLE)/len(w) AS ttr,
      |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS dup_rank
      |  FROM d)
      |SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stop_ratio, round(ttr, 6) AS ttr
      |FROM m
      |WHERE n_tokens >= 10 AND n_chars >= 50 AND stop_ratio >= CAST(0.01 AS DOUBLE)
      |  AND ttr >= CAST(0.5 AS DOUBLE) AND dup_rank = 1
      |ORDER BY doc_id""".stripMargin

  /** DuckDB twin of `tfidf`: integer tf/df, natural log, round-6 scores,
    * (tfidf DESC, term) tie-breaks — deterministic across engines because
    * equal (tf, df) pairs produce bit-equal scores and unequal ones
    * differ by far more than one ulp.
    */
  val tfidfSql: String =
    """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |        tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
      |      FROM tf JOIN df USING (term) CROSS JOIN n),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM s)
      |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rk
      |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ------------------------------------------------------ sequence packing
  /** Concat-and-chunk sequence packing: documents are conceptually
    * concatenated per source (ordered by doc_id) and cut into fixed
    * `chunkTokens` training chunks; each document reports its token
    * offset and the chunk range it lands in — the bookkeeping a training
    * pipeline needs to pack sequences into fixed token budgets.
    *
    * Scale shape: the running offset is a window cumsum PARTITIONED BY
    * source (chunk streams are per-domain in real pipelines), so no
    * global single-task sort — each source's stream sorts independently
    * and in parallel.
    */
  def chunkPack(spark: SparkSession, dir: String): DataFrame = {
    val chunkTokens = 256L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("source"), col("doc_id"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $chunkTokens").as("chunk_first"),
        expr(s"(start_off + n_tokens - 1) div $chunkTokens").as("chunk_last"))
      .withColumn("n_chunks", col("chunk_last") - col("chunk_first") + 1)
      .orderBy(col("source"), col("doc_id"))
  }

  val chunkPackSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM t)
      |SELECT source, doc_id, n_tokens, start_off,
      |  CAST(start_off // 256 AS BIGINT) AS chunk_first,
      |  CAST((start_off + n_tokens - 1) // 256 AS BIGINT) AS chunk_last,
      |  CAST((start_off + n_tokens - 1) // 256 - start_off // 256 + 1 AS BIGINT) AS n_chunks
      |FROM o ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------- repetition rules
  /** Gopher-style repetition quality signals (Rae et al. 2021, §A1.1,
    * adapted): documents dominated by a repeated phrase or by duplicated
    * n-grams are boilerplate/spam and poison training data. Per document:
    *
    *  - `top_bigram_frac` — occurrences of the MOST FREQUENT word bigram
    *    over total bigram occurrences (Gopher measures the character
    *    fraction; the count fraction is the same signal without the
    *    length confound, and stays integer-exact for the oracle);
    *  - `dup_trigram_frac` — trigram occurrences BEYOND each first one
    *    over total trigram occurrences (Gopher's duplicate-n-gram rule);
    *  - `flagged` when either exceeds its threshold (0.08 / 0.02 — set
    *    so both branches fire non-vacuously on the synthetic corpus).
    *
    * Shape: posexplode + per-doc window leads (codegen), two partial
    * aggregations — one shuffle on doc_id, no joins against anything
    * corpus-sized. Only the max/ratio arithmetic differs from the
    * shingle pipeline the dedup family already runs at scan speed.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOn(docs(spark, dir))

  def repetitionOn(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val grams = documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("t"),
        lead("t", 1).over(w).as("t1"), lead("t", 2).over(w).as("t2"))
    val bi = grams.filter(col("t1").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("t"), col("t1")).as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    val tri = grams.filter(col("t2").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_trigrams"),
        coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("dup_trigram_n"))
    bi.join(tri, Seq("doc_id")) // every doc here has ≥ 3 tokens; inner is total
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        col("dup_trigram_n"),
        (col("dup_trigram_n").cast("double") / col("n_trigrams")).as("dup_trigram_frac"))
      .withColumn("flagged",
        ((col("top_bigram_frac") > 0.08) || (col("dup_trigram_frac") > 0.02)).cast("int"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      |       FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)
      |       WHERE len(w) >= 2),
      |tri AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |        FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |        WHERE len(w) >= 3),
      |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |         CAST(MAX(c) AS BIGINT) AS top_bigram_n
      |       FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1),
      |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
      |         CAST(COALESCE(SUM(c - 1) FILTER (c > 1), 0) AS BIGINT) AS dup_trigram_n
      |       FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2) GROUP BY 1)
      |SELECT doc_id, n_bigrams, top_bigram_n,
      |  CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
      |  dup_trigram_n,
      |  CAST(dup_trigram_n AS DOUBLE) / n_trigrams AS dup_trigram_frac,
      |  CAST(CAST(top_bigram_n AS DOUBLE) / n_bigrams > 0.08
      |    OR CAST(dup_trigram_n AS DOUBLE) / n_trigrams > 0.02 AS INT) AS flagged
      |FROM bs JOIN ts USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- PII scrub
  /** PII scrubbing (C4/Dolma-style cleaning stage): regex-redact emails
    * and phone numbers, reporting match counts for auditing. The corpus
    * documents are synthetic word salad with no PII, so the graded entry
    * builds contact strings from the customer table (name-derived email,
    * custkey-derived phone) — the scrub itself is exercised non-vacuously
    * and the redacted text hash-matches the oracle. Pure per-row
    * projection: scan-speed at any corpus size.
    */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .withColumn("contact", concat(
        lit("reach "), col("c_name"), lit(" at "),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@example.com or "),
        format_string("%02d-%03d-%03d-%04d",
          col("c_custkey") % 90 + 10, col("c_custkey") % 1000,
          (col("c_custkey") * 7) % 1000, (col("c_custkey") * 13) % 10000),
        lit(" segment "), col("c_mktsegment")))
      .select(
        col("c_custkey").as("cust_id"),
        // DataFrame-API regex functions take the pattern VERBATIM — the
        // expr() route would re-parse the SQL string literal and collapse
        // \. to a bare "any char" dot (double-escaping trap)
        regexp_count(col("contact"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("contact"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(col("contact"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("scrubbed"))
      .orderBy(col("cust_id"))

  val piiScrubSql: String =
    s"""WITH c AS (
      |  SELECT c_custkey,
      |    'reach ' || c_name || ' at ' ||
      |    lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) ||
      |    '@example.com or ' ||
      |    printf('%02d-%03d-%03d-%04d',
      |      c_custkey % 90 + 10, c_custkey % 1000,
      |      (c_custkey * 7) % 1000, (c_custkey * 13) % 10000) ||
      |    ' segment ' || c_mktsegment AS contact
      |  FROM customer)
      |SELECT c_custkey AS cust_id,
      |  CAST(len(regexp_extract_all(contact, '$emailRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(contact, '$phoneRe')) AS BIGINT) AS n_phones,
      |  regexp_replace(regexp_replace(contact, '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g') AS scrubbed
      |FROM c ORDER BY cust_id""".stripMargin

  // ----------------------------------------------------- heavy hitters
  /** Corpus heavy hitters: every token whose occurrence count is ≥ 0.1%
    * of all token occurrences — the vocabulary/boilerplate census that
    * feeds stopword lists and tokenizer merges.
    *
    * Exact-by-construction sketch shape (the [[contaminationBloom]]
    * pattern for frequencies instead of membership): a count-min sketch
    * is built distributed (`df.stat.countMinSketch`, a merge of fixed
    * size per-partition counter grids — KBs regardless of corpus size),
    * shipped to the scan as one binary literal, and probed scan-side in
    * whole-stage codegen (`cms_estimate`). Only tokens whose estimate
    * clears the threshold are shuffled for the exact count; CMS error is
    * one-sided (estimate ≥ true count), so no qualifying token is lost
    * and the exact HAVING removes the overestimates — output identical
    * to the full GROUP BY, graded against that plain oracle. The
    * threshold derives from `sketch.totalCount()`: no extra pass over
    * the corpus. At 100 TB the full token stream never shuffles — only
    * the (vocabulary-sized) survivor set does.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val cms = toks.stat.countMinSketch("token", 0.0001, 0.999, 42)
    val threshold = (cms.totalCount() + 999L) / 1000L // ceil(total/1000)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    toks
      .filter(call_function("cms_estimate", lit(bytes), col("token")) >= lit(threshold))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(threshold))
      .orderBy(col("cnt").desc, col("token"))
  }

  val heavyHittersSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |th AS (SELECT CAST((COUNT(*) + 999) // 1000 AS BIGINT) AS t FROM toks)
      |SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
      |HAVING COUNT(*) >= (SELECT t FROM th)
      |ORDER BY cnt DESC, token""".stripMargin

  // ----------------------------------------------- vocabulary coverage
  /** Vocabulary coverage curve — for top-k vocabularies (k = 10, 100,
    * 1000 words by corpus frequency), what share of ALL token
    * occurrences they cover, in integer ppm. The tokenizer-sizing /
    * OOV-budget stat every vocab decision starts from (Zipf means the
    * first few hundred words usually cover most of the stream).
    *
    * Rank-k cutoffs are computed WITHOUT a single-partition window over
    * the vocabulary (the [[classifierLift]] trick): words rank in
    * parallel within their count class (`row_number` partitioned by
    * cnt), offset by a prefix sum over the distinct-count grid — Zipf
    * makes that grid O(√vocab) small. Each checkpoint is then one
    * filtered aggregate; ties at a cutoff resolve lexicographically,
    * identically on both engines.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageOn(docs(spark, dir), ks = Seq(10L, 100L, 1000L))

  def vocabCoverageOn(documents: DataFrame, ks: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val counts = documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val offs = counts.groupBy(col("cnt")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("cnt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = counts
      .join(broadcast(offs.select(col("cnt"), col("off"))), "cnt")
      .withColumn("r", col("off") +
        row_number().over(Window.partitionBy(col("cnt")).orderBy(col("w"))))
    val tot = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("vocab_size"))
    import spark.implicits._
    ranked.crossJoin(broadcast(tot))
      .crossJoin(broadcast(ks.toDF("k")))
      .filter(col("r") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("total")).as("total_tokens"),
        max(col("vocab_size")).as("vocab_size"),
        sum(col("cnt")).as("cum_tokens"))
      .select(col("k"), col("vocab_size"), col("cum_tokens"),
        col("total_tokens"),
        expr("cum_tokens * 1000000 div total_tokens").as("share_ppm"))
      .orderBy(col("k"))
  }

  val vocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (
      |  SELECT w, COUNT(*) AS cnt FROM toks WHERE w <> '' GROUP BY w),
      |rk AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS r
      |  FROM counts),
      |tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab_size FROM counts)
      |SELECT k, MAX(vocab_size) AS vocab_size,
      |  CAST(SUM(cnt) AS BIGINT) AS cum_tokens,
      |  CAST(MAX(total) AS BIGINT) AS total_tokens,
      |  CAST(SUM(cnt) AS BIGINT) * 1000000 // CAST(MAX(total) AS BIGINT) AS share_ppm
      |FROM rk, tot, UNNEST([CAST(10 AS BIGINT), 100, 1000]) AS t(k)
      |WHERE r <= k GROUP BY k ORDER BY k""".stripMargin

  // ----------------------------------------------------- word burstiness
  /** Word burstiness — which words CLUMP into few documents vs spread
    * evenly: concentration B = Σ_d c_d² · D · 10⁴ div (Σ_d c_d)² per
    * word (D = corpus size; B ≈ 10⁴·D/df for a word appearing once per
    * doc it touches, and grows as occurrences concentrate). The
    * corpus-linguistics signal that separates topical keywords (bursty)
    * from function words (uniform) — the statistical justification
    * behind stopword lists and the [[rakeKeywords]] degree scores. All
    * integer (counts, squares, one truncating division), so the
    * ranking hash-matches. Words in ≥ 20 docs only (burstiness of a
    * 2-doc word is noise); top-20 by B desc, word asc. One token
    * explode + two aggregates — partial+final on (doc, word) then
    * word.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOn(docs(spark, dir), minDf = 20L, k = 20)

  /** The scored word frame (w, df, tf, burst) both burstiness consumers
    * rank — top-burst keywords and bottom-burst stopword candidates.
    */
  private def burstScores(documents: DataFrame, minDf: Long): DataFrame = {
    val dw = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val tot = documents.agg(count(lit(1)).as("d"))
    dw.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(col("c") * col("c")).as("sq"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(tot))
      .select(col("w"), col("df"), col("tf"),
        expr("sq * d * 10000 div (tf * tf)").as("burst"))
  }

  def burstinessOn(documents: DataFrame, minDf: Long, k: Int): DataFrame =
    burstScores(documents, minDf)
      .orderBy(col("burst").desc, col("w")).limit(k)

  // ----------------------------------------- stopword discovery
  /** Data-driven stopword discovery — the OTHER end of the
    * [[burstiness]] ranking: high-document-frequency words with the
    * LOWEST burstiness spread evenly through the corpus regardless of
    * topic, which is the distributional definition of a function word.
    * This is how the curated 5-word list the quality features hardcode
    * would be grown for a new language/domain where no list exists.
    * Same integer scores; df ≥ 100 (a stopword is everywhere), bottom
    * 10 by burst asc, word asc.
    */
  def stopwordCandidates(spark: SparkSession, dir: String): DataFrame =
    burstScores(docs(spark, dir), minDf = 100L)
      .orderBy(col("burst"), col("w")).limit(10)

  val stopwordCandidatesSql: String =
    """WITH dw AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |t AS (SELECT COUNT(*) AS d FROM documents),
      |agg AS (
      |  SELECT w, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS tf,
      |    CAST(SUM(c * c) AS BIGINT) AS sq
      |  FROM dw GROUP BY w HAVING COUNT(*) >= 100)
      |SELECT w, df, tf, sq * d * 10000 // (tf * tf) AS burst
      |FROM agg, t ORDER BY burst, w LIMIT 10""".stripMargin

  val burstinessSql: String =
    """WITH dw AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |t AS (SELECT COUNT(*) AS d FROM documents),
      |agg AS (
      |  SELECT w, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS tf,
      |    CAST(SUM(c * c) AS BIGINT) AS sq
      |  FROM dw GROUP BY w HAVING COUNT(*) >= 20)
      |SELECT w, df, tf, sq * d * 10000 // (tf * tf) AS burst
      |FROM agg, t ORDER BY burst DESC, w LIMIT 20""".stripMargin

  // ----------------------------------------------- source divergence
  /** Pairwise source divergence — squared Hellinger distance between
    * each pair of sources' unigram distributions: H² = ½·Σ_w (√p_w −
    * √q_w)², the corpus-mix diagnostic that says WHICH feeds differ
    * and how much (0 = identical mix, 1 = disjoint vocabularies) —
    * what you check before concluding a blend ratio change is safe.
    * Hellinger over KL/JS deliberately: it needs only sqrt (correctly
    * rounded IEEE on both engines), no logarithms (whose last-ulp
    * behavior is library-defined and would break the hash match).
    * Shape: one (source, word) count aggregate, then a word-keyed
    * self-join over SHARED words only — the union-vocabulary sum
    * decomposes as Σ_union (√p−√q)² = Σ_shared (√p−√q)² +
    * (1 − Σ_shared p) + (1 − Σ_shared q), so words absent from one
    * side never join (the sparse-vector trick that keeps the pair
    * pass at O(overlap), not O(vocabulary × sources²)). Output:
    * unordered source pairs with shared-word count and H² rounded.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame =
    sourceDivergenceOn(docs(spark, dir))

  def sourceDivergenceOn(documents: DataFrame): DataFrame = {
    // staged: per-source totals and BOTH self-join sides consume this
    // count table — un-staged, the corpus explode + aggregate ran up to
    // four times (PlanAudit r16; guide §1.2). |sources|·|vocab| rows.
    val sw = graft.engine.Materialize.stage(documents
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val totals = sw.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val p = sw.join(broadcast(totals), "source")
      .select(col("source"), col("w"),
        (col("c").cast("double") / col("t").cast("double")).as("p"))
    val a = p.select(col("source").as("sa"), col("w"), col("p").as("pa"))
    val b = p.select(col("source").as("sb"), col("w"), col("p").as("pb"))
    // decimal accumulation (the dsum discipline): raw double sums are
    // partition-order-dependent; scale 15 sits inside the zone where
    // Spark's shortest-repr and DuckDB's binary-expansion double→decimal
    // casts agree digit-for-digit
    def dsum15(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 15))).cast("double")
    a.join(b, Seq("w")).filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_shared"),
        dsum15(pow(sqrt(col("pa")) - sqrt(col("pb")), 2.0)).as("shared_sq"),
        dsum15(col("pa")).as("pa_shared"), dsum15(col("pb")).as("pb_shared"))
      .select(col("sa"), col("sb"), col("n_shared"),
        round((col("shared_sq") + (lit(1.0) - col("pa_shared")) +
          (lit(1.0) - col("pb_shared"))) / 2.0, 6).as("hellinger_sq"))
      .orderBy(col("sa"), col("sb"))
  }

  val sourceDivergenceSql: String =
    """WITH sw AS (
      |  SELECT source, w, COUNT(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |t AS (SELECT source, SUM(c) AS t FROM sw GROUP BY 1),
      |p AS (
      |  SELECT sw.source, sw.w,
      |    CAST(sw.c AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
      |  FROM sw JOIN t USING (source))
      |SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_shared,
      |  round((CAST(SUM(CAST(pow(sqrt(a.p) - sqrt(b.p), 2) AS DECIMAL(38,15))) AS DOUBLE)
      |    + (1.0 - CAST(SUM(CAST(a.p AS DECIMAL(38,15))) AS DOUBLE))
      |    + (1.0 - CAST(SUM(CAST(b.p AS DECIMAL(38,15))) AS DOUBLE))) / 2.0, 6) AS hellinger_sq
      |FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY sa, sb""".stripMargin

  // ----------------------------------------------- boilerplate prefixes
  /** Per-source boilerplate-prefix ratio: how many of a source's
    * documents OPEN with the same 8 tokens as another document from the
    * same source (shared-prefix groups of size ≥ 2) — the header/
    * template detector that catches scraped sites injecting the same
    * preamble into everything, which inflates n-gram stats and dedup
    * candidate volume downstream. One (source, prefix-hash) aggregate
    * over a scan-side 8-token prefix key (xxhash64 of the joined
    * tokens — only equality matters, and the oracle groups by the
    * prefix STRING itself, which defines the same classes). Output per
    * source: docs, docs in shared-prefix groups, largest group, ratio
    * in ppm.
    */
  def boilerplatePrefix(spark: SparkSession, dir: String): DataFrame =
    boilerplatePrefixOn(docs(spark, dir), nTokens = 8)

  def boilerplatePrefixOn(documents: DataFrame, nTokens: Int): DataFrame = {
    val pref = documents
      .select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, nTokens)).as("pk"))
    val groups = pref.groupBy(col("source"), col("pk"))
      .agg(count(lit(1)).as("c"))
    groups.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_shared"),
        max(col("c")).as("largest_group"))
      .select(col("source"), col("n_docs"), col("n_shared"),
        col("largest_group"),
        expr("n_shared * 1000000 div n_docs").as("shared_ppm"))
      .orderBy(col("source"))
  }

  val boilerplatePrefixSql: String =
    """WITH pref AS (
      |  SELECT source,
      |    array_to_string(string_split(text, ' ')[1:8], ' ') AS pk
      |  FROM documents),
      |g AS (SELECT source, pk, COUNT(*) AS c FROM pref GROUP BY 1, 2)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_shared,
      |  MAX(c) AS largest_group,
      |  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(SUM(c) AS BIGINT) AS shared_ppm
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------- length profile
  /** Per-source length profile — exact interpolated median/p90 of
    * n_chars plus count and extrema, per source: the first table a
    * corpus intake review reads (a source whose median length halved
    * is a scraper change, not a content change), and the principled
    * input to length-based quality gates. The q35 two-phase bucket
    * quantile per source — fully parallel histogram, never a per-group
    * sort.
    */
  def lengthProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("source").as("f"), col("n_chars").cast("double").as("x"))
    val qs = graft.queries.Core.bucketQuantilesOn(d,
      Seq(0.5 -> "med", 0.9 -> "p90"))
    val agg = d.groupBy(col("f"))
      .agg(count(lit(1)).as("n_docs"), min(col("x")).cast("long").as("min_chars"),
        max(col("x")).cast("long").as("max_chars"))
    qs.join(agg, "f")
      .select(col("f").as("source"), col("n_docs"),
        round(col("med"), 6).as("median_chars"),
        round(col("p90"), 6).as("p90_chars"),
        col("min_chars"), col("max_chars"))
      .orderBy(col("source"))
  }

  val lengthProfileSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS median_chars,
      |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6) AS p90_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------- curation pipeline
  /** The whole curation pipeline as ONE declarative plan — what a user of
    * this library actually runs at 100 TB, and the reason the stages are
    * DataFrame transforms rather than scripts around materialized files:
    *
    *  1. quality gates (token count, length, stopword ratio, TTR) —
    *     scan-side metrics, same thresholds as `text_quality_filter`;
    *  2. exact dedup (keep first doc per md5(text), 16-byte window key);
    *  3. repetition gates (Gopher rules of `text_repetition`, computed
    *     ONLY for docs that survive 1–2 — the join order is the point:
    *     the n-gram explode runs on the filtered remnant, not the corpus);
    *  4. per-source deterministic cap (hash-rank ≤ 50, replay-safe).
    *
    * Catalyst fuses the stages: no intermediate tables, four exchanges
    * total (dedup window, repetition rollup, survivor semi-join, sample
    * window) — a file-materializing pipeline would pay a full
    * write+read+schema-infer between each stage instead. Oracle: the
    * identical composition as DuckDB CTEs, hash-matched end to end.
    */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    val survivors = docs(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("stop_ratio",
        expr("count_in_set(w, array('the','a','of','and','to'))")
          .cast("double") / size(col("w")))
      .withColumn("ttr",
        size(array_distinct(col("w"))).cast("double") / size(col("w")))
      .withColumn("dup_rank", row_number().over(wDup))
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50 &&
        col("stop_ratio") >= 0.01 && col("ttr") >= 0.5 && col("dup_rank") === 1)
      .select(col("doc_id"), col("text"), col("source"), col("n_tokens"))
    val unflagged = repetitionOn(survivors.select(col("doc_id"), col("text")))
      .filter(col("flagged") === 0)
      .select(col("doc_id"))
    val wSam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    survivors.join(unflagged, Seq("doc_id"), "left_semi")
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("rk", row_number().over(wSam).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("source"), col("rk"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("rk"))
  }

  val curateSql: String =
    """WITH d AS (SELECT doc_id, text, source, n_chars, string_split(text, ' ') AS w
      |           FROM documents),
      |q AS (SELECT doc_id, text, source, CAST(len(w) AS BIGINT) AS n_tokens FROM (
      |        SELECT *, len(w) AS nt,
      |          CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)/len(w) AS stop_ratio,
      |          CAST(len(list_distinct(w)) AS DOUBLE)/len(w) AS ttr,
      |          row_number() OVER (PARTITION BY text ORDER BY doc_id) AS dup_rank
      |        FROM d)
      |      WHERE nt >= 10 AND n_chars >= 50 AND stop_ratio >= CAST(0.01 AS DOUBLE)
      |        AND ttr >= CAST(0.5 AS DOUBLE) AND dup_rank = 1),
      |tq AS (SELECT doc_id, string_split(text, ' ') AS w FROM q),
      |bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      |       FROM tq, UNNEST(generate_series(1, len(w)-1)) AS t(i) WHERE len(w) >= 2),
      |tri AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |        FROM tq, UNNEST(generate_series(1, len(w)-2)) AS t(i) WHERE len(w) >= 3),
      |bs AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac
      |       FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2) GROUP BY 1),
      |ts AS (SELECT doc_id, CAST(COALESCE(SUM(c - 1) FILTER (c > 1), 0) AS DOUBLE) / SUM(c) AS dup_frac
      |       FROM (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2) GROUP BY 1),
      |rep AS (SELECT doc_id FROM bs JOIN ts USING (doc_id)
      |        WHERE NOT (top_frac > CAST(0.08 AS DOUBLE) OR dup_frac > CAST(0.02 AS DOUBLE))),
      |sam AS (SELECT q.source, q.doc_id, q.n_tokens, md5(CAST(q.doc_id AS VARCHAR)) AS h
      |        FROM q JOIN rep USING (doc_id)),
      |rk AS (SELECT source, doc_id, n_tokens,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk
      |       FROM sam)
      |SELECT source, rk, doc_id, n_tokens FROM rk WHERE rk <= 50
      |ORDER BY source, rk""".stripMargin

  // ------------------------------------------- stratified train/val/test
  /** Deterministic stratified train/val/test split — the assignment every
    * training run needs to be REPRODUCIBLE and exactly proportioned: per
    * language, docs are permuted by (md5(doc_id), doc_id) — a fixed
    * pseudo-random order, no RNG state — and assigned by RANK so each
    * stratum splits exactly 80/10/10 (hash-bucket splits only approximate
    * the proportions; rank-based is exact at any corpus size). Split
    * thresholds compare rk*10 against n_lang*8 / n_lang*9 in pure integer
    * arithmetic — a double 0.8 multiply would be DECIMAL vs DOUBLE
    * divergence bait cross-engine.
    *
    * Scale shape: one window per stratum (single shuffle on lang), then a
    * partial+final rollup; the assignment itself never leaves the
    * executors — the graded output is the per-(lang, split) contract: row
    * count and doc_id/chars checksums pin EVERY individual assignment.
    */
  def splitStratified(spark: SparkSession, dir: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val w = byLang.orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_lang", count(lit(1)).over(byLang).cast("long"))
      .withColumn("split",
        when(col("rk") * 10 <= col("n_lang") * 8, "train")
          .when(col("rk") * 10 <= col("n_lang") * 9, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("docid_sum"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy(col("lang"), col("split"))
  }

  val splitStratifiedSql: String =
    """WITH h AS (
      |  SELECT lang, doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
      |  FROM h),
      |s AS (
      |  SELECT lang, doc_id, n_chars,
      |    CASE WHEN rk * 10 <= n_lang * 8 THEN 'train'
      |         WHEN rk * 10 <= n_lang * 9 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM r)
      |SELECT lang, split, COUNT(*) AS n,
      |  CAST(SUM(doc_id) AS BIGINT) AS docid_sum,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
      |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // --------------------------------------- span corruption (T5-style)
  /** Deterministic span corruption — the denoising-objective
    * preprocessing (T5/UL2): 1/16 of positions open a 3-token mask
    * (overlaps merge into runs, ≈15–17% of tokens masked), each masked
    * RUN is replaced by one numbered sentinel in the corrupted text, and
    * the target text pairs each sentinel with the tokens it hides.
    * "Randomness" is pmod(mix64(doc_id·131071 + pos), 16) = 0 (power-of-two modulus — signed pmod ≡ unsigned remainder), so the
    * corruption is a pure function of (doc, position): any worker, any
    * restart, any engine regenerates the identical example — which is
    * what makes it graded, and what production wants anyway
    * (reproducible training data). Run detection is the gaps-and-
    * islands window pair; reassembly is the in-aggregate array_sort
    * (no corpus sort). Simplification vs the paper: no final
    * end-sentinel token.
    */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame =
    spanCorruptOn(docs(spark, dir))

  def spanCorruptOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val w3 = w.rowsBetween(-2, Window.currentRow)
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0").cast("long") + 1).as("pos"), col("t"))
      .withColumn("is_start", expr("pmod(mix64(doc_id * 131071 + pos), 16) = 0"))
      .withColumn("covered",
        max(when(col("is_start"), 1).otherwise(0)).over(w3) === 1)
      .withColumn("new_run", col("covered") && !lag(col("covered"), 1, false).over(w))
      .withColumn("k",
        sum(when(col("new_run"), 1L).otherwise(0L)).over(wrun) - 1)
      .withColumn("sent", concat(lit("<extra_id_"), col("k").cast("string"), lit(">")))
      .withColumn("ct", when(col("new_run"), col("sent"))
        .when(col("covered"), lit(null).cast("string")).otherwise(col("t")))
      .withColumn("tt", when(col("new_run"), concat(col("sent"), lit(" "), col("t")))
        .when(col("covered"), col("t")).otherwise(lit(null).cast("string")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("new_run"), 1L).otherwise(0L)).as("n_spans"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN ct IS NOT NULL " +
            "THEN struct(pos, ct) END)), x -> x.ct)")).as("corrupted_text"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN tt IS NOT NULL " +
            "THEN struct(pos, tt) END)), x -> x.tt)")).as("target_text"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS t
      |        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      |h AS (SELECT doc_id, pos, t,
      |    (CAST(doc_id * 131071 + pos AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 16 AS BIGINT) = 0 AS is_start
      |  FROM tok),
      |cov AS (SELECT doc_id, pos, t,
      |    MAX(CASE WHEN is_start THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS covered
      |  FROM h),
      |run AS (SELECT *, covered AND NOT COALESCE(
      |    lag(covered) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS new_run
      |  FROM cov),
      |kk AS (SELECT *, SUM(CASE WHEN new_run THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS k
      |  FROM run),
      |o AS (SELECT doc_id, pos, covered, new_run,
      |    CASE WHEN new_run THEN '<extra_id_' || k || '>'
      |         WHEN covered THEN NULL ELSE t END AS ct,
      |    CASE WHEN new_run THEN '<extra_id_' || k || '> ' || t
      |         WHEN covered THEN t ELSE NULL END AS tt
      |  FROM kk)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |  CAST(SUM(CASE WHEN new_run THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
      |  COALESCE(string_agg(ct, ' ' ORDER BY pos), '') AS corrupted_text,
      |  COALESCE(string_agg(tt, ' ' ORDER BY pos), '') AS target_text
      |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- corpus health report
  /** Per-source corpus HEALTH dashboard — the first query anyone runs on
    * a new crawl, composing the audit signals into one frame: document
    * count, corpus-wide exact-duplicate share (md5 window — 16-byte
    * keys), token volume, mean type-token ratio (decimal-accumulated so
    * the mean is partition-order-proof), the hashed classifier's keep
    * rate, and language spread. Two shuffles total: the dup window on
    * md5(text) and the per-source aggregate; every rate is integer
    * basis points, the one real-valued mean goes through the dsum
    * discipline.
    */
  def health(spark: SparkSession, dir: String): DataFrame =
    healthOn(docs(spark, dir))

  def healthOn(documents: DataFrame): DataFrame = {
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast("binary")))
    documents
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("ttr", size(array_distinct(col("w"))).cast("double") / size(col("w")))
      .withColumn("is_dup", (count(lit(1)).over(wDup) > 1).cast("long"))
      .withColumn("grams", expr("word_ngrams(text, 2)"))
      .withColumn("keep", (expr("aggregate(grams, 0L, (a, g) -> " +
        "a + pmod(mix64(pmod(roll_hash31(g), 65536)), 8) - 4)") > 0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup"),
        sum(col("n_tokens")).as("tok_sum"),
        round(sum(col("ttr").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_ttr"),
        sum(col("keep")).as("n_keep"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        expr("n_dup * 10000 div n_docs").as("dup_bp"),
        col("tok_sum"), col("mean_ttr"),
        expr("n_keep * 10000 div n_docs").as("keep_bp"), col("n_langs"))
      .orderBy(col("source"))
  }

  val healthSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS w,
      |    COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS gram
      |      FROM d, UNNEST(generate_series(1, len(w)-1)) AS t(i)
      |      WHERE len(w) >= 2),
      |b AS (SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split_regex(gram, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) % 65536 AS bkt
      |  FROM g),
      |wt AS (SELECT doc_id,
      |    (CAST(bkt AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
      |    xor(z0, z0 >> 30) AS x1,
      |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
      |    xor(z1, z1 >> 27) AS x2,
      |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
      |    xor(z2, z2 >> 31) AS z3,
      |    CAST(z3 % 8 AS BIGINT) - 4 AS w8
      |  FROM b),
      |k AS (SELECT doc_id, SUM(w8) > 0 AS keep FROM wt GROUP BY 1),
      |j AS (SELECT d.source, d.lang, d.is_dup,
      |        CAST(len(d.w) AS BIGINT) AS n_tokens,
      |        CAST(len(list_distinct(d.w)) AS DOUBLE) / len(d.w) AS ttr,
      |        k.keep
      |      FROM d JOIN k USING (doc_id))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000
      |    // COUNT(*) AS BIGINT) AS dup_bp,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
      |  round(CAST(SUM(CAST(ttr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_ttr,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 10000
      |    // COUNT(*) AS BIGINT) AS keep_bp,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- RAKE keywords
  /** RAKE keyword extraction: candidate phrases are maximal runs of
    * non-stopword tokens (the corpus' standard 5-stopword list — same
    * set as [[statsOn]], so the segmentation can't drift from the
    * quality features); each word scores `degree·1000 div freq` over
    * the whole corpus (degree = Σ length of the phrases its occurrences
    * sit in — all integer, so the ranking hash-matches cross-engine),
    * and a phrase scores the sum of its words. Output: top-3 distinct
    * phrases per document, ties broken lexicographically — the
    * summarization/tagging primitive behind search facets and topic
    * drill-downs.
    *
    * Shape at scale: one posexplode of the token stream, one
    * gaps-islands window keyed by doc (phrase runs never cross
    * documents, so partitioning is by doc_id — fully parallel), one
    * corpus-level word aggregate (partial+final on word), one re-join
    * to attach word scores, and a per-doc top-k window. The token
    * stream shuffles twice (phrase assembly, word stats) — inherent to
    * corpus-level RAKE, and each shuffle carries (doc, grp, word)
    * triples, not documents.
    */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame =
    rakeKeywordsOn(docs(spark, dir), k = 3)

  def rakeKeywordsOn(documents: DataFrame, k: Int): DataFrame =
    rakeScoreOn(documents, rakeWordScores(documents), k)
      .orderBy(col("doc_id"), col("rk"))

  /** RAKE candidate-phrase members: stopword-delimited runs of content
    * words, each row one word with its phrase group and phrase length.
    * Per-document only (every window is doc_id-partitioned) — the
    * batch-local half shared by the batch operator and the ingest twin.
    */
  private def rakeMembers(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "of", "and", "to")
    val toks = documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
      .filter(!col("w").isin(stop: _*) && col("w") =!= "")
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = toks.withColumn("grp", col("i") - row_number().over(wRun))
    val wLen = Window.partitionBy(col("doc_id"), col("grp"))
    runs.withColumn("plen", count(lit(1)).over(wLen))
  }

  /** The corpus-wide RAKE word-score table (degree/frequency per word,
    * ×1000 integer) — the PLANNING ARTIFACT the ingest twin
    * [[graft.streaming.RakeIngest]] freezes from a reference snapshot.
    */
  def rakeWordScores(documents: DataFrame): DataFrame =
    rakeMembers(documents).groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("wscore", expr("degree * 1000 div freq"))
      .select(col("w"), col("wscore"))

  /** Score `documents`' candidate phrases under a FROZEN word-score
    * table and keep each document's top k. Words absent from the table
    * score 0 (left join) — on the training corpus itself every word is
    * present, so batch ≡ ingest there by construction.
    */
  def rakeScoreOn(documents: DataFrame, wordScore: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no broadcast hint: a reference-snapshot score table is usually
    // broadcast-sized and AQE picks that up, but a 100 TB corpus's full
    // vocabulary may not be — forcing it would OOM the driver there
    val phrases = rakeMembers(documents)
      .join(wordScore, Seq("w"), "left")
      .withColumn("wscore", coalesce(col("wscore"), lit(0L)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("i"), col("w"))))
          .getField("w")).as("phrase"),
        sum(col("wscore")).as("score"))
      .select(col("doc_id"), col("phrase"), col("score")).distinct()
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("phrase"))
    phrases.withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("phrase"), col("score"))
  }

  val rakeKeywordsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, i, w[i] AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |    UNNEST(generate_series(1, len(w))) AS t(i)
      |  WHERE NOT list_contains(['the','a','of','and','to'], w[i])
      |    AND w[i] <> ''),
      |runs AS (
      |  SELECT doc_id, i, w,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM toks),
      |members AS (
      |  SELECT doc_id, grp, i, w,
      |    COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
      |  FROM runs),
      |ws AS (
      |  SELECT w, COUNT(*) AS freq, SUM(plen) AS degree,
      |    CAST(SUM(plen) AS BIGINT) * 1000 // COUNT(*) AS wscore
      |  FROM members GROUP BY w),
      |phrases AS (
      |  SELECT DISTINCT doc_id, phrase, score FROM (
      |    SELECT m.doc_id, m.grp,
      |      string_agg(m.w, ' ' ORDER BY m.i) AS phrase,
      |      CAST(SUM(ws.wscore) AS BIGINT) AS score
      |    FROM members m JOIN ws USING (w)
      |    GROUP BY m.doc_id, m.grp)),
      |rk AS (
      |  SELECT doc_id, phrase, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, phrase) AS rk
      |  FROM phrases)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, phrase, score
      |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ------------------------------------------------ Gopher rule battery
  /** Gopher-style rule battery (Rae et al. 2021 §A1.1, adapted to the
    * fixture's whitespace corpus): five independent keep/drop rules per
    * document, reported as a BITMAP plus a fail count — pipelines keep
    * the per-rule bits (not just the verdict) so a corpus audit can say
    * WHICH rule is responsible for the removal mass. Rules: word count
    * in [50, 100k]; mean word length in [3, 10]; alpha-char fraction of
    * non-space text ≥ 0.8; ≥ 2 distinct stopwords present; top-token
    * share ≤ 0.2 (the repetition guard standing in for Gopher's
    * duplicate-line ratios, which need line structure this corpus lacks).
    * All thresholds are integer cross-multiplications (5·na ≥ 4·ns, not
    * na/ns ≥ 0.8) so no float compare can straddle an ulp across
    * engines. Everything except the top-token count is scan-side
    * arithmetic over the token array; the top-token count is one
    * explode → (doc, token) partial-agg → per-doc max, re-joined on
    * doc_id — the only shuffle, keyed by doc, map-side combinable.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(docs(spark, dir))

  def gopherRulesOn(documents: DataFrame): DataFrame = {
    val d = documents.withColumn("w", split(col("text"), " "))
    val scan = d.select(
      col("doc_id"),
      size(col("w")).cast("long").as("n"),
      expr("sum_strlen(w)").cast("long").as("sl"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long").as("na"),
      (length(col("text")) - (size(col("w")) - 1)).cast("long").as("ns"),
      expr("""size(filter(array_distinct(w),
        |  x -> array_contains(array('the','a','of','and','to'), x)))"""
        .stripMargin).cast("long").as("nstop"))
    val rep = d.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).cast("long").as("max_tok"))
    scan.join(rep, "doc_id")
      .withColumn("r_wc", (col("n") >= 50 && col("n") <= 100000L).cast("long"))
      .withColumn("r_mtl",
        (col("sl") >= col("n") * 3 && col("sl") <= col("n") * 10).cast("long"))
      .withColumn("r_alpha", (col("na") * 5 >= col("ns") * 4).cast("long"))
      .withColumn("r_stop", (col("nstop") >= 2).cast("long"))
      .withColumn("r_rep", (col("max_tok") * 5 <= col("n")).cast("long"))
      .select(
        col("doc_id"), col("n").as("n_tokens"),
        (col("r_wc") + col("r_mtl") * 2 + col("r_alpha") * 4 +
          col("r_stop") * 8 + col("r_rep") * 16).as("rule_bits"),
        (lit(5L) - col("r_wc") - col("r_mtl") - col("r_alpha") -
          col("r_stop") - col("r_rep")).as("n_failed"),
        (col("r_wc") * col("r_mtl") * col("r_alpha") * col("r_stop") *
          col("r_rep")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val gopherRulesSql: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n,
      |    CAST(list_aggregate(list_transform(w, x -> CAST(length(x) AS INT)), 'sum') AS BIGINT) AS sl,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
      |    CAST(length(text) - (len(w) - 1) AS BIGINT) AS ns,
      |    CAST(len(list_filter(list_distinct(w),
      |      x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS nstop
      |  FROM d),
      |rep AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tok FROM (
      |    SELECT doc_id, t, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(w) AS t FROM d) GROUP BY 1, 2) GROUP BY 1),
      |r AS (SELECT s.doc_id, s.n,
      |    CASE WHEN s.n BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
      |    CASE WHEN s.sl BETWEEN 3 * s.n AND 10 * s.n THEN 1 ELSE 0 END AS r_mtl,
      |    CASE WHEN s.na * 5 >= s.ns * 4 THEN 1 ELSE 0 END AS r_alpha,
      |    CASE WHEN s.nstop >= 2 THEN 1 ELSE 0 END AS r_stop,
      |    CASE WHEN rep.max_tok * 5 <= s.n THEN 1 ELSE 0 END AS r_rep
      |  FROM s JOIN rep ON s.doc_id = rep.doc_id)
      |SELECT doc_id, n AS n_tokens,
      |  CAST(r_wc + r_mtl * 2 + r_alpha * 4 + r_stop * 8 + r_rep * 16 AS BIGINT) AS rule_bits,
      |  CAST(5 - r_wc - r_mtl - r_alpha - r_stop - r_rep AS BIGINT) AS n_failed,
      |  CAST(r_wc * r_mtl * r_alpha * r_stop * r_rep AS BIGINT) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------- token-budget allocation
  /** Token-budget mixture planner: given per-source token counts, a
    * global training budget (⅓ of the corpus here), temperature-√
    * weights, and a 2-epoch repetition cap, allocate the budget across
    * sources — the planning table behind every "how many tokens of each
    * source does the run actually see" decision. Two deterministic
    * passes: a proportional integer allocation (B·w_s div Σw), then one
    * redistribution of the capped sources' surplus to the uncapped ones
    * (again ∝ weight). Everything is BIGINT arithmetic (isqrt weights,
    * truncating div) so both engines agree bit-for-bit; epochs are
    * reported in basis points. Shape: one map-side-combinable per-source
    * token sum over the corpus (the only big scan), then all planning
    * math runs on the |sources|-row table against broadcast scalars —
    * the 100 TB cost is exactly one pass over `documents`.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOn(docs(spark, dir))

  def tokenBudgetOn(documents: DataFrame): DataFrame = {
    // staged (both frames, |sources| rows each): the totals, the second-
    // pass leftover aggregate and the final projection each re-ran the
    // corpus token-count scan un-staged (PlanAudit r16 ×2/×3; guide §1.2)
    val n = graft.engine.Materialize.stage(documents
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tok"))
      .withColumn("wt", expr("cast(floor(sqrt(cast(n_tok as double))) as bigint)")))
    val tot = n.agg(sum(col("n_tok")).as("total"), sum(col("wt")).as("sw"))
    val alloc = graft.engine.Materialize.stage(n.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 3"))
      .withColumn("raw", expr("budget * wt div sw"))
      .withColumn("cap", col("n_tok") * 2)
      .withColumn("capped", (col("raw") > col("cap")).cast("long"))
      .withColumn("c", least(col("raw"), col("cap"))))
    val redo = alloc.agg(
      (first(col("budget")) - sum(col("c"))).as("leftover"),
      sum(when(col("capped") === 0, col("wt")).otherwise(lit(0L))).as("sw_u"))
    alloc.crossJoin(broadcast(redo))
      .withColumn("extra",
        when(col("capped") === 1 || col("sw_u") === 0, lit(0L))
          .otherwise(expr("leftover * wt div sw_u")))
      .select(col("source"), col("n_tok").as("n_tokens"), col("wt"),
        col("raw").as("alloc_raw"), col("capped"),
        least(col("c") + col("extra"), col("cap")).as("alloc_final"),
        expr("least(c + extra, cap) * 10000 div n_tok").as("epochs_bp"))
      .orderBy(col("source"))
  }

  val tokenBudgetSql: String =
    """WITH n AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, n_tok,
      |    CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS wt FROM n),
      |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total,
      |    CAST(SUM(wt) AS BIGINT) AS sw FROM w),
      |alloc AS (
      |  SELECT source, n_tok, wt,
      |    t.total // 3 AS budget,
      |    t.total // 3 * wt // t.sw AS raw,
      |    n_tok * 2 AS cap,
      |    CASE WHEN t.total // 3 * wt // t.sw > n_tok * 2 THEN 1 ELSE 0 END AS capped,
      |    least(t.total // 3 * wt // t.sw, n_tok * 2) AS c
      |  FROM w CROSS JOIN tot t),
      |redo AS (SELECT CAST(MIN(budget) - SUM(c) AS BIGINT) AS leftover,
      |    CAST(SUM(CASE WHEN capped = 0 THEN wt ELSE 0 END) AS BIGINT) AS sw_u
      |  FROM alloc)
      |SELECT a.source, a.n_tok AS n_tokens, a.wt,
      |  a.raw AS alloc_raw, CAST(a.capped AS BIGINT) AS capped,
      |  least(a.c + CASE WHEN a.capped = 1 OR r.sw_u = 0 THEN 0
      |    ELSE r.leftover * a.wt // r.sw_u END, a.cap) AS alloc_final,
      |  least(a.c + CASE WHEN a.capped = 1 OR r.sw_u = 0 THEN 0
      |    ELSE r.leftover * a.wt // r.sw_u END, a.cap) * 10000 // a.n_tok AS epochs_bp
      |FROM alloc a CROSS JOIN redo r ORDER BY a.source""".stripMargin

  // ------------------------------------------------------ BM25 retrieval
  /** BM25 top-k retrieval (Robertson–Spärck Jones) for a fixed 8-term
    * query — the ranking function behind corpus search, eval-set
    * retrieval, and retrieval-based curation. k1 = 1.2, b = 0.75 are
    * cleared of floats by scaling the term's rational through 20·avgdl:
    * tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl) becomes EXACTLY
    * 44·avgdl·tf / (20·avgdl·tf + 6·avgdl + 18·dl) in BIGINTs (avgdl is
    * the truncated corpus mean); only the idf takes the repo's ln grid
    * (round(ln·10⁶), the [[pmiCollocations]] convention). Scale shape:
    * tf is one explode filtered AGAINST THE BROADCAST QUERY TERMS
    * before it ever groups — the token stream that shuffles is |terms
    * matched|, not the corpus; df/idf live on the 8-row term table;
    * the numerator product idf·44·avgdl·tf stays under 2⁶³ while
    * avgdl·tf < ~10¹¹ (pre-divide avgdl for pathological corpora).
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopKOn(docs(spark, dir),
      Seq("spark", "window", "merge", "stream", "vector", "customer",
        "hash", "slow"), k = 20)

  def bm25TopKOn(documents: DataFrame, query: Seq[String], k: Int): DataFrame = {
    import documents.sparkSession.implicits._
    val base = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val tot = base.agg(sum(col("dl")).as("tdl"), count(lit(1)).as("n"))
      .select(expr("tdl div n").as("avgdl"), col("n"))
    val terms = query.toDF("term")
    val tf = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .join(broadcast(terms), col("t") === col("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(tot))
      .select(col("term"), col("avgdl"), expr(
        "cast(round(ln((n - dfc + 0.5d) / (dfc + 0.5d) + 1.0d) * 1000000.0d) as bigint)")
        .as("idf_fp"))
    val scoredDocs = tf.join(base, "doc_id").join(broadcast(idf), "term")
      .withColumn("term_fp", expr(
        "idf_fp * (44L * avgdl * tf) div (20L * avgdl * tf + 6L * avgdl + 18L * dl)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id")).limit(k)
    // rank window runs over the ≤k-row top list only (bounded frame)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_fp").desc, col("doc_id"))
    scoredDocs.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("score_fp"), col("n_terms"))
      .orderBy(col("rank"))
  }

  val bm25TopKSql: String =
    """WITH base AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl,
      |    COUNT(*) AS n FROM base),
      |terms AS (SELECT unnest(['spark', 'window', 'merge', 'stream',
      |    'vector', 'customer', 'hash', 'slow']) AS term),
      |tf AS (
      |  SELECT d.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) d
      |  JOIN terms t ON d.tok = t.term GROUP BY 1, 2),
      |idf AS (
      |  SELECT f.term, o.avgdl,
      |    CAST(round(ln((o.n - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_fp
      |  FROM (SELECT DISTINCT doc_id, term FROM tf) f CROSS JOIN tot o
      |  GROUP BY f.term, o.avgdl, o.n),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(SUM(i.idf_fp * (44 * i.avgdl * tf.tf)
      |      // (20 * i.avgdl * tf.tf + 6 * i.avgdl + 18 * b.dl)) AS BIGINT) AS score_fp,
      |    COUNT(*) AS n_terms
      |  FROM tf JOIN base b USING (doc_id) JOIN idf i USING (term)
      |  GROUP BY tf.doc_id
      |  ORDER BY score_fp DESC, doc_id LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, score_fp, n_terms
      |FROM sc ORDER BY rank""".stripMargin

  // --------------------------------------------- retrieval quality (nDCG)
  /** nDCG@10 harness for [[bm25TopK]] — the eval loop the recall@k
    * harnesses give the ANN family, for lexical retrieval: graded
    * relevance = a document's total query-term OCCURRENCE count
    * (judgment-free, recomputable, and genuinely divergent from the
    * BM25 ordering — BM25 length-normalizes and idf-weights, the ideal
    * ordering doesn't, so ndcg < 1 measures that gap), DCG over the BM25 top-10
    * with pinned milli 1/log2(rank+1) gains, IDCG from the corpus-wide
    * ideal ordering (relevance desc, id asc), ndcg = dcg·1000 div idcg.
    * Everything after the (already-graded) BM25 scores is pure integer
    * arithmetic — the gains are literals, not runtime logs.
    *
    * Scale: relevance is one term-filtered aggregate (the BM25 tf
    * shape); the ideal top-10 is a TakeOrdered over (rel, id) — no
    * global sort materializes; DCG/IDCG fold ≤10 rows each.
    */
  def bm25Ndcg(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "window", "merge", "stream", "vector",
      "customer", "hash", "slow")
    val documents = docs(spark, dir)
    import documents.sparkSession.implicits._
    val gains = "array(1000L, 630L, 500L, 430L, 386L, 356L, 333L, 315L, 301L, 289L)"
    val rel = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .join(broadcast(terms.toDF("term")), col("t") === col("term"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("rel"))
    val dcg = bm25TopKOn(documents, terms, k = 10)
      .join(rel, Seq("doc_id"), "left")
      .select(expr(s"coalesce(rel, 0L) * element_at($gains, cast(rank as int))")
        .as("g"))
      .agg(sum(col("g")).as("dcg_milli"))
    // ideal ordering: top-10 relevances corpus-wide (TakeOrdered, bounded)
    val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rel").desc, col("doc_id")) // ≤10-row frame (bounded)
    val idcg = ideal.withColumn("rank", row_number().over(w))
      .select(expr(s"rel * element_at($gains, rank)").as("g"))
      .agg(sum(col("g")).as("idcg_milli"))
    val nRel = rel.agg(count(lit(1)).as("n_rel_docs"))
    dcg.crossJoin(broadcast(idcg)).crossJoin(broadcast(nRel))
      .select(lit(10L).as("k"), col("dcg_milli"), col("idcg_milli"),
        expr("(dcg_milli * 1000L) div idcg_milli").as("ndcg_milli"),
        col("n_rel_docs"))
      .orderBy(col("k"))
  }

  val bm25NdcgSql: String =
    """WITH base AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl,
      |    COUNT(*) AS n FROM base),
      |terms AS (SELECT unnest(['spark', 'window', 'merge', 'stream',
      |    'vector', 'customer', 'hash', 'slow']) AS term),
      |tf AS (
      |  SELECT d.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) d
      |  JOIN terms t ON d.tok = t.term GROUP BY 1, 2),
      |idf AS (
      |  SELECT f.term, o.avgdl,
      |    CAST(round(ln((o.n - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_fp
      |  FROM (SELECT DISTINCT doc_id, term FROM tf) f CROSS JOIN tot o
      |  GROUP BY f.term, o.avgdl, o.n),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(SUM(i.idf_fp * (44 * i.avgdl * tf.tf)
      |      // (20 * i.avgdl * tf.tf + 6 * i.avgdl + 18 * b.dl)) AS BIGINT) AS score_fp
      |  FROM tf JOIN base b USING (doc_id) JOIN idf i USING (term)
      |  GROUP BY tf.doc_id
      |  ORDER BY score_fp DESC, doc_id LIMIT 10),
      |ranked AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rank
      |  FROM sc),
      |rel AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS rel FROM tf GROUP BY 1),
      |gains(rank, g) AS (SELECT CAST(t.i AS INT),
      |    ([1000, 630, 500, 430, 386, 356, 333, 315, 301, 289])[t.i]
      |  FROM UNNEST(generate_series(1, 10)) AS t(i)),
      |dcg AS (
      |  SELECT CAST(SUM(COALESCE(rel.rel, 0) * g.g) AS BIGINT) AS dcg_milli
      |  FROM ranked LEFT JOIN rel USING (doc_id) JOIN gains g USING (rank)),
      |ideal AS (
      |  SELECT rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS INT) AS rank
      |  FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
      |idcg AS (
      |  SELECT CAST(SUM(i.rel * g.g) AS BIGINT) AS idcg_milli
      |  FROM ideal i JOIN gains g USING (rank)),
      |nr AS (SELECT COUNT(*) AS n_rel_docs FROM rel)
      |SELECT CAST(10 AS BIGINT) AS k, dcg_milli, idcg_milli,
      |  CAST((dcg_milli * 1000) // idcg_milli AS BIGINT) AS ndcg_milli,
      |  n_rel_docs
      |FROM dcg, idcg, nr ORDER BY k""".stripMargin

  // -------------------------------------------- split-conformal calibration
  /** Split-conformal prediction interval, end to end — the
    * distribution-free coverage guarantee every model-serving pipeline
    * can wrap around ANY point predictor: a pinned toy predictor
    * (chars ≈ 6·tokens), absolute residuals as nonconformity, the
    * k = ⌈0.9·(n_cal+1)⌉-th smallest calibration residual as the
    * radius q, and the held-out coverage of ±q (guaranteed ≥ 90% in
    * expectation; the readout shows the realized ppm). Splits are
    * deterministic (doc_id parity).
    *
    * Scale: the k-th order statistic is NOT a sort-and-limit — the
    * residual is value-bounded, so calibration folds to a ≤|distinct
    * residuals| grid, a bounded cumulative window finds q, and the
    * test side is one filtered aggregate with q broadcast. Exact
    * integers throughout.
    */
  def conformal(spark: SparkSession, dir: String): DataFrame =
    conformalOn(docs(spark, dir))

  def conformalOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val resid = documents.select(col("doc_id"),
      expr("abs(n_chars - 6L * size(split(text, ' ')))").as("r"),
      expr("doc_id % 2 = 0").as("cal"))
    val calN = resid.filter(col("cal"))
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr("(9L * (n_cal + 1L) + 9L) div 10L"))
    // global window over the ≤|distinct residual values| grid (bounded)
    val grid = resid.filter(col("cal")).groupBy(col("r"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val q = grid.crossJoin(broadcast(calN))
      .filter(col("cum") >= col("k"))
      .agg(min(col("r")).as("q_resid"))
    val test = resid.filter(!col("cal")).crossJoin(broadcast(q))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_resid"), 1L).otherwise(0L)).as("n_covered"),
        max(col("q_resid")).as("q_resid"))
    test.crossJoin(broadcast(calN))
      .select(col("n_cal"), col("k"), col("q_resid"), col("n_test"),
        col("n_covered"),
        expr("(n_covered * 1000000L) div n_test").as("coverage_ppm"))
      .orderBy(col("n_cal"))
  }

  val conformalSql: String =
    """WITH resid AS (
      |  SELECT doc_id,
      |    abs(n_chars - 6 * len(string_split(text, ' '))) AS r,
      |    doc_id % 2 = 0 AS cal
      |  FROM documents),
      |cn AS (
      |  SELECT COUNT(*) AS n_cal,
      |    (9 * (COUNT(*) + 1) + 9) // 10 AS k
      |  FROM resid WHERE cal),
      |grid AS (
      |  SELECT r, COUNT(*) AS c,
      |    CAST(SUM(COUNT(*)) OVER (ORDER BY r
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM resid WHERE cal GROUP BY r),
      |q AS (
      |  SELECT CAST(MIN(r) AS BIGINT) AS q_resid
      |  FROM grid, cn WHERE cum >= k),
      |t AS (
      |  SELECT COUNT(*) AS n_test,
      |    CAST(SUM(CASE WHEN r <= q_resid THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |    MAX(q_resid) AS q_resid
      |  FROM resid, q WHERE NOT cal)
      |SELECT cn.n_cal, CAST(cn.k AS BIGINT) AS k, t.q_resid, t.n_test,
      |  t.n_covered,
      |  CAST((t.n_covered * 1000000) // t.n_test AS BIGINT) AS coverage_ppm
      |FROM t, cn ORDER BY n_cal""".stripMargin

  // ------------------------------------------------ k-anonymity census
  /** k-anonymity census over quasi-identifiers — the governance
    * complement of [[piiScrub]] (scrub removes DIRECT identifiers;
    * k-anonymity asks whether the remaining attribute COMBINATION
    * still singles a document out). Quasi-identifier here: (lang,
    * source, length bucket of 100 chars); a group is k-anonymous at
    * k = 5. Reports every equivalence class with its size, the flag,
    * and what the standard remedy (generalizing the length bucket
    * 100 → 500) would merge it into — so the table answers both "how
    * exposed are we" and "does one generalization step fix it". One
    * groupBy over derived columns — partial+final agg, no shuffle
    * beyond the class key at any corpus size.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOn(docs(spark, dir), k = 5)

  def kAnonymityOn(documents: DataFrame, k: Int): DataFrame = {
    val classes = documents
      .select(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n"))
    val coarse = classes
      .groupBy(col("lang"), col("source"),
        expr("len_bucket div 5").as("coarse_bucket"))
      .agg(sum(col("n")).as("n_coarse"))
    classes
      .withColumn("coarse_bucket", expr("len_bucket div 5"))
      .join(coarse, Seq("lang", "source", "coarse_bucket"))
      .select(col("lang"), col("source"), col("len_bucket"), col("n"),
        (col("n") < k).cast("long").as("below_k"),
        (col("n_coarse") < k).cast("long").as("below_k_coarse"))
      .orderBy(col("lang"), col("source"), col("len_bucket"))
  }

  val kAnonymitySql: String =
    """WITH c AS (
      |  SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT lang, source, len_bucket // 5 AS coarse_bucket,
      |    CAST(SUM(n) AS BIGINT) AS n_coarse
      |  FROM c GROUP BY 1, 2, 3)
      |SELECT c.lang, c.source, c.len_bucket, c.n,
      |  CAST(CASE WHEN c.n < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k,
      |  CAST(CASE WHEN g.n_coarse < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k_coarse
      |FROM c JOIN g ON c.lang = g.lang AND c.source = g.source
      |  AND c.len_bucket // 5 = g.coarse_bucket
      |ORDER BY c.lang, c.source, c.len_bucket""".stripMargin

  // ------------------------------------------------ l-diversity census
  /** l-diversity census — the follow-up question to [[kAnonymity]]:
    * a class can be k-anonymous yet still leak its SENSITIVE attribute
    * if every member shares one value (the homogeneity attack). Quasi-
    * identifiers here are (source, 100-char length bucket); the
    * sensitive attribute is `lang`. Reports each class's size, its
    * distinct-l, the dominant value's share (the recursive-(c,l)
    * ingredient), and the l < 2 homogeneity flag.
    *
    * Scale: one groupBy to (class × lang) counts, one more to fold the
    * per-class profile — both partial+final aggregates; the class table
    * is bounded by attribute cardinality, never corpus size.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityOn(docs(spark, dir))

  def lDiversityOn(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), expr("n_chars div 100").as("len_bucket"),
        col("lang"))
      .groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("l_distinct"),
        max(col("c")).as("top_c"))
      .select(col("source"), col("len_bucket"), col("n"), col("l_distinct"),
        expr("top_c * 1000000 div n").as("top_share_ppm"),
        (col("l_distinct") < 2).cast("long").as("below_l"))
      .orderBy(col("source"), col("len_bucket"))

  val lDiversitySql: String =
    """WITH cl AS (
      |  SELECT source, n_chars // 100 AS len_bucket, lang, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n,
      |  COUNT(*) AS l_distinct,
      |  CAST(MAX(c) * 1000000 // CAST(SUM(c) AS BIGINT) AS BIGINT)
      |    AS top_share_ppm,
      |  CAST(CASE WHEN COUNT(*) < 2 THEN 1 ELSE 0 END AS BIGINT) AS below_l
      |FROM cl GROUP BY 1, 2 ORDER BY source, len_bucket""".stripMargin

  // ------------------------------------------------ t-closeness census
  /** t-closeness census — the third privacy lens after [[kAnonymity]]
    * (class size) and [[lDiversity]] (distinct sensitive values): a
    * class can be large AND diverse yet still leak if its sensitive
    * DISTRIBUTION differs sharply from the corpus-wide one (the
    * skewness attack). For each (source, length-bucket) class this
    * reports the total-variation distance between the class's `lang`
    * distribution and the global one, in ppm:
    * tv = ½ Σ_l |p_class(l) − p_global(l)|, with both shares snapped to
    * the ppm grid first so the statistic is integer-exact cross-engine
    * and overflow-safe at any corpus size (no c×N cross-products).
    * Flagged at t = 0.2.
    *
    * Scale: two grouped aggregates to (class × lang) and class sizes;
    * the |langs|-row global distribution (window over ≤|langs| rows)
    * broadcasts onto the bounded class table — corpus rows are touched
    * exactly once.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    tClosenessOn(docs(spark, dir))

  def tClosenessOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = documents
      .select(col("source"), expr("n_chars div 100").as("len_bucket"),
        col("lang"))
      .groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val cls = cl.groupBy(col("source"), col("len_bucket"))
      .agg(sum(col("c")).as("n"))
    // global lang distribution: one row per language (bounded); the
    // unpartitioned window runs over that ≤|langs|-row table only
    val gl = documents.groupBy(col("lang")).agg(count(lit(1)).as("gc"))
      .withColumn("gn", sum(col("gc")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("lang"), expr("gc * 1000000 div gn").as("g_ppm"))
    cls.crossJoin(broadcast(gl))
      .join(cl, Seq("source", "len_bucket", "lang"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("diff", abs(expr("c * 1000000 div n") - col("g_ppm")))
      .groupBy(col("source"), col("len_bucket"))
      .agg(max(col("n")).as("n"), expr("sum(diff) div 2").as("tv_ppm"))
      .select(col("source"), col("len_bucket"), col("n"), col("tv_ppm"),
        (col("tv_ppm") > 200000L).cast("long").as("above_t"))
      .orderBy(col("source"), col("len_bucket"))
  }

  val tClosenessSql: String =
    """WITH cl AS (
      |  SELECT source, n_chars // 100 AS len_bucket, lang, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n
      |  FROM cl GROUP BY 1, 2),
      |gl AS (
      |  SELECT lang,
      |    CAST(COUNT(*) * 1000000 // CAST(SUM(COUNT(*)) OVER () AS BIGINT)
      |      AS BIGINT) AS g_ppm
      |  FROM documents GROUP BY 1),
      |grid AS (
      |  SELECT cls.source, cls.len_bucket, cls.n, gl.lang, gl.g_ppm,
      |    COALESCE(cl.c, 0) AS c
      |  FROM cls CROSS JOIN gl
      |  LEFT JOIN cl ON cl.source = cls.source
      |    AND cl.len_bucket = cls.len_bucket AND cl.lang = gl.lang)
      |SELECT source, len_bucket, n,
      |  CAST(SUM(abs(c * 1000000 // n - g_ppm)) // 2 AS BIGINT) AS tv_ppm,
      |  CAST(CASE WHEN CAST(SUM(abs(c * 1000000 // n - g_ppm)) // 2 AS BIGINT)
      |    > 200000 THEN 1 ELSE 0 END AS BIGINT) AS above_t
      |FROM grid GROUP BY 1, 2, 3 ORDER BY source, len_bucket""".stripMargin

  // ---------------------------------------- quality-score calibration
  /** Per-source quantile calibration of the quality score — the fix for
    * the classic mixing bug where one source's scorer runs hot and a
    * global threshold silently drains the others: each document's score
    * is replaced by its PERCENTILE WITHIN ITS SOURCE, so every source's
    * calibrated distribution is uniform by construction. The output is
    * the (source × decile) census under BOTH rankings — the raw column
    * shows the skew (hot sources pile into the top deciles), the
    * calibrated column is flat at n_source/10 per decile, which the spec
    * pins.
    *
    * Scale: the per-source rank is a source-partitioned window (shuffles
    * on source like any grouped op). The GLOBAL raw rank uses the
    * distributed-rank decomposition ([[classifierLiftOn]]'s shape): per-
    * score counts → prefix offsets over the DISTINCT score values (a
    * window over score cardinality, not corpus rows) + a score-
    * partitioned row_number, with the 1-row total broadcast.
    */
  def qualityCalibrate(spark: SparkSession, dir: String): DataFrame =
    qualityCalibrateOn(docs(spark, dir))

  def qualityCalibrateOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = qualityScoreOn(documents).select(col("doc_id"), col("quality_logit"))
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality_logit"), col("doc_id"))
    val cal = s
      .withColumn("r_s", row_number().over(wSrc))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("decile", expr("(r_s - 1) * 10 div n_s"))
      .groupBy(col("source"), col("decile")).agg(count(lit(1)).as("n_cal"))
    val offs = s.groupBy(col("quality_logit")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("quality_logit"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = s.agg(count(lit(1)).as("n_total"))
    val wIn = Window.partitionBy(col("quality_logit")).orderBy(col("doc_id"))
    val raw = s
      .join(broadcast(offs.select(col("quality_logit"), col("off"))),
        "quality_logit")
      .withColumn("r", col("off") + row_number().over(wIn))
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("(r - 1) * 10 div n_total"))
      .groupBy(col("source"), col("decile")).agg(count(lit(1)).as("n_raw"))
    raw.join(cal, Seq("source", "decile"), "full_outer")
      .select(col("source"), col("decile"),
        coalesce(col("n_raw"), lit(0L)).as("n_raw"),
        coalesce(col("n_cal"), lit(0L)).as("n_cal"))
      .orderBy(col("source"), col("decile"))
  }

  val qualityCalibrateSql: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS ttr,
      |    CAST(len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    CAST(list_aggregate(list_transform(string_split(text, ' '),
      |        x -> CAST(length(x) AS INT)), 'sum') AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_tok_len
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source,
      |    round(-2.5 + n_tokens * 0.01 + ttr * 1.5 + stop_ratio * 6.0
      |      + mean_tok_len * 0.08, 6) AS q
      |  FROM f),
      |rk AS (
      |  SELECT source,
      |    (row_number() OVER (PARTITION BY source ORDER BY q, doc_id) - 1)
      |      * 10 // COUNT(*) OVER (PARTITION BY source) AS cal_decile,
      |    (row_number() OVER (ORDER BY q, doc_id) - 1)
      |      * 10 // COUNT(*) OVER () AS raw_decile
      |  FROM s),
      |a AS (SELECT source, raw_decile AS decile, COUNT(*) AS n_raw
      |      FROM rk GROUP BY 1, 2),
      |b AS (SELECT source, cal_decile AS decile, COUNT(*) AS n_cal
      |      FROM rk GROUP BY 1, 2)
      |SELECT COALESCE(a.source, b.source) AS source,
      |  CAST(COALESCE(a.decile, b.decile) AS BIGINT) AS decile,
      |  CAST(COALESCE(n_raw, 0) AS BIGINT) AS n_raw,
      |  CAST(COALESCE(n_cal, 0) AS BIGINT) AS n_cal
      |FROM a FULL OUTER JOIN b
      |  ON a.source = b.source AND a.decile = b.decile
      |ORDER BY source, decile""".stripMargin

  // ------------------------------------- token-budget APPLY (epochs)
  /** The APPLY side of [[tokenBudget]]: turn each source's allocation
    * into per-document COPY COUNTS — whole epochs for everyone plus a
    * hash-thresholded fractional tail (doc repeats ⌊rate⌋ times, +1 iff
    * the low 20 bits of splitmix64(doc_id) fall under the fractional
    * remainder) — exactly how a training run realizes "1.7 epochs of
    * source X": deterministic, replay-safe on any cluster size, no
    * sampling state. Same plan→apply split as [[mixThresholds]]/
    * [[mixApply]], so the decision for a document needs only its own
    * (doc_id, source) plus the broadcast |sources|-row plan, and the
    * apply lifts into an ingest stream unchanged. Achieved tokens land
    * within one document of each source's quota (ExtSpec pins the
    * copies ∈ {⌊rate⌋, ⌈rate⌉} invariant). The 2²⁰-scaled rate is
    * BIGINT-safe to ~8×10¹² allocated tokens per source; past that a
    * production plan pre-divides before scaling (same note as
    * [[mixTemperature]]).
    */
  def tokenBudgetApply(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetApplyOn(docs(spark, dir))

  def tokenBudgetApplyOn(documents: DataFrame): DataFrame =
    tokenBudgetApplyWith(documents, tokenBudgetPlanOf(documents))
      .orderBy(col("doc_id"))

  /** The plan half: per-source 2²⁰-scaled copy rates from a corpus
    * snapshot — the planning artifact the ingest twin broadcasts. */
  def tokenBudgetPlanOf(documents: DataFrame): DataFrame =
    tokenBudgetOn(documents)
      .select(col("source"),
        expr("alloc_final * 1048576 div n_tokens").as("rate"))

  /** The apply half — batch or streaming alike (stateless: broadcast
    * the |sources|-row plan, per-row integer copy count). */
  def tokenBudgetApplyWith(docs: DataFrame, plan: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(plan), "source")
      .select(col("doc_id"), col("source"),
        (expr("rate div 1048576") +
          (expr("pmod(mix64(doc_id), 1048576)") < expr("rate % 1048576"))
            .cast("long")).as("n_copies"))
  }

  val tokenBudgetApplySql: String = {
    // the plan CTEs are tokenBudgetSql's, re-expressed to end in a rate
    val planCtes =
      """n AS (
        |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tok,
        |    CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS wt FROM n),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total,
        |    CAST(SUM(wt) AS BIGINT) AS sw FROM w),
        |alloc AS (
        |  SELECT source, n_tok, wt,
        |    t.total // 3 AS budget,
        |    t.total // 3 * wt // t.sw AS raw,
        |    n_tok * 2 AS cap,
        |    CASE WHEN t.total // 3 * wt // t.sw > n_tok * 2 THEN 1 ELSE 0 END AS capped,
        |    least(t.total // 3 * wt // t.sw, n_tok * 2) AS c
        |  FROM w CROSS JOIN tot t),
        |redo AS (SELECT CAST(MIN(budget) - SUM(c) AS BIGINT) AS leftover,
        |    CAST(SUM(CASE WHEN capped = 0 THEN wt ELSE 0 END) AS BIGINT) AS sw_u
        |  FROM alloc),
        |plan AS (
        |  SELECT a.source,
        |    least(a.c + CASE WHEN a.capped = 1 OR r.sw_u = 0 THEN 0
        |      ELSE r.leftover * a.wt // r.sw_u END, a.cap)
        |      * 1048576 // a.n_tok AS rate
        |  FROM alloc a CROSS JOIN redo r)""".stripMargin
    s"""WITH $planCtes,
       |hx AS (
       |  SELECT doc_id, source,
       |    (CAST(doc_id AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS z0,
       |    xor(z0, z0 >> 30) AS x1,
       |    (((x1 * 3210233709) % 4294967296) * 4294967296 + x1 * 484763065) % 18446744073709551616 AS z1,
       |    xor(z1, z1 >> 27) AS x2,
       |    (((x2 * 2496678331) % 4294967296) * 4294967296 + x2 * 321982955) % 18446744073709551616 AS z2,
       |    xor(z2, z2 >> 31) AS z3,
       |    CAST(z3 % 1048576 AS BIGINT) AS low20
       |  FROM documents)
       |SELECT h.doc_id, h.source,
       |  p.rate // 1048576
       |    + CASE WHEN h.low20 < p.rate % 1048576 THEN 1 ELSE 0 END AS n_copies
       |FROM hx h JOIN plan p USING (source) ORDER BY h.doc_id""".stripMargin
  }

  // --------------------------------------- tokenizer fertility by lang
  /** Tokenizer fertility per language — the fairness table a tokenizer
    * change is audited by (Petrov et al. 2023: languages whose text
    * fragments into more subword tokens pay more compute and fit less
    * context per sentence). Fertility here is BPE-ish regex tokens per
    * whitespace word, and compression is chars per BPE-ish token, both
    * in integer basis points over per-language EXACT sums (never means
    * of ratios — the per-doc mean of a ratio is the classic weighted/
    * unweighted bug this table exists to avoid). One scan, one
    * |langs|-group partial agg; every division is BIGINT-over-BIGINT
    * with nonnegative operands.
    */
  def fertilityByLang(spark: SparkSession, dir: String): DataFrame =
    fertilityByLangOn(docs(spark, dir))

  def fertilityByLangOn(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))")
          .cast("long").as("nb"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("nb")).as("n_bpe"), sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_bpe"),
        expr("n_bpe * 10000 div n_tokens").as("fertility_bp"),
        expr("n_chars * 10000 div n_bpe").as("chars_per_bpe_bp"))
      .orderBy(col("lang"))

  val fertilityByLangSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS nb,
      |    CAST(length(text) AS BIGINT) AS nc
      |  FROM documents),
      |g AS (SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |    CAST(SUM(nb) AS BIGINT) AS n_bpe,
      |    CAST(SUM(nc) AS BIGINT) AS n_chars
      |  FROM d GROUP BY 1)
      |SELECT lang, n_docs, n_tokens, n_bpe,
      |  n_bpe * 10000 // n_tokens AS fertility_bp,
      |  n_chars * 10000 // n_bpe AS chars_per_bpe_bp
      |FROM g ORDER BY lang""".stripMargin

  // ------------------------------------------------- Heaps'-law curve
  /** Heaps'-law vocabulary growth curve: cumulative distinct-token count
    * against cumulative corpus size at 10 ingestion checkpoints (equal-
    * width slices of the doc_id range — ids are the arrival order in
    * this corpus). The curve's flattening rate is how a crawl decides
    * whether more of the same source still buys new vocabulary. Scale
    * shape: each token's FIRST document (min doc_id, one explode +
    * map-side-combinable min) and each document's token count are both
    * bucketed into their checkpoint by pure arithmetic — no global
    * rank/ntile window over the corpus, no 10× duplication of the scan;
    * the running totals fold over the 10-row checkpoint grid only.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame =
    heapsLawOn(docs(spark, dir))

  def heapsLawOn(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = documents.withColumn("w", split(col("text"), " "))
    val bounds = d.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
    // integer div (operands nonnegative, so truncate == floor on both engines)
    def bucket(c: String) = expr(s"1L + ($c - lo) * 10L div span")
    val perDoc = d.select(col("doc_id"), size(col("w")).cast("long").as("nt"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucket("doc_id").as("k"))
      .agg(count(lit(1)).as("nd"), sum(col("nt")).as("ntok"))
    val firsts = d.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy(col("t")).agg(min(col("doc_id")).as("f"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucket("f").as("k")).agg(count(lit(1)).as("nv"))
    // 10-row grid; the running sums fold over it alone (bounded frame)
    val grid = documents.sparkSession.range(1, 11).select(col("id").as("k"))
    val wc = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
    grid.join(perDoc, Seq("k"), "left").join(firsts, Seq("k"), "left")
      .select(col("k").as("decile"),
        sum(coalesce(col("nd"), lit(0L))).over(wc).as("n_docs_cum"),
        sum(coalesce(col("ntok"), lit(0L))).over(wc).as("n_tokens_cum"),
        sum(coalesce(col("nv"), lit(0L))).over(wc).as("vocab_cum"))
      .orderBy(col("decile"))
  }

  val heapsLawSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) - MIN(doc_id) + 1 AS span FROM d),
      |pd AS (
      |  SELECT 1 + (doc_id - b.lo) * 10 // b.span AS k,
      |    CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(len(w)) AS BIGINT) AS ntok
      |  FROM d CROSS JOIN b GROUP BY 1),
      |fs AS (SELECT t, MIN(doc_id) AS f FROM (SELECT doc_id, unnest(w) AS t FROM d) GROUP BY 1),
      |fv AS (
      |  SELECT 1 + (f - b.lo) * 10 // b.span AS k, CAST(COUNT(*) AS BIGINT) AS nv
      |  FROM fs CROSS JOIN b GROUP BY 1),
      |grid AS (SELECT unnest(generate_series(1, 10)) AS k)
      |SELECT CAST(g.k AS BIGINT) AS decile,
      |  CAST(SUM(COALESCE(pd.nd, 0)) OVER (ORDER BY g.k) AS BIGINT) AS n_docs_cum,
      |  CAST(SUM(COALESCE(pd.ntok, 0)) OVER (ORDER BY g.k) AS BIGINT) AS n_tokens_cum,
      |  CAST(SUM(COALESCE(fv.nv, 0)) OVER (ORDER BY g.k) AS BIGINT) AS vocab_cum
      |FROM grid g LEFT JOIN pd ON g.k = pd.k LEFT JOIN fv ON g.k = fv.k
      |ORDER BY decile""".stripMargin

  // ------------------------------------------------ n-gram novelty score
  /** Per-document 5-gram NOVELTY — the memorization/boilerplate screen a
    * training-data pipeline runs beside dedup: a document whose distinct
    * word 5-grams mostly FIRST occur in an earlier document (by doc_id,
    * the corpus's stable ingestion order) is recombined boilerplate even
    * when no single pair passes a dedup threshold. novelty_ppm = share
    * of the doc's distinct 5-grams whose global first occurrence is the
    * doc itself. Shares [[overlapCorpusGrams]]'s extraction (and its
    * short-doc guard) with the contamination-span operator.
    *
    * Scale: the only corpus-size shuffle is gram-keyed (the inverted-
    * index shape the dedup family already uses); first occurrence is a
    * MIN with full map-side combine, and the per-doc rollup shuffles
    * (doc_id, flag) pairs — never text. No window, no self-join.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyOn(docs(spark, dir))

  def ngramNoveltyOn(documents: DataFrame): DataFrame = {
    val g = overlapCorpusGrams(documents, 5)
      .select(col("doc_id"), col("gram")).distinct()
    val first = g.groupBy(col("gram")).agg(min(col("doc_id")).as("fd"))
    g.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_grams"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      |  WHERE len(w) >= 5),
      |fo AS (SELECT gram, MIN(doc_id) AS fd FROM grams GROUP BY 1)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST((SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) * 1000000)
      |    // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM grams g JOIN fo f USING (gram)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ vocabulary overlap
  /** Pairwise vocabulary overlap between corpus SOURCES — the mixing
    * diagnostic run before blending corpora: two sources whose word
    * vocabularies barely intersect need their own tokenizer coverage
    * checks, while near-identical vocabularies suggest one is a scrape
    * of the other. Exact Jaccard over distinct words per source, with
    * the intersection counted by a WORD-KEYED aggregate: each distinct
    * word contributes its source-pair combinations (≤ |sources|² per
    * word, |sources| is small by construction), so there is no
    * vocab×vocab join anywhere.
    *
    * Scale: (word, source) dedup is the only corpus-size shuffle;
    * everything after lives on ≤|vocab| rows keyed by word, then the
    * ≤|sources|² grid.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ws = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val sizes = ws.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = ws.as("a").join(ws.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("source").as("sa"), col("v").as("va")), "sa")
      .join(sizes.select(col("source").as("sb"), col("v").as("vb")), "sb")
      .withColumn("jaccard_ppm", expr("(i * 1000000L) div (va + vb - i)"))
      .select(col("sa"), col("sb"), col("va"), col("vb"), col("i"),
        col("jaccard_ppm"))
      .orderBy(col("sa"), col("sb"))
  }

  val vocabOverlapSql: String =
    """WITH ws AS (
      |  SELECT DISTINCT source, w
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> ''),
      |sizes AS (SELECT source, COUNT(*) AS v FROM ws GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS i
      |  FROM ws a JOIN ws b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, x.v AS va, y.v AS vb, i,
      |  CAST((i * 1000000) // (x.v + y.v - i) AS BIGINT) AS jaccard_ppm
      |FROM inter JOIN sizes x ON sa = x.source
      |           JOIN sizes y ON sb = y.source
      |ORDER BY sa, sb""".stripMargin

  // --------------------------------- Jensen–Shannon source divergence
  /** Pairwise Jensen–Shannon divergence between the unigram token
    * distributions of every source pair — the symmetric, bounded
    * (≤ ln 2) corpus-mixing diagnostic: [[vocabOverlap]] asks "do two
    * sources share WORDS", JSD asks "do they share a DISTRIBUTION"
    * (two sources can share every word and still diverge hard on
    * frequencies — boilerplate vs prose). Exact fixed point on the
    * 10⁻⁶ ln grid ([[dsirSampleOn]]'s convention): with per-source
    * word counts a_w (total T_A), b_w (T_B), the P-half term ×10⁶ is
    *
    *   a_w · [lnfp(2·a_w·T_B) − lnfp(a_w·T_B + b_w·T_A)]
    *
    * and JSD_ppm = (Σ_P div T_A + Σ_Q div T_B) div 2. A word present
    * in only one source of the pair contributes the closed form
    * c·ln2_fp (m = p/2), folded in WITHOUT a second join as
    * (T − Σ_shared c)·693147 — so one inner pair join covers the full
    * outer semantics. Every ln argument is an exact BIGINT < 2⁵³
    * (doubles hold it exactly — both engines grid identically); the
    * two KL halves are ≥ 0, so jsd_ppm ∈ [0, 693147]. Scale shape:
    * one (source, word) aggregate over the corpus; the pair stream
    * fans a word out only to source pairs that contain it (the
    * [[vocabOverlap]] inverted-pair shape, ≤ C(sources,2) per word);
    * totals are a |sources|-row broadcast; ONE partial+final aggregate
    * on the pair key carries all five running sums.
    */
  def jsdSources(spark: SparkSession, dir: String): DataFrame =
    jsdSourcesOn(docs(spark, dir))

  def jsdSourcesOn(documents: DataFrame): DataFrame = {
    // staged like sourceDivergenceOn: totals + both self-join sides
    val wc = graft.engine.Materialize.stage(documents
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val a = wc.join(broadcast(tot), "source")
      .select(col("source").as("sa"), col("w"), col("c").as("ca"),
        col("t").as("ta"))
    val b = wc.join(broadcast(tot), "source")
      .select(col("source").as("sb"), col("w").as("wb"), col("c").as("cb"),
        col("t").as("tb"))
    val lnfp = (x: String) =>
      s"cast(round(ln(cast($x as double)) * 1000000.0d) as bigint)"
    a.join(b, col("w") === col("wb") && col("sa") < col("sb"))
      .select(col("sa"), col("sb"), col("ca"), col("cb"),
        col("ta"), col("tb"),
        expr(s"ca * (${lnfp("2L * ca * tb")} - ${lnfp("ca * tb + cb * ta")})")
          .as("tp"),
        expr(s"cb * (${lnfp("2L * cb * ta")} - ${lnfp("ca * tb + cb * ta")})")
          .as("tq"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("tp")).as("sp"), sum(col("tq")).as("sq"),
        sum(col("ca")).as("ca_sh"), sum(col("cb")).as("cb_sh"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_shared"),
        expr("((sp + (ta - ca_sh) * 693147L) div ta " +
          "+ (sq + (tb - cb_sh) * 693147L) div tb) div 2L").as("jsd_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val jsdSourcesSql: String =
    """WITH wc AS (
      |  SELECT source, w, COUNT(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM wc GROUP BY 1),
      |pr AS (
      |  SELECT a.source AS sa, b.source AS sb,
      |    a.c AS ca, ta.t AS ta, b.c AS cb, tb.t AS tb
      |  FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source),
      |agg AS (
      |  SELECT sa, sb, COUNT(*) AS n_shared,
      |    CAST(SUM(ca * (CAST(round(ln(CAST(2 * ca * tb AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      - CAST(round(ln(CAST(ca * tb + cb * ta AS DOUBLE)) * 1000000.0) AS BIGINT))) AS BIGINT) AS sp,
      |    CAST(SUM(cb * (CAST(round(ln(CAST(2 * cb * ta AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      - CAST(round(ln(CAST(ca * tb + cb * ta AS DOUBLE)) * 1000000.0) AS BIGINT))) AS BIGINT) AS sq,
      |    CAST(SUM(ca) AS BIGINT) AS ca_sh, CAST(SUM(cb) AS BIGINT) AS cb_sh,
      |    MAX(ta) AS ta, MAX(tb) AS tb
      |  FROM pr GROUP BY 1, 2)
      |SELECT sa AS source_a, sb AS source_b, n_shared,
      |  ((sp + (ta - ca_sh) * 693147) // ta
      |    + (sq + (tb - cb_sh) * 693147) // tb) // 2 AS jsd_ppm
      |FROM agg ORDER BY source_a, source_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_jsd_sources" -> (jsdSources _),
    "text_vocab_overlap" -> (vocabOverlap _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "text_gopher_rules" -> (gopherRules _),
    "text_token_budget" -> (tokenBudget _),
    "text_token_budget_apply" -> (tokenBudgetApply _),
    "text_heaps_law" -> (heapsLaw _),
    "text_fertility_by_lang" -> (fertilityByLang _),
    "text_k_anonymity" -> (kAnonymity _),
    "text_l_diversity" -> (lDiversity _),
    "text_t_closeness" -> (tCloseness _),
    "text_quality_calibrate" -> (qualityCalibrate _),
    "text_bm25_topk" -> (bm25TopK _),
    "text_bm25_ndcg" -> (bm25Ndcg _),
    "text_conformal" -> (conformal _),
    "text_rake_keywords" -> (rakeKeywords _),
    "text_classifier_lift" -> (classifierLift _),
    "text_vocab_coverage" -> (vocabCoverage _),
    "text_burstiness" -> (burstiness _),
    "text_source_divergence" -> (sourceDivergence _),
    "text_boilerplate_prefix" -> (boilerplatePrefix _),
    "text_stopword_candidates" -> (stopwordCandidates _),
    "text_length_profile" -> (lengthProfile _),
    "text_split_stratified" -> (splitStratified _),
    "pipeline_curate" -> (curate _),
    "pipeline_health" -> (health _),
    "text_span_corrupt" -> (spanCorrupt _),
    "text_heavy_hitters" -> (heavyHitters _),
    "text_sample_per_group" -> (samplePerGroup _),
    "text_quality_filter" -> (qualityFilter _),
    "text_quality_score" -> (qualityScore _),
    "text_classifier_hashed" -> (classifierHashed _),
    "text_bpe_learn" -> (bpeLearn _),
    "text_bpe_tokenize" -> (bpeTokenize _),
    "text_shard_shuffle" -> (shardShuffle _),
    "text_lm_surprisal" -> (lmSurprisal _),
    "text_dsir_sample" -> (dsirSample _),
    "text_winnow_pairs" -> (winnowPairs _),
    "text_ccnet_terciles" -> (ccnetTerciles _),
    "text_pmi_collocations" -> (pmiCollocations _),
    "text_tfidf" -> (tfidf _),
    "text_stats" -> (stats _),
    "text_langid" -> (langId _),
    "text_langid_confusion" -> (langIdConfusion _),
    "text_fingerprint" -> (fingerprint _),
    "text_top_ngrams" -> (topNgrams _),
    "text_contamination" -> (contamination _),
    "text_overlap_span" -> (overlapSpans _),
    "text_chunk_pack" -> (chunkPack _),
    "text_pii_scrub" -> (piiScrub _),
    "text_weighted_sample" -> (weightedSample _),
    "text_mix_temperature" -> (mixTemperature _),
    "text_repetition" -> (repetition _),
    "text_contamination_bloom" -> (contaminationBloom _))

  val oracles: Map[String, String] = Map(
    "text_jsd_sources" -> jsdSourcesSql,
    "text_vocab_overlap" -> vocabOverlapSql,
    "text_ngram_novelty" -> ngramNoveltySql,
    "text_gopher_rules" -> gopherRulesSql,
    "text_token_budget" -> tokenBudgetSql,
    "text_token_budget_apply" -> tokenBudgetApplySql,
    "text_heaps_law" -> heapsLawSql,
    "text_fertility_by_lang" -> fertilityByLangSql,
    "text_k_anonymity" -> kAnonymitySql,
    "text_l_diversity" -> lDiversitySql,
    "text_t_closeness" -> tClosenessSql,
    "text_quality_calibrate" -> qualityCalibrateSql,
    "text_bm25_topk" -> bm25TopKSql,
    "text_bm25_ndcg" -> bm25NdcgSql,
    "text_conformal" -> conformalSql,
    "text_rake_keywords" -> rakeKeywordsSql,
    "text_classifier_lift" -> classifierLiftSql,
    "text_vocab_coverage" -> vocabCoverageSql,
    "text_burstiness" -> burstinessSql,
    "text_source_divergence" -> sourceDivergenceSql,
    "text_boilerplate_prefix" -> boilerplatePrefixSql,
    "text_stopword_candidates" -> stopwordCandidatesSql,
    "text_length_profile" -> lengthProfileSql,
    "text_split_stratified" -> splitStratifiedSql,
    "pipeline_curate" -> curateSql,
    "pipeline_health" -> healthSql,
    "text_span_corrupt" -> spanCorruptSql,
    "text_heavy_hitters" -> heavyHittersSql,
    "text_sample_per_group" -> samplePerGroupSql,
    "text_quality_filter" -> qualityFilterSql,
    "text_quality_score" -> qualityScoreSql,
    "text_classifier_hashed" -> classifierHashedSql,
    "text_bpe_learn" -> bpeLearnSqlFor(4),
    "text_bpe_tokenize" -> bpeTokenizeSqlFor(4),
    "text_shard_shuffle" -> shardShuffleSql,
    "text_lm_surprisal" -> lmSurprisalSql,
    "text_dsir_sample" -> dsirSampleSql,
    "text_winnow_pairs" -> winnowPairsSql,
    "text_ccnet_terciles" -> ccnetTercilesSql,
    "text_pmi_collocations" -> pmiCollocationsSql,
    "text_tfidf" -> tfidfSql,
    "text_stats" -> statsSql,
    "text_langid" -> langIdSql,
    "text_langid_confusion" -> langIdConfusionSql,
    "text_fingerprint" -> fingerprintSql,
    "text_top_ngrams" -> topNgramsSql,
    "text_contamination" -> contaminationSql,
    "text_overlap_span" -> overlapSpansSql,
    "text_chunk_pack" -> chunkPackSql,
    "text_pii_scrub" -> piiScrubSql,
    "text_weighted_sample" -> weightedSampleSql,
    "text_mix_temperature" -> mixTemperatureSql,
    "text_repetition" -> repetitionSql,
    // bloom prefilter + exact verify is semantically exact (no false
    // negatives), so the bloom form shares the exact oracle verbatim
    "text_contamination_bloom" -> contaminationSql)
}
