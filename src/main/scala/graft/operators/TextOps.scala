package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis over the `documents` corpus: the reference's text jobs
  * (ref: src/examples/org/apache/hadoop/examples/WordCount.java:1,
  * Grep.java:1, AggregateWordCount.java:1; src/mapred/org/apache/
  * hadoop/mapred/lib/TokenCountMapper.java:1, RegexMapper.java:1;
  * contrib/index distributed index build) plus the LLM-pipeline text
  * operators (SURVEY.md §2.6): language ID, quality scoring, token
  * counting, winnowing fingerprints.
  *
  * All tokenization flows through one normalization expression so every
  * operator (and its DuckDB oracle) agrees byte-for-byte.
  */
object TextOps {

  /** lower → strip non-alnum → collapse runs of spaces → trim.
    * (DuckDB twin needs the 'g' flag on regexp_replace.) */
  val normExpr: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"

  /** SQL expr: word n-grams of a token-array column `tk`. Documents
    * shorter than n yield ONE possibly-padded gram (concat_ws skips
    * the null tails) — the `greatest(..., 1)` fallback every DuckDB
    * oracle mirrors; shared by shingles (n=3), repetition (n=3) and
    * bigramRarity (n=2) so the short-doc semantics cannot drift. */
  def ngramExpr(n: Int): String = {
    val parts = (0 until n).map(j => s"try_element_at(tk, i + $j)").mkString(", ")
    s"transform(sequence(1, greatest(size(tk) - ${n - 1}, 1)), i -> concat_ws(' ', $parts))"
  }

  /** doc_id + deduplicated whitespace tokens of the normalized text. */
  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normExpr), " ")).as("word"))
      .filter(col("word") =!= "")

  /** WordCount: flatMap tokens → count per word. Partial aggregation =
    * the reference's combiner. */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Grep: count regex matches (ref: examples/Grep.java runs RegexMapper
    * then aggregates counts). */
  def grep(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(text, '(s[a-z]+)', 1)")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("cnt"))

  /** Inverted index: word → posting stats (ref: contrib/index — the
    * Lucene shard build; here the partition-friendly posting table). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    tokens(spark, dir)
      .groupBy("word")
      .agg(countDistinct(col("doc_id")).as("ndocs"),
        count(lit(1)).as("tf"),
        min(col("doc_id")).as("first_doc"))

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des"),
    "es" -> Seq("el", "la", "de", "y", "un", "los", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "von", "zu"))

  private[operators] def hitsExpr(lang: String): String = {
    val set = stop(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter(toks, t -> t IN ($set)))"
  }

  /** Stopword-hit language ID: score each language's stopword list
    * against the token bag, argmax with a fixed preference order. */
  def langid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(expr(normExpr), " "))
      .select(col("doc_id"),
        expr(hitsExpr("en")).as("en_hits"), expr(hitsExpr("fr")).as("fr_hits"),
        expr(hitsExpr("es")).as("es_hits"), expr(hitsExpr("de")).as("de_hits"))
      .withColumn("pred_lang",
        expr("""CASE WHEN en_hits >= fr_hits AND en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
               |     WHEN fr_hits >= es_hits AND fr_hits >= de_hits THEN 'fr'
               |     WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END""".stripMargin))

  /** Quality scoring: length/stopword/digit/punct ratios combined into
    * a [0,1] score. Every ratio is exact-int / exact-int so the oracle
    * agrees bitwise. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("nrm", expr(normExpr))
      .withColumn("toks", expr("filter(split(nrm, ' '), x -> x <> '')"))
      .withColumn("n_tokens", expr("size(toks)"))
      .withColumn("nt1", expr("greatest(n_tokens, 1)"))
      .withColumn("en_hits", expr(hitsExpr("en")))
      .select(col("doc_id"), col("n_tokens"),
        expr("cast(length(nrm) - (n_tokens - 1) as double) / nt1").as("avg_tok_len"),
        expr("cast(en_hits as double) / nt1").as("stop_ratio"),
        expr("cast(length(text) - length(regexp_replace(text, '[0-9]', '')) as double) / greatest(length(text), 1)").as("digit_ratio"),
        expr("cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '')) as double) / greatest(length(text), 1)").as("punct_ratio"),
        expr("cast(en_hits as double) / nt1 * 0.5 + least(cast(n_tokens as double) / 100.0, 1.0) * 0.5").as("score"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letters / digits / single punctuation marks). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 1))").as("bpe_tokens"))

  /** TF-IDF-style top terms per document. Scoring is the integer
    * rarity-weighted frequency `tf * 10^6 div df` — monotone in tf/df
    * like tf-idf but exact-arithmetic, so ranks are engine-portable
    * (a log-based idf would hinge on libm rounding). Two shuffles
    * total: (doc,word) tf and word df; the df side re-joins on word. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = tokens(spark, dir)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word")
      .withColumn("score", expr("tf * 1000000 div df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "rk", "word", "score")
  }

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before anything else: emails, long digit runs (phone/account
    * numbers) and URLs replaced with typed placeholder tokens. Pure
    * regexp_replace chain → codegen'd, map-side, pushdown-friendly.
    * Counts are emitted per doc so the scrub is auditable. */
  def redact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', 0))").as("n_emails"),
        expr("size(regexp_extract_all(text, '[0-9]{7,}', 0))").as("n_longnums"),
        expr("size(regexp_extract_all(text, 'https?://[^ ]+', 0))").as("n_urls"),
        expr("""regexp_replace(regexp_replace(regexp_replace(text,
               |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>'),
               |  'https?://[^ ]+', '<URL>'),
               |  '[0-9]{7,}', '<NUM>')""".stripMargin).as("clean"))

  /** Context-window chunking: split each document's token stream into
    * fixed-size windows with overlap — the training-example shaping
    * step. One explode per doc (rows = ceil(tokens/stride)), window
    * text rebuilt by slice+join so chunk boundaries are exact. */
  def chunk(spark: SparkSession, dir: String,
    window: Int = 64, stride: Int = 48): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(s"filter(split($normExpr, ' '), x -> x <> '')").as("tk"))
      .filter(expr("size(tk) > 0"))
      .select(col("doc_id"), col("tk"),
        explode(expr(
          s"sequence(0, cast(greatest(ceil((size(tk) - $window) / $stride.0), 0) as int))")).as("w"))
      .select(col("doc_id"), col("w").as("chunk_no"),
        expr(s"size(slice(tk, w * $stride + 1, $window))").as("n_tokens"),
        expr(s"substring(md5(cast(array_join(slice(tk, w * $stride + 1, $window), ' ') as binary)), 1, 16)").as("chunk_sig"))

  /** Repetition detection (the Gopher/RefinedWeb quality rule): the
    * fraction of the document covered by its most frequent 3-gram.
    * Exact integer ratio — top3_cnt * 10^6 div n_grams — so the score
    * is engine-portable; high values flag boilerplate/spam. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(expr(normExpr), " ").as("tk"))
      .select(col("doc_id"), explode(expr(ngramExpr(3))).as("g"))
    grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_cnt"), sum("c").as("n_grams"))
      .select(col("doc_id"), col("top_cnt"), col("n_grams"),
        expr("top_cnt * 1000000 div n_grams").as("rep_ppm"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones): score the corpus
    * against a bag-of-words query with the standard k1/b saturation and
    * length normalization. Distributed shape: tf table ⋈ broadcast
    * per-term idf ⋈ broadcast (avgdl scalar), one groupBy(doc) — no
    * driver-side scoring.
    *
    * Oracle-portability: idf uses ln, whose last bits are libm-
    * dependent, so the float score itself is NOT emitted. The output is
    * the RANK plus exact-integer surrogates (tf_sum, n_terms, dl).
    * Exact score ties (identical tf vector and dl) resolve identically
    * in both engines via the doc_id tiebreaker; distinct scores could
    * in principle flip only if they sit within the few-ulp cross-libm
    * slack of ln, which for real tf/dl distributions is vanishingly
    * rare (scores differ at the 1e-2 scale vs 1e-16 noise) — the
    * residual risk accepted for a hash-checkable BM25. Same trick as
    * `tfidf`'s integer score. */
  def bm25(spark: SparkSession, dir: String,
    query: Seq[String] = Seq("spark", "data", "system"),
    k1: Double = 1.2, b: Double = 0.75, topN: Int = 20): DataFrame = {
    // TWO corpus tokenizes, one per subtree: per-doc length AND
    // per-query-term counts ride the single `perDoc` aggregate (the
    // query is a literal term list, so the tf counts pivot into one
    // column per term and unpivot back to (word, tf) rows
    // afterwards), and `perDoc` feeds two subtrees — the broadcast
    // corpus-stats row and the tf rows — each of which plans its own
    // tokenize of the corpus. The previous shape tokenized
    // the corpus THREE times — the tf pass, the avgdl pass and the
    // dl-join pass each re-ran Generate over documents — and then
    // joined the doc-scale dl table back onto tf (a broadcast only
    // while dl is small; at corpus scale it is a full shuffle join).
    // Here dl is carried on the row, so scan, shuffle and join all
    // collapse. Values are bit-identical: sum(when(word = t)) is the
    // filtered groupBy count, and every score expression is unchanged.
    val q = query.distinct
    val perDoc = tokens(spark, dir).groupBy("doc_id").agg(
      count(lit(1)).as("dl"),
      q.zipWithIndex.map { case (t, i) =>
        sum(when(col("word") === t, 1L).otherwise(0L)).as(s"_tf$i")
      }: _*)
    // corpus scalars stay in the plan as broadcast 1-row frames — no
    // driver-side collect, one lazy DAG end to end. Per-term document
    // frequency rides the SAME 1-row aggregate as avgdl (df of term i
    // = docs with _tf$i > 0 — identical to countDistinct(doc_id) over
    // the tf rows, which are unique per (doc, word)), so the old
    // separate df subtree — which re-tokenized the corpus a third
    // time — folds away; tf rows pick their df from the broadcast row
    // by a CASE over the literal term list.
    val stats = perDoc.agg(
      avg(col("dl").cast("double")).as("avgdl"),
      q.zipWithIndex.map { case (_, i) =>
        sum(when(col(s"_tf$i") > 0L, 1L).otherwise(0L)).as(s"_df$i")
      }: _*)
      .crossJoin(Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs")))
    val tf = perDoc.select(col("doc_id"), col("dl"),
      explode(array(q.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("word"), col(s"_tf$i").as("tf"))
      }: _*)).as("_wt"))
      .select(col("doc_id"), col("dl"),
        col("_wt.word").as("word"), col("_wt.tf").as("tf"))
      .filter(col("tf") > 0L)
    val dfCol = q.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (t, i)) => when(col("word") === t, col(s"_df$i"))
        .otherwise(acc)
    }
    val scored = tf
      .crossJoin(broadcast(stats))
      .withColumn("df", dfCol)
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score",
        col("idf") * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("term_score").as("score"), sum("tf").as("tf_sum"),
        count(lit(1)).as("n_terms"), max("dl").as("dl"))
    // TakeOrderedAndProject keeps the top-N merge distributed; the rank
    // window then runs over only topN survivors.
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(topN)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w))
      .select("rk", "doc_id", "tf_sum", "n_terms", "dl")
  }

  /** Bigram-rarity scoring — the integer-surrogate form of the CCNet
    * perplexity filter: a document whose bigrams are rare corpus-wide
    * is "surprising" (gibberish or novel); one whose bigrams are all
    * common is fluent/boilerplate. Rarity of one occurrence is
    * 10^6 div corpus_count (exact integer, monotone in -log p like
    * tf-idf's surrogate), summed and averaged per doc. Two shuffles:
    * corpus bigram counts, per-doc roll-up; the count table join is
    * the only wide op. */
  def bigramRarity(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(expr(normExpr), " ").as("tk"))
      .select(col("doc_id"), explode(expr(ngramExpr(2))).as("g"))
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("c"))
    grams.join(cnt, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("1000000 div c")).as("rarity_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("rarity_sum"),
        expr("rarity_sum div n_bigrams").as("rarity_avg"))
  }

  /** Per-document token (Shannon) entropy in q10 fixed point — the
    * diversity/quality signal curation pipelines threshold on (low
    * entropy = boilerplate/repetition). H = log2(n) − (Σ c·log2 c)/n
    * over per-doc token counts c, every term through the portable
    * piecewise-linear `log2q10` (graft.Portable), so the score is an
    * order-free INTEGER sum both engines reproduce bit-for-bit —
    * engine ln() low bits never enter. Two combiner-backed aggregates
    * keyed by doc_id; no window, no global state — embarrassingly
    * scalable. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val log2c = graft.Portable.log2q10Sql("c")
    val log2n = graft.Portable.log2q10Sql("n_tok")
    tokens(spark, dir)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"),
        sum(expr(s"c * $log2c")).as("s_q10"))
      .select(col("doc_id"), col("n_tok"),
        (expr(log2n) - expr("s_q10 div n_tok")).as("ent_q10"))
  }

  /** PMI collocation mining — word pairs that co-occur as bigrams far
    * more than their unigram frequencies predict (Church & Hanks
    * 1990), the classic phrase-detection pass a tokenizer/phrase
    * vocabulary build runs over the corpus. Convention: N = total
    * bigram tokens, unigram counts are token counts;
    * pmi_q10 = log2q10(c_xy·N) − log2q10(c_x·c_y) — exact integer
    * products (valid while c·N < 2⁵²; at larger corpora shift both
    * sides down by a common power of two) through the shared
    * fixed-point log2, so scores hash-match across engines. Plan:
    * bigram + unigram counts are combiner-backed aggregates; the
    * count lookups are joins on the word keys (vocabulary-scale, far
    * smaller than the corpus); N arrives via a broadcast 1-row
    * aggregate. minCount prunes the pair table before both joins. */
  def pmiCollocations(spark: SparkSession, dir: String,
    minCount: Int = 5): DataFrame = {
    val toks = tokens(spark, dir)
    val uni = toks.groupBy("word").agg(count(lit(1)).as("cw"))
    val grams = Tables.documents(spark, dir)
      .select(split(expr(normExpr), " ").as("tk"))
      .select(explode(expr(
        """filter(transform(sequence(1, greatest(size(tk) - 1, 1)),
          |  i -> struct(try_element_at(tk, i) as w1, try_element_at(tk, i + 1) as w2)),
          |  p -> p.w1 is not null and p.w1 <> '' and p.w2 is not null and p.w2 <> '')"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val tot = grams.groupBy().agg(count(lit(1)).as("nn"))
    big
      .join(uni.select(col("word").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("word").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cxy"),
        (expr(graft.Portable.log2q10Sql("cxy * nn")) -
          expr(graft.Portable.log2q10Sql("c1 * c2"))).as("pmi_q10"))
  }

  /** Benchmark decontamination — the pipeline step every LLM training
    * run needs: flag training documents that share any n-gram with the
    * evaluation set, so test data never leaks into training data. The
    * eval set here is the first `evalMax` doc_ids (stand-in for a
    * benchmark suite); shared-shingle counts come from a LEFT join of
    * training shingles against the BROADCAST eval shingle set — eval
    * suites are MBs, so at 100 TB this stays one map-side pass over
    * the corpus with no shuffle of training data. */
  def decontaminate(spark: SparkSession, dir: String, evalMax: Long = 25): DataFrame = {
    val sh = Dedup.shingles(spark, dir) // distinct (doc_id, shingle)
    val evalSh = sh.filter(col("doc_id") < evalMax)
      .select("s").distinct().withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= evalMax)
      .join(broadcast(evalSh), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** Sequence packing — shaping documents into fixed-token-budget
    * training sequences: deterministic first-fit in doc_id order,
    * sequence = floor(tokens_before / budget). The prefix sum is
    * DISTRIBUTED (range partition → local cumsum → broadcast
    * per-partition offsets, one row per partition — the globalRank
    * pattern), so no single-partition window touches the corpus at
    * any scale. Output: per sequence, the doc span and token count. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"cast(size(filter(split($normExpr, ' '), x -> x <> '')) as bigint)").as("n"))
    // rebase on the computed RDD — the offsets table and the final join
    // both consume this frame, and two evaluations of a sampled range
    // exchange can disagree on boundaries (see Relational.globalRank)
    val parted0 = docs.repartitionByRange(32, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    val parted = spark.createDataFrame(parted0.rdd, parted0.schema)
    val localW = Window.partitionBy("_pid").orderBy("doc_id")
    val local = parted.withColumn("_lcum", sum("n").over(localW))
    val offW = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("_pid").agg(sum("n").as("_cnt"))
      .withColumn("_off", coalesce(sum("_cnt").over(offW), lit(0L)))
      .select("_pid", "_off")
    local.join(broadcast(offsets), "_pid")
      .withColumn("seq_id", expr(s"(_lcum + _off - n) div ${budget}L"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("seq_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Exact duplicated-span detection — the substring-level dedup pass
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"), re-expressed relationally: every token n-gram
    * (n=8) is a span; a span whose fingerprint occurs more than once
    * corpus-wide is duplicated text. Output per doc: span count,
    * duplicated-span count and the exact duplicated-token ppm — the
    * score pipelines drop or trim documents by.
    *
    * Scale shape: the span fingerprint (16-char md5 prefix — constant
    * width however long the span) is a map-side projection; the only
    * wide op over the gram table is ONE `count(*) over (partition by
    * h)` window — the fingerprint count lands on each span in the
    * same exchange that groups the fingerprints, where an agg+re-join
    * formulation would shuffle the biggest intermediate twice. Never
    * a doc-to-doc join. */
  def dupSpans(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(expr(normExpr), " ").as("tk"))
      .select(col("doc_id"), explode(expr(ngramExpr(n))).as("g"))
      .select(col("doc_id"),
        expr("substring(md5(cast(g as binary)), 1, 16)").as("h"))
    grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(expr("case when c > 1 then 1 else 0 end")).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        expr("dup_spans * 1000000 div n_spans").as("dup_ppm"))
  }

  /** Per-document n-gram NOVELTY: the ppm fraction of a doc's 8-gram
    * spans whose corpus-wide FIRST occurrence (min doc_id) is this
    * doc — the "how much genuinely new text does this document add"
    * signal curation pipelines rank crawl snapshots by (novelty ≈ 0
    * means the doc is assembled entirely from already-seen spans).
    * Distributed shape: one map-side shingle projection (16-byte
    * hashes, never gram text), ONE combiner-backed min aggregate on
    * the gram hash, one hash-join back, one per-doc aggregate — every
    * exchange carries gram-hash or doc-scale rows, no windows. */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(expr(normExpr), " ").as("tk"))
      .select(col("doc_id"), explode(expr(ngramExpr(n))).as("g"))
      .select(col("doc_id"),
        expr("substring(md5(cast(g as binary)), 1, 16)").as("h"))
    val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
    grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel"))
      .select(col("doc_id"), col("n_grams"), col("novel"),
        expr("novel * 1000000 div n_grams").as("novel_ppm"))
  }

  /** BPE merge-step statistics — the first iteration of byte-pair-
    * encoding vocabulary induction (Sennrich et al. 2016), the
    * tokenizer-training job an LLM pipeline runs over its corpus:
    * count adjacent character pairs weighted by word frequency and
    * rank the top merge candidates. The full BPE loop re-runs this
    * counting job after each merge; one iteration is the distributed
    * kernel (word-frequency table stays fixed, pair counting is one
    * aggregate over it — corpus text is NOT re-read per iteration).
    *
    * Scale shape: word counts are one shuffle over words (partial agg
    * = combiner); the char-pair explode runs over the DISTINCT word
    * table (vocabulary-sized, orders of magnitude below the corpus),
    * and the final top-N is a TakeOrderedAndProject merge. */
  def bpeMerges(spark: SparkSession, dir: String, topN: Int = 30): DataFrame = {
    val words = tokens(spark, dir).groupBy("word").agg(count(lit(1)).as("wc"))
    val pairs = words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, greatest(length(word) - 1, 1)), i -> substring(word, i, 2))")).as("pair"))
      .filter(length(col("pair")) === 2) // 1-char words carry no pair
    val freq = pairs.groupBy("pair").agg(sum("wc").as("freq"))
    val top = freq.orderBy(col("freq").desc, col("pair")).limit(topN)
    val w = Window.orderBy(col("freq").desc, col("pair"))
    top.withColumn("rk", row_number().over(w)).select("rk", "pair", "freq")
  }

  /** BPE TRAINING LOOP — not just pair statistics (`bpeMerges`) but
    * the iterative trainer: each round counts adjacent-token pairs
    * over the word-frequency table, adopts the most frequent pair
    * (freq desc, then lexicographic — fully deterministic) as a new
    * merged token, and REWRITES the corpus tokenization before the
    * next round. Merges are restricted to pairs with left ≠ right,
    * which makes applications provably NON-OVERLAPPING (a chain
    * t[i]=l, t[i+1]=r, t[i+1]=l needs l = r), so the rewrite is pure
    * set-based window arithmetic — no sequential fold, identical
    * semantics in any engine, and the whole training run is
    * oracle-gated (q_bpe_train). Pair counting explodes the
    * VOCABULARY (distinct words × their lengths), never the corpus;
    * the 1-row best-merge broadcast keeps every step distributed. */
  def bpeTrain(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    bpeState(spark, dir, iters)._1

  /** (merge table, final per-word tokenization) after `iters` rounds —
    * the trainer's loop state, shared by `bpeTrain` (returns the
    * merges) and `bpeEncode` (applies the final vocab tokenization). */
  private def bpeState(spark: SparkSession, dir: String,
    iters: Int): (DataFrame, DataFrame) = {
    val words = tokens(spark, dir).groupBy("word").agg(count(lit(1)).as("wc"))
    val wOrd = Window.partitionBy("word").orderBy("i")
    var toks: DataFrame = words.select(col("word"), col("wc"),
      posexplode(expr(
        "transform(sequence(1, length(word)), j -> substring(word, j, 1))"))
        .as(Seq("p", "tok")))
      .select(col("word"), col("wc"), (col("p") + 1).as("i"), col("tok"))
    var merges: DataFrame = null
    // ONE job per round: the 1-row best merge is COLLECTED (the same
    // 1-row readback budget the PageRank/CC rounds use) and re-enters
    // both the merge table and the rewrite as a LocalRelation — a
    // lazy `best` would re-execute every prior round inside its
    // broadcast subtree (2^iters blowup), and the merge-table union
    // would replay the whole chain once more per round. The round's
    // rewritten tokenization persists lazily; the NEXT round's best
    // job materializes it, so no extra action is spent.
    var cached: DataFrame = null // last round's PERSISTED tokenization
    for (it <- 1 to iters) {
      val withNext = toks.withColumn("nxt", lead("tok", 1).over(wOrd))
      val bestPlan = withNext
        .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
        .groupBy(col("tok").as("l"), col("nxt").as("r"))
        .agg(sum("wc").as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r")).limit(1)
        .select(lit(it).as("iter"), col("l"), col("r"), col("freq"))
      val bestRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      bestPlan.collect().foreach(bestRows.add) // 0 or 1 row
      // the collect materialized toks_{it-1}'s cache; the round BEFORE
      // it is now baked in and can release its blocks
      if (cached ne toks) { if (cached != null) cached.unpersist(); cached = toks }
      val best = spark.createDataFrame(bestRows, bestPlan.schema)
      merges = if (merges == null) best else merges.unionByName(best)
      val applied = withNext
        .crossJoin(broadcast(best.select("l", "r")))
        .withColumn("m_here", col("tok") === col("l") && col("nxt") === col("r"))
        .withColumn("m_prev",
          coalesce(lag("m_here", 1).over(wOrd), lit(false)))
        .filter(!col("m_prev"))
        .select(col("word"), col("wc"), col("i"),
          when(col("m_here"), concat(col("l"), col("r")))
            .otherwise(col("tok")).as("tok"))
      toks = applied
        .withColumn("i2", row_number().over(
          Window.partitionBy("word").orderBy("i")))
        .select(col("word"), col("wc"), col("i2").as("i"), col("tok"))
        .persist()
    }
    // the last two rounds stay cached: the FINAL tokenization is
    // persisted but not yet materialized — its first action (the
    // caller's) reads the previous round's cache; the per-query
    // clearCache reclaims both
    (merges, toks)
  }

  /** BPE ENCODE — the other half of the tokenizer loop: apply the
    * trained merges to the corpus and report each document's token
    * count under the trained vocabulary (plus its whitespace word
    * count — the compression the merges bought). The heavy work runs
    * over the VOCABULARY (distinct words), exactly like training; the
    * corpus is touched once to map words → per-word token counts
    * through a broadcast-size vocab join. At 100 TB that vocab table
    * is millions of rows against trillions of corpus words — the join
    * stays a broadcast and the corpus pass stays map-side. */
  def bpeEncode(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val toks = bpeState(spark, dir, iters)._2
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("n_tok"))
    tokens(spark, dir)
      .join(broadcast(vocab), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tok"))
  }

  /** Tokenizer FERTILITY report — per-language tokens-per-word and
    * chars-per-token (ppm) under the trained BPE vocabulary: the
    * "how efficiently does this tokenizer cover each language" audit
    * every multilingual tokenizer training run publishes (a language
    * with high fertility is under-served by the learned merges and
    * over-pays sequence length at training time). Integer ppm ratios
    * of exact token/word/char sums, so the report is engine-exact.
    * Scale shape: the vocabulary (with per-word token counts under
    * the merges) broadcasts against one corpus tokenizing pass; the
    * doc→lang attachment is a doc-scale join; output is |langs| rows. */
  def bpeFertility(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val toks = bpeState(spark, dir, iters)._2
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("n_tok"))
    val langs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    tokens(spark, dir)
      .join(broadcast(vocab), Seq("word"))
      .join(langs, "doc_id")
      .groupBy("lang")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("words"),
        sum("n_tok").as("tokens"),
        sum(length(col("word"))).cast("bigint").as("chars"))
      .select(col("lang"), col("n_docs"), col("words"), col("tokens"),
        col("chars"),
        expr("tokens * 1000000 div words").as("fertility_ppm"),
        expr("chars * 1000000 div tokens").as("chars_per_token_ppm"))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021; the
    * pre-classifier filter Dolma/FineWeb pipelines run first):
    * per-document structural checks — token count bounds, mean word
    * length band, minimum stopword hits — each an EXACT integer
    * statistic (mean word length in char-centi units, total chars ×
    * 100 div tokens), so verdicts are engine-identical. One map-side
    * projection: no shuffle at all, composes with pushdown, and at
    * 100 TB it is precisely the cheap first pass that shrinks the
    * corpus before dedup/classifier stages. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("nrm", expr(normExpr))
      .withColumn("toks", expr("split(nrm, ' ')"))
      .withColumn("n_tokens", expr("size(toks)"))
      .withColumn("avg_len_c",
        expr("(length(nrm) - (n_tokens - 1)) * 100 div n_tokens"))
      .withColumn("stop_hits", expr(hitsExpr("en")))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("avg_len_c").cast("long").as("avg_len_c"),
        col("stop_hits").cast("long").as("stop_hits"),
        expr("n_tokens BETWEEN 20 AND 100000").as("r_len"),
        expr("avg_len_c BETWEEN 390 AND 510").as("r_wordlen"),
        expr("stop_hits >= 2").as("r_stop"),
        expr("n_tokens BETWEEN 20 AND 100000 AND avg_len_c BETWEEN 390 AND 510 AND stop_hits >= 2").as("keep"))

  /** TRAINED multinomial Naive Bayes language classifier — the
    * counting-based cousin of the fastText language/quality filters
    * every LLM data recipe runs (CCNet trains a classifier, then
    * scores the crawl). `langid` above is a fixed stopword heuristic;
    * this one LEARNS its weights from the corpus's own labels:
    * token counts per (lang, word) over the deterministic train split
    * (the same md5 doc-bucket < 80 `trainValTestSplit` uses), Laplace
    * smoothing, and per-doc argmax of
    * `sum_w log2(cnt_w+1) - n_tokens*log2(tot_lang+V) + log2 prior`.
    * Every weight is a fixed-point q10 integer via
    * [[graft.Portable.log2q10Sql]] (exact bit-length + linear
    * interpolation — pure BIGINT arithmetic), so per-doc scores are
    * order-free integer sums and BOTH engines produce bit-identical
    * predictions — no libm, no float summation order.
    *
    * Scale shape: training is one (lang, word) shuffle with map-side
    * combine; the model (V×L rows, vocabulary-bounded — production
    * caps V at top-K by document frequency) broadcasts back against a
    * single scoring pass; the doc×lang score grid is |langs|-wide,
    * never corpus-joined-to-corpus. (ref: the reference ships no
    * trained classifier — closest are the aggregate word-count jobs,
    * src/examples/org/apache/hadoop/examples/AggregateWordCount.java:1;
    * this is the Spark-native learning step layered on them.) */
  /** NB training half: returns (model, base, vocab) — all
    * vocabulary-bounded frames a scorer broadcasts. ONE tokenizing
    * pass over the train slice; every other training aggregate
    * (per-lang totals, vocabulary, V) derives from the persisted
    * vocabulary-scale (lang, word, cnt) table, not the corpus. */
  def nbModel(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val bucket = graft.Portable.uint32Sql(
      "md5(cast(cast(doc_id as string) as binary))")
    def l2(x: String) = graft.Portable.log2q10Sql(x)
    val docs = Tables.documents(spark, dir)
    val cls = docs
      .select(col("lang"), expr(s"$bucket % 100").as("bk"),
        explode(split(expr(normExpr), " ")).as("word"))
      .filter(col("word") =!= "" && col("bk") < 80)
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .persist()
    val tot = cls.groupBy("lang").agg(sum("cnt").as("tot"))
    val vocab = cls.select("word").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val priors = docs.filter(expr(s"$bucket % 100 < 80"))
      .groupBy("lang").agg(count(lit(1)).as("nd"))
    val ntrain = priors.agg(sum("nd").as("n"))
    val model = cls.select(col("lang").as("cand"), col("word"),
      expr(l2("cnt + 1")).as("w"))
    val base = tot.join(priors, "lang")
      .crossJoin(broadcast(vsize)).crossJoin(broadcast(ntrain))
      .select(col("lang").as("cand"),
        expr(l2("tot + v")).as("base"),
        expr(s"${l2("nd")} - ${l2("n")}").as("prior"))
    (model, base, vocab)
  }

  /** NB scoring half over ANY (doc_id, lang, text) frame — the model
    * frames broadcast, so this works unchanged inside a foreachBatch
    * micro-batch (streaming inference) or over the full corpus. */
  def nbScore(docs: DataFrame, model: DataFrame, base: DataFrame,
      vocab: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(expr(normExpr), " ")).as("word"))
      .filter(col("word") =!= "")
    // scoring pass: in-vocabulary tokens only (standard NB drops OOV)
    val iv = toks.join(broadcast(vocab), Seq("word"))
    val nv = iv.groupBy("doc_id").agg(count(lit(1)).as("n_iv"))
    val sums = iv.join(broadcast(model), Seq("word"))
      .groupBy("doc_id", "cand").agg(sum("w").as("sw"))
    val grid = docs.select("doc_id", "lang").crossJoin(broadcast(base))
    val scored = grid
      .join(nv, Seq("doc_id"), "left")
      .join(sums, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("lang"), col("cand"),
        (coalesce(col("sw"), lit(0L))
          - coalesce(col("n_iv"), lit(0L)) * col("base")
          + col("prior")).as("score_q10"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_q10").desc, col("cand"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("pred_lang"),
        col("score_q10"))
  }

  def nbLangid(spark: SparkSession, dir: String): DataFrame = {
    val (model, base, vocab) = nbModel(spark, dir)
    nbScore(Tables.documents(spark, dir), model, base, vocab)
  }

  /** Bigram-LM perplexity filter — the CCNet-style quality gate: a
    * Laplace-smoothed bigram language model is trained on the
    * reference slice (English train-split docs standing in for the
    * "clean" corpus — CCNet uses Wikipedia), every document is scored
    * by its negative log-likelihood per bigram, and docs fall into 3
    * equal-WIDTH perplexity bands (band 1 = most reference-like).
    * Scores are fixed-point q10 integers ([[graft.Portable.log2q10Sql]])
    * so the per-doc sums are order-free and engine-exact; the band
    * thresholds come from a broadcast 1-row min/max aggregate — a
    * map-side banding that needs NO global sort, unlike an ntile
    * spelling (equal-count terciles at 100 TB would be a total-order
    * window over the corpus; the integer score histogram is the
    * scalable route to those if ever needed).
    *
    * Scale shape: the LM (train-slice bigrams + unigrams, vocabulary-
    * bounded) broadcasts; the corpus is scored in one tokenize +
    * broadcast-join + per-doc integer sum pass. */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.Portable.uint32Sql(
      "md5(cast(cast(doc_id as string) as binary))")
    def l2(x: String) = graft.Portable.log2q10Sql(x)
    val docs = Tables.documents(spark, dir)
    // per-doc bigram starts: (w1, w2) with the shared short-doc pad
    // (docs under 2 tokens yield ONE single-word gram, w2 = null)
    val grams = docs
      .select(col("doc_id"), col("lang"),
        expr(s"$bucket % 100").as("bk"),
        expr(s"filter(split($normExpr, ' '), x -> x <> '')").as("tk"))
      .select(col("doc_id"), col("lang"), col("bk"), col("tk"),
        explode(expr("sequence(1, greatest(size(tk) - 1, 1))")).as("i"))
      .select(col("doc_id"), col("lang"), col("bk"),
        expr("try_element_at(tk, i)").as("w1"),
        expr("concat_ws(' ', try_element_at(tk, i), try_element_at(tk, i + 1))").as("g"))
    // ONE tokenizing pass over the train slice: unigram counts and V
    // derive from the vocabulary-scale bigram table (every gram row
    // lands in exactly one bigram group; its w1 is the gram's first
    // word, so summing cb per w1 replays the unigram count)
    val big = grams.filter(col("lang") === "en" && col("bk") < 80)
      .groupBy("w1", "g").agg(count(lit(1)).as("cb"))
      .persist() // vocabulary-bounded; its three consumers share one pass
    val uni = big.groupBy("w1").agg(sum("cb").as("cu"))
    val vsize = big.select("w1").distinct().agg(count(lit(1)).as("v"))
    val scored = grams
      .join(broadcast(big.select("g", "cb")), Seq("g"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(vsize))
      .select(col("doc_id"),
        (expr(l2("coalesce(cb, 0) + 1"))
          - expr(l2("coalesce(cu, 0) + v"))).as("ll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("ll"))).as("nll_q10"))
      .withColumn("avg_q10", expr("nll_q10 div n_bigrams"))
      .persist() // per-doc (5 narrow cols); banding re-reads it, not the corpus
    val bounds = scored.agg(min("avg_q10").as("mn"), max("avg_q10").as("mx"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("band",
        expr("1 + least(2, (avg_q10 - mn) * 3 div (mx - mn + 1))"))
      .select("doc_id", "n_bigrams", "nll_q10", "avg_q10", "band")
  }

  /** Winnowing document fingerprint (rolling-hash): char 10-gram md5
    * hashes, min over each 8-gram window, distinct survivors. The
    * window is partitioned per doc so it scales out. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    // One map-side projection: the codegen `winnow_fp` kernel
    // (plans.TextHashExprs) hashes every 10-gram once and slides the
    // 8-window min with a monotonic deque — O(chars) compiled work per
    // doc, vs the interpreted transform+slice lambdas (O(chars × 8)
    // with per-step allocation) this replaces. No explode, no shuffle.
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(s"winnow_fp($normExpr)").as("w"))
      .select(col("doc_id"), col("w.n_fp").as("n_fp"), col("w.fp_min").as("fp_min"))
  }

  /** Deflate compression ratio per document — the classic corpus
    * quality/repetition signal (highly compressible ⇒ boilerplate or
    * template spam; near-incompressible ⇒ encoded blobs or noise):
    * ratio_ppm = 10⁶ · deflate_len / raw_len at a FIXED level so the
    * number is stable across runs. Pure map-side (mapPartitions with
    * one reused Deflater per partition — codec allocation amortized
    * the way the reference reuses its codec pool, ref: src/core/org/
    * apache/hadoop/io/compress/CodecPool.java:1). No SQL oracle:
    * deflate output length is a property of the zlib implementation,
    * not of the data model, so cross-engine hashing would pin the
    * oracle engine's zlib — ScalaTest asserts the invariants instead
    * (bounds, repetition monotonicity, determinism across runs). */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6, false)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          d.reset(); d.setInput(raw); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          val ratio = if (raw.length == 0) 1000000L
            else 1000000L * n / raw.length
          (id, raw.length.toLong, n, ratio)
        }
      }.toDF("doc_id", "raw_len", "deflate_len", "ratio_ppm")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009):
    * each document's tokens land in a FIXED-dimension sparse vector
    * slot = h(token) mod dims, with a second hash bit supplying the
    * unbiasing sign — the training-export featurizer whose
    * dimensionality is independent of vocabulary size, so the 100 TB
    * corpus needs no vocabulary build, no broadcast dictionary, and
    * the map-side explode+aggregate is the whole plan (one shuffle on
    * (doc_id, slot)). Exploded sparse rows (doc_id, slot, w); exact
    * integer weights, md5-derived slots/signs ⇒ oracle-hashable.
    * Sign-cancelled slots (w = 0) drop, identically in both engines. */
  def featureHash(spark: SparkSession, dir: String,
    dims: Int = 1024): DataFrame = {
    val h = graft.Portable.uint32Sql("md5(cast(tok as binary))")
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normExpr), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("slot", expr(s"($h) % $dims"))
      .withColumn("sgn", expr(s"CASE WHEN (($h) div $dims) % 2 = 0 " +
        "THEN 1 ELSE -1 END"))
      .groupBy("doc_id", "slot")
      .agg(sum("sgn").cast("bigint").as("w"))
      .filter(col("w") =!= 0)
  }

  /** TextRank keyword scoring (Mihalcea & Tarau 2004): PageRank over
    * the token-adjacency co-occurrence graph, in the same q40
    * fixed-point integer scheme as the source-graph PageRank
    * (Dedup.sourceRank) so both engines' iterates are bitwise equal.
    * Edge building is map-side (explode of adjacent token pairs) +
    * one count aggregate; each of the 5 unrolled iterations joins the
    * vocabulary-scale rank vector against the BROADCAST edge list —
    * at 100 TB the corpus is read once and everything iterative runs
    * at vocabulary scale, never corpus scale. */
  def textrank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val S = 1099511627776L // 2^40
    // word-adjacency edge list + strength as a persisted artifact
    // (the graph-family scratchRelation discipline): the corpus-scale
    // explode runs once per input, iterations run against the artifact
    val ews = Dedup.scratchRelation(spark, "wordedges", dir) {
      val toks = Tables.documents(spark, dir)
        .select(split(expr(normExpr), " ").as("tk"))
      val pairs = toks.filter(size(col("tk")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 1),
            |  i -> struct(try_element_at(tk, i) as x, try_element_at(tk, i + 1) as y))"""
            .stripMargin)).as("p"))
        .select(col("p.x"), col("p.y"))
        .filter(col("x") =!= "" && col("y") =!= "" && col("x") =!= col("y"))
      val und = pairs
        .select(least(col("x"), col("y")).as("u"),
          greatest(col("x"), col("y")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
      val edges = und
        .unionByName(und.select(col("v").as("u"), col("u").as("v"), col("w")))
      val strength = edges.groupBy("u").agg(sum("w").as("s"))
      edges.join(strength, "u")
    }.persist()
    val nodes = Dedup.scratchRelation(spark, "wordnodes", dir) {
      Tables.documents(spark, dir)
        .select(explode(split(expr(normExpr), " ")).as("v"))
        .filter(col("v") =!= "").distinct()
    }.persist()
    val n = nodes.count() // vocabulary-scale 1-row readback
    val base = 15L * S / (100L * n)
    var pr = nodes.select(col("v"), lit(S / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = pr.select(col("v").as("u"), col("pr"))
        .join(broadcast(ews), "u")
        .select(col("v"), expr("(pr * w) div s").as("c"))
        .groupBy("v").agg(sum("c").as("agg"))
      pr = nodes.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr("(85 * coalesce(agg, cast(0 as bigint))) div 100"))
            .as("pr"))
    }
    // distributed final rank over the vocabulary: globalRank range-
    // partitions instead of collapsing every word into one task
    Relational.globalRank(
      pr.select(col("v").as("word"), col("pr").as("pr_q40")),
      32, col("pr_q40").desc, col("word"))
      .withColumnRenamed("rn", "rnk")
  }
}
