package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: stopword-profile language ID, quality scoring,
  * token counting (whitespace + BPE-ish piece regex), and document
  * fingerprinting (full digest + char-8-gram min-hash, a winnowing-
  * style fingerprint). All integer-count based → exact cross-engine
  * parity; ratios rounded to 4 dp.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  private val stop: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  private val enStops = stop("en")

  /** count of tokens of `toks` contained in `words` (with multiplicity). */
  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  private def sqlHits(lang: String): String = {
    val lst = stop(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(t, x -> list_contains([$lst], x)))"
  }

  /** (doc_id, quality_x1e4) — t2's composite quality as its ×1e4
    * fixpoint integer (see `t2_quality` for the formula and the
    * cross-engine rationale); factored out for the dedup keep-best
    * rule (d13). Docs with zero tokens are ABSENT (t2's own guard) —
    * callers coalesce a default. */
  private[operators] def qualityX1e4(s: SparkSession, dir: String): DataFrame = {
    Fn.table(s, dir, "documents")
      .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), qualityX1e4Col(col("t")).as("quality_x1e4"))
  }

  /** The quality expression itself over a token-array column — the
    * single definition behind [[qualityX1e4]], exposed so d13 can
    * FUSE the score into its own corpus pass instead of a second
    * documents scan + doc⋈doc join. Callers guard `size(t) > 0`
    * (the divisions need a nonzero token count). */
  private[operators] def qualityX1e4Col(t: Column): Column = {
    val n = size(t).cast("long")
    val stopRatio = hitCount(t, enStops).cast("double") / n
    val meanTokLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / n
    floor((least(lit(1.0), n / 100.0) * 0.5 +
      (lit(1.0) - stopRatio) * 0.3 +
      least(lit(1.0), meanTokLen / 8.0) * 0.2) * 10000 + 0.5).cast("long")
  }

  /** DuckDB twin of [[qualityX1e4]]; expects a `toks(doc_id, t)` CTE
    * in scope (the same tokenization `Fn.sqlTextTokens` produces). */
  private[operators] def qualitySqlCte: String = s"""
      q AS (
        SELECT doc_id,
               CAST(floor((least(1.0, len(t) / 100.0) * 0.5 +
                 (1.0 - CAST(${sqlHits("en")} AS DOUBLE) / len(t)) * 0.3 +
                 least(1.0, CAST(list_sum(list_transform(t, x -> length(x)))
                   AS DOUBLE) / len(t) / 8.0) * 0.2) * 10000 + 0.5)
                 AS BIGINT) AS quality_x1e4
        FROM toks WHERE len(t) > 0)"""

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ── language ID: stopword-profile argmax, alphabetical tie-break ─
    ("t1_langid", (s: SparkSession, dir: String) => {
      val toks = Fn.table(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("actual"),
          Fn.tokensCol(col("text")).as("t"))
      val scored = stop.toSeq.sortBy(_._1).foldLeft(toks) {
        case (df, (lang, words)) =>
          df.withColumn(s"h_$lang", hitCount(col("t"), words))
      }
      // argmax over the four language columns with lang-asc tie-break:
      // array_min over struct(-hits, lang) — same trick as J1
      val cand = array(stop.keys.toSeq.sorted.map(l =>
        struct((lit(0L) - col(s"h_$l")).as("nh"), lit(l).as("lang"))): _*)
      scored
        .withColumn("best", array_min(cand))
        .select(col("doc_id"), col("actual"),
          col("best").getField("lang").as("predicted"),
          (lit(0L) - col("best").getField("nh")).as("hits"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, lang AS actual, ${Fn.sqlTextTokens} AS t FROM documents),
      scored AS (
        SELECT doc_id, actual,
               ${sqlHits("de")} AS h_de, ${sqlHits("en")} AS h_en,
               ${sqlHits("es")} AS h_es, ${sqlHits("fr")} AS h_fr
        FROM toks),
      ranked AS (
        SELECT doc_id, actual, lang AS predicted, h AS hits,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY h DESC, lang ASC) AS rn
        FROM (
          SELECT doc_id, actual, u.lang, CASE u.lang
                   WHEN 'de' THEN h_de WHEN 'en' THEN h_en
                   WHEN 'es' THEN h_es ELSE h_fr END AS h
          FROM scored
          CROSS JOIN (SELECT unnest(['de','en','es','fr']) AS lang) u))
      SELECT doc_id, actual, predicted, CAST(hits AS BIGINT) AS hits
      FROM ranked WHERE rn = 1""")),

    // ── quality scoring: length/stopword/token-shape ratios ─────────
    ("t2_quality", (s: SparkSession, dir: String) => {
      // ratios are emitted as floor(x·10⁴ + 0.5) integers: both engines
      // compute bit-identical doubles from integer divisions, and the
      // arithmetic fixpoint avoids engine-specific round() tie rules
      def fx(c: Column): Column = floor(c * 10000 + 0.5).cast("long")
      val df = Fn.table(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .filter(col("n_tokens") > 0)
        .withColumn("stop_hits", hitCount(col("t"), enStops).cast("long"))
        .withColumn("mean_tok_len",
          aggregate(col("t"), lit(0L), (acc, x) => acc + length(x))
            .cast("double") / col("n_tokens"))
        .withColumn("stop_ratio",
          col("stop_hits").cast("double") / col("n_tokens"))
      df.withColumn("quality",
        least(lit(1.0), col("n_tokens") / 100.0) * 0.5 +
          (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(lit(1.0), col("mean_tok_len") / 8.0) * 0.2)
        .select(col("doc_id"), col("n_tokens"), col("stop_hits"),
          fx(col("mean_tok_len")).as("mean_tok_len_x1e4"),
          fx(col("stop_ratio")).as("stop_ratio_x1e4"),
          fx(col("quality")).as("quality_x1e4"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, ${Fn.sqlTextTokens} AS t FROM documents),
      m AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(${sqlHits("en")} AS BIGINT) AS stop_hits,
               CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t) AS mean_tok_len,
               CAST(${sqlHits("en")} AS DOUBLE) / len(t) AS stop_ratio
        FROM toks WHERE len(t) > 0)
      SELECT doc_id, n_tokens, stop_hits,
             CAST(floor(mean_tok_len * 10000 + 0.5) AS BIGINT) AS mean_tok_len_x1e4,
             CAST(floor(stop_ratio * 10000 + 0.5) AS BIGINT) AS stop_ratio_x1e4,
             CAST(floor((least(1.0, n_tokens / 100.0) * 0.5 +
                         (1.0 - stop_ratio) * 0.3 +
                         least(1.0, mean_tok_len / 8.0) * 0.2) * 10000 + 0.5)
               AS BIGINT) AS quality_x1e4
      FROM m""")),

    // ── token counting: whitespace tokens + BPE-ish piece regex ─────
    ("t3_token_counts", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "documents")
        .select(col("doc_id"),
          size(Fn.tokensCol(col("text"))).cast("long").as("ws_tokens"),
          regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
            .cast("long").as("bpe_pieces"))
    }: DataFrame, Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS BIGINT) AS bpe_pieces
      FROM documents""")),

    // ── repetition scoring: duplicate word-bigram fraction (the
    //    Gopher-style "repetitious document" quality signal). Pure
    //    per-row array math — embarrassingly parallel, no shuffle. ────
    ("t5_repetition", (s: SparkSession, dir: String) => {
      val df = Fn.table(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bi = transform(sequence(lit(0), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i + 1),
          element_at(col("t"), i + 2)))
      df.select(col("doc_id"), bi.as("b"))
        .select(col("doc_id"),
          size(col("b")).cast("long").as("n_bigrams"),
          size(array_distinct(col("b"))).cast("long").as("n_distinct"))
        .withColumn("dup_ratio_x1e4",
          floor((col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams") * 10000 + 0.5).cast("long"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, ${Fn.sqlTextTokens} AS t FROM documents),
      bi AS (
        SELECT doc_id,
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
        FROM toks WHERE len(t) >= 2)
      SELECT doc_id,
             CAST(len(b) AS BIGINT) AS n_bigrams,
             CAST(len(list_distinct(b)) AS BIGINT) AS n_distinct,
             CAST(floor(CAST(len(b) - len(list_distinct(b)) AS DOUBLE)
                        / len(b) * 10000 + 0.5) AS BIGINT) AS dup_ratio_x1e4
      FROM bi""")),

    // ── deterministic train/validation/test split: hash of the STABLE
    //    id (never an RNG — reruns, retries, and re-partitions must
    //    agree), 80/10/10 on md5-prefix buckets. The at-scale property:
    //    a pure map with no shuffle; adding data never reassigns
    //    existing documents. ──────────────────────────────────────────
    ("t6_hash_split", (s: SparkSession, dir: String) => {
      val h = pmod(Fn.md5Prefix32(
        concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
      Fn.table(s, dir, "documents")
        .select(col("doc_id"), h.as("bucket"),
          when(h < 80, "train").when(h < 90, "validation")
            .otherwise("test").as("split"))
    }: DataFrame, Some(s"""
      SELECT doc_id, h % 100 AS bucket,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
              ${Fn.sqlHash32Expr("'split:' || CAST(doc_id AS VARCHAR)")} AS h
            FROM documents)""")),

    // ── PII scrubbing: email/phone redaction + counts. The PII tokens
    //    are synthesized deterministically from doc_id (the corpus text
    //    itself is clean), so both engines see identical inputs; the
    //    patterns avoid constructs where Java and RE2 regex diverge. ──
    ("t7_pii_scrub", (s: SparkSession, dir: String) => {
      val synth = concat(col("text").substr(1, 40),
        lit(" contact user"), pmod(col("doc_id"), lit(50L)).cast("string"),
        lit("@mail"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit(".com or call 555-01"),
        lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit(" and admin@site.org"))
          .otherwise(lit("")))
      val email = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
      val phone = "[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
      Fn.table(s, dir, "documents")
        .select(col("doc_id"), synth.as("raw"))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(email)).cast("long").as("n_emails"),
          regexp_count(col("raw"), lit(phone)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
            phone, "<PHONE>").as("scrubbed"))
    }: DataFrame, Some("""
      WITH raw AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user' ||
               CAST(doc_id % 50 AS VARCHAR) || '@mail' ||
               CAST(doc_id % 7 AS VARCHAR) || '.com or call 555-01' ||
               lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
               CASE WHEN doc_id % 3 = 0 THEN ' and admin@site.org' ELSE '' END
                 AS raw
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(raw,
               '[a-z0-9._]+@[a-z0-9.]+\.[a-z][a-z]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(raw,
               '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS BIGINT) AS n_phones,
             regexp_replace(regexp_replace(raw,
               '[a-z0-9._]+@[a-z0-9.]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
               '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS scrubbed
      FROM raw""")),

    // ── stratified deterministic sampling: per-language keep rates
    //    (corpus language balancing — downsample the over-represented
    //    strata). The keep decision is md5(doc_id) per-mille, NEVER an
    //    RNG: re-runs, retries, and repartitions agree row-for-row,
    //    and growing the corpus never flips existing decisions. At
    //    scale this is a pure map over the scan — zero shuffles, zero
    //    driver state; the filter prunes before any downstream work. ──
    ("t8_stratified_sample", (s: SparkSession, dir: String) => {
      val h = pmod(Fn.md5Prefix32(
        concat(lit("sample:"), col("doc_id").cast("string"))), lit(1000L))
      // per-mille keep rates; unlisted languages (zh, …) keep all
      val rate = when(col("lang") === "en", 100L)
        .when(col("lang") === "fr", 300L)
        .when(col("lang") === "de", 500L)
        .when(col("lang") === "es", 800L)
        .otherwise(1000L)
      Fn.table(s, dir, "documents")
        .withColumn("bucket", h)
        .withColumn("rate_pm", rate)
        .filter(col("bucket") < col("rate_pm"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("rate_pm"))
    }: DataFrame, Some(s"""
      SELECT doc_id, lang, bucket, rate_pm FROM (
        SELECT doc_id, lang,
               CAST(${Fn.sqlHash32Expr("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000
                 AS BIGINT) AS bucket,
               CAST(CASE lang WHEN 'en' THEN 100 WHEN 'fr' THEN 300
                              WHEN 'de' THEN 500 WHEN 'es' THEN 800
                              ELSE 1000 END AS BIGINT) AS rate_pm
        FROM documents)
      WHERE bucket < rate_pm""")),

    // ── sequence packing: concatenate-and-chunk token layout for
    //    pretraining batches. Documents are laid end-to-end per
    //    (split, shard) stream in stable doc_id order; each doc gets
    //    its token start offset, the 512-token block it starts in,
    //    and how many blocks it spans. KEYED BY (split, shard): real
    //    packing is per data-loader stream, never global — so the
    //    window's parallelism is splits × shards and scales by raising
    //    the shard count with the cluster, instead of funneling the
    //    corpus through 3 split-level sort tasks. The shard assignment
    //    is the same RNG-free md5 discipline as t6: adding data never
    //    moves existing docs across streams. ─────────────────────────
    ("t9_sequence_pack", (s: SparkSession, dir: String) => {
      val cap = 512L
      val split = {
        val h = pmod(Fn.md5Prefix32(
          concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
        when(h < 80, "train").when(h < 90, "validation").otherwise("test")
      }
      val shard = pmod(Fn.md5Prefix32(
        concat(lit("shard:"), col("doc_id").cast("string"))), lit(16L))
      val w = Window.partitionBy(col("split"), col("shard"))
        .orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Fn.table(s, dir, "documents")
        .select(col("doc_id"),
          size(Fn.tokensCol(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("split", split)
        .withColumn("shard", shard)
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        // integer block arithmetic via floor over exact doubles (all
        // values ≪ 2^53); DuckDB mirrors with its // integer division
        .withColumn("block_id",
          floor(col("start_offset") / cap.toDouble).cast("long"))
        .withColumn("blocks_spanned",
          floor((col("start_offset") + col("n_tokens") - 1) / cap.toDouble)
            .cast("long") - col("block_id") + 1)
        .select(col("split"), col("shard"), col("doc_id"), col("n_tokens"),
          col("start_offset"), col("block_id"), col("blocks_spanned"))
    }: DataFrame, Some(s"""
      WITH docs AS (
        SELECT doc_id,
               CAST(len(${Fn.sqlTextTokens}) AS BIGINT) AS n_tokens,
               ${Fn.sqlHash32Expr("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS hs,
               ${Fn.sqlHash32Expr("'shard:' || CAST(doc_id AS VARCHAR)")} % 16 AS shard
        FROM documents),
      keyed AS (
        SELECT doc_id, n_tokens,
               CASE WHEN hs < 80 THEN 'train'
                    WHEN hs < 90 THEN 'validation' ELSE 'test' END AS split,
               shard
        FROM docs WHERE n_tokens > 0),
      placed AS (
        SELECT split, shard, doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY split, shard ORDER BY doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS start_offset
        FROM keyed)
      SELECT split, CAST(shard AS BIGINT) AS shard, doc_id, n_tokens,
             start_offset,
             CAST(start_offset // 512 AS BIGINT) AS block_id,
             CAST((start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
               AS BIGINT) AS blocks_spanned
      FROM placed""")),

    // ── fingerprinting: full digest + min char-8-gram hash ──────────
    ("t4_fingerprint", (s: SparkSession, dir: String) => {
      val norm = lower(trim(col("text")))
      Fn.spread(s, dir, "documents")
        .select(col("doc_id"), norm.as("nt"))
        .filter(length(col("nt")) >= 8)
        .select(col("doc_id"),
          md5(col("nt")).as("digest"),
          array_min(transform(
            sequence(lit(1), length(col("nt")) - 7),
            i => Fn.md5Prefix32(col("nt").substr(i, lit(8))))).as("min_gram_hash"))
    }: DataFrame, Some(s"""
      WITH n AS (SELECT doc_id, lower(trim(text)) AS nt FROM documents
                 WHERE length(lower(trim(text))) >= 8)
      SELECT doc_id, md5(nt) AS digest,
             list_min(list_transform(range(1, length(nt) - 6),
               i -> ${Fn.sqlHash32Expr("substr(nt, i, 8)")})) AS min_gram_hash
      FROM n""")),

    // ── TF-IDF top terms per document: the classic keyword/relevance
    //    signal a data pipeline uses for topic tagging and quality
    //    filtering. Corpus size N comes from the parquet-footer
    //    STATISTIC (metadata read — the same no-extra-scan rule as
    //    ann_lsh/d9); document frequency is one vocab-sized hash-agg;
    //    the tf table joins df on the term (equi-join, vocab-sized
    //    build side); ranking is a per-doc window (high-cardinality
    //    key). The score uses the LINEAR inverse frequency tf·N/df —
    //    one IEEE double division, bit-identical across engines —
    //    instead of a log idf, whose libm implementations differ in
    //    the last ulp between engines and would break the hash gate;
    //    the ranking it induces is the same for any monotone idf. ──
    ("t10_tfidf_topterms", (s: SparkSession, dir: String) => {
      val n = Fn.rowCountStat(s, dir, "documents")
      // tf feeds BOTH the score join and the document-frequency agg —
      // cached (lifetime: the shared Fn registry) so the corpus scans
      // and tokenizes once, not twice. The df agg deliberately stays a
      // groupBy (map-side partial combine), not a count-over-window by
      // term: a stopword's window partition would hold one row per
      // document containing it — the classic skew hot spot.
      val tf = Fn.track(Fn.spread(s, dir, "documents")
        .select(col("doc_id"), explode(Fn.tokensCol(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .cache())
      // tf has exactly one row per (doc, term), so document frequency
      // is a plain count — countDistinct would add an Expand pass for
      // a distinctness the input already guarantees
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(df, Seq("term"))
        .withColumn("tfidf",
          round((col("tf") * lit(n)).cast("double") / col("df"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rank"))
    }: DataFrame, Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT t.doc_id, t.term, t.tf,
               round(CAST(t.tf * (SELECT count(*) FROM documents) AS DOUBLE)
                     / d.df, 6) AS tfidf
        FROM tf t JOIN dfreq d USING (term)),
      ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3""")),

    // ── Gopher-style document quality gate (Rae et al. 2021 §A1.1,
    //    public rule set — the standard pre-training repetition/
    //    garbage filter family t2/t5 belong to): per-document rule
    //    booleans + the composite pass flag, plus the underlying
    //    measures as ×1e4 fixpoints (t2's cross-engine convention).
    //    Pure per-row map over the scan — no shuffle, trivially
    //    100 TB-safe. Ratio thresholds compare doubles produced by
    //    integer division only, bit-identical across engines. ─────────
    ("t11_gopher_rules", (s: SparkSession, dir: String) => {
      def fx(c: Column): Column = floor(c * 10000 + 0.5).cast("long")
      val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val m = Fn.table(s, dir, "documents")
        .select(col("doc_id"), col("text"), Fn.tokensCol(col("text")).as("t"))
        .withColumn("n_words", size(col("t")).cast("long"))
        .filter(col("n_words") > 0)
        .withColumn("mean_wlen",
          aggregate(col("t"), lit(0L), (a, x) => a + length(x))
            .cast("double") / col("n_words"))
        .withColumn("alpha_frac",
          size(filter(col("t"), x => x.rlike("[a-z]")))
            .cast("double") / col("n_words"))
        .withColumn("sym_ratio",
          (regexp_count(col("text"), lit("#")) +
            regexp_count(col("text"), lit("\\.\\.\\.")))
            .cast("double") / col("n_words"))
        .withColumn("stop_hits", hitCount(col("t"), gopherStops).cast("long"))
        .withColumn("lines",
          filter(split(col("text"), "\n"), x => length(x) > 0))
        .withColumn("bullet_frac",
          size(filter(col("lines"), x =>
            ltrim(x).startsWith("-") || ltrim(x).startsWith("*")))
            .cast("double") / size(col("lines")))
        .withColumn("ellipsis_frac",
          size(filter(col("lines"), x => x.endsWith("...")))
            .cast("double") / size(col("lines")))
      m.select(col("doc_id"), col("n_words"),
        fx(col("mean_wlen")).as("mean_wlen_x1e4"),
        fx(col("alpha_frac")).as("alpha_frac_x1e4"),
        fx(col("sym_ratio")).as("sym_ratio_x1e4"),
        col("stop_hits"),
        col("n_words").between(50, 100000).as("r_words"),
        (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0).as("r_wlen"),
        (col("sym_ratio") <= 0.1).as("r_sym"),
        (col("bullet_frac") <= 0.9).as("r_bullet"),
        (col("ellipsis_frac") <= 0.3).as("r_ellipsis"),
        (col("alpha_frac") >= 0.8).as("r_alpha"),
        (col("stop_hits") >= 2).as("r_stops"))
        .withColumn("pass",
          col("r_words") && col("r_wlen") && col("r_sym") && col("r_bullet") &&
            col("r_ellipsis") && col("r_alpha") && col("r_stops"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, text, ${Fn.sqlTextTokens} AS t FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t) AS mean_wlen,
               CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                 AS DOUBLE) / len(t) AS alpha_frac,
               CAST(len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.'))
                 AS DOUBLE) / len(t) AS sym_ratio,
               CAST(len(list_filter(t, x -> list_contains(
                 ['the','be','to','of','and','that','have','with'], x)))
                 AS BIGINT) AS stop_hits,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
        FROM toks WHERE len(t) > 0),
      m2 AS (
        SELECT *,
               CAST(len(list_filter(lines, x ->
                 starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*')))
                 AS DOUBLE) / len(lines) AS bullet_frac,
               CAST(len(list_filter(lines, x -> ends_with(x, '...')))
                 AS DOUBLE) / len(lines) AS ellipsis_frac
        FROM m)
      SELECT doc_id, n_words,
             CAST(floor(mean_wlen * 10000 + 0.5) AS BIGINT) AS mean_wlen_x1e4,
             CAST(floor(alpha_frac * 10000 + 0.5) AS BIGINT) AS alpha_frac_x1e4,
             CAST(floor(sym_ratio * 10000 + 0.5) AS BIGINT) AS sym_ratio_x1e4,
             stop_hits,
             n_words BETWEEN 50 AND 100000 AS r_words,
             mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS r_wlen,
             sym_ratio <= 0.1 AS r_sym,
             bullet_frac <= 0.9 AS r_bullet,
             ellipsis_frac <= 0.3 AS r_ellipsis,
             alpha_frac >= 0.8 AS r_alpha,
             stop_hits >= 2 AS r_stops,
             (n_words BETWEEN 50 AND 100000) AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
               AND sym_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
               AND alpha_frac >= 0.8 AND stop_hits >= 2 AS pass
      FROM m2""")),

    // ── C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    //    public rule set): keep only lines that end in terminal
    //    punctuation, have ≥5 words, and don't mention "javascript";
    //    drop whole documents containing "lorem ipsum" or "{" or with
    //    <3 kept lines. The corpus has no line structure (single-line
    //    punctuation-free synthetic docs), so — the d9-twin / m5-PNG
    //    pattern — each doc is first LINED deterministically from its
    //    token array as a pure function of (doc_id, text) both engines
    //    replay: k = doc_id%4+4 words per line, punctuation by
    //    (doc_id+i)%3, a "javascript" taint every 7th line, and
    //    lorem/brace trap lines on doc_id%97 / doc_id%89. The rules
    //    then run for real against the lined text (flags come from
    //    string search, not from the trap arithmetic). Pure per-row
    //    map over the scan — no shuffle, 100 TB-safe. ─────────────────
    ("t12_c4_filter", (s: SparkSession, dir: String) => {
      val lined = Fn.table(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .withColumn("k", (pmod(col("doc_id"), lit(4)) + 4).cast("int"))
        .withColumn("nl",
          ceil(size(col("t")).cast("double") / col("k")).cast("int"))
        .withColumn("lines", concat(
          transform(sequence(lit(0), col("nl") - 1), i => concat(
            array_join(slice(col("t"), i * col("k") + 1, col("k")), " "),
            when(pmod(col("doc_id") + i, lit(7)) === 0, " javascript").otherwise(""),
            when(pmod(col("doc_id") + i, lit(3)) === 0, ".")
              .when(pmod(col("doc_id") + i, lit(3)) === 1, "?").otherwise(""))),
          when(pmod(col("doc_id"), lit(97)) === 0,
            array(lit("lorem ipsum dolor sit"))).otherwise(array().cast("array<string>")),
          when(pmod(col("doc_id"), lit(89)) === 0,
            array(lit("var x = {"))).otherwise(array().cast("array<string>"))))
      lined
        .withColumn("kept", filter(col("lines"), x =>
          (x.endsWith(".") || x.endsWith("?") || x.endsWith("!") ||
            x.endsWith("\"")) &&
            size(filter(split(x, "\\s+"), w => length(w) > 0)) >= 5 &&
            !lower(x).contains("javascript")))
        .withColumn("full", array_join(col("lines"), "\n"))
        .withColumn("has_lorem", lower(col("full")).contains("lorem ipsum"))
        .withColumn("has_brace", col("full").contains("{"))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          col("has_lorem"), col("has_brace"),
          (size(col("kept")) >= 3 && !col("has_lorem") && !col("has_brace"))
            .as("keep_doc"),
          length(array_join(col("kept"), "\n")).cast("long").as("clean_chars"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, ${Fn.sqlTextTokens} AS t FROM documents),
      base AS (
        SELECT doc_id, t, CAST(doc_id % 4 + 4 AS BIGINT) AS k,
               CAST(ceil(len(t) / CAST(doc_id % 4 + 4 AS DOUBLE)) AS BIGINT) AS nl
        FROM toks WHERE len(t) > 0),
      lined AS (
        SELECT doc_id,
          list_transform(range(0, nl), i ->
            array_to_string(list_slice(t, i * k + 1, i * k + k), ' ')
            || CASE WHEN (doc_id + i) % 7 = 0 THEN ' javascript' ELSE '' END
            || CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                    WHEN (doc_id + i) % 3 = 1 THEN '?' ELSE '' END)
          || CASE WHEN doc_id % 97 = 0 THEN ['lorem ipsum dolor sit']
               ELSE CAST([] AS VARCHAR[]) END
          || CASE WHEN doc_id % 89 = 0 THEN ['var x = {']
               ELSE CAST([] AS VARCHAR[]) END AS lines
        FROM base),
      m AS (
        SELECT doc_id, lines,
               list_filter(lines, x ->
                 (ends_with(x, '.') OR ends_with(x, '?') OR ends_with(x, '!')
                  OR ends_with(x, '"'))
                 AND len(list_filter(string_split_regex(x, '\\s+'),
                                     w -> w <> '')) >= 5
                 AND NOT contains(lower(x), 'javascript')) AS kept,
               contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum')
                 AS has_lorem,
               contains(array_to_string(lines, chr(10)), '{') AS has_brace
        FROM lined)
      SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept, has_lorem, has_brace,
             len(kept) >= 3 AND NOT has_lorem AND NOT has_brace AS keep_doc,
             CAST(coalesce(length(array_to_string(kept, chr(10))), 0)
               AS BIGINT) AS clean_chars
      FROM m""")),

    // ── language-mixture rebalancing: deterministic down-sampling to a
    //    UNIFORM target mixture (the data-mixing step after t1/t6): a
    //    doc survives with p = min(1, N/(L·n_lang)) where N = corpus
    //    size, L = #languages, n_lang = its language's count — i.e.
    //    over-represented languages are thinned to the equal share,
    //    under-represented ones kept whole. The coin is the same
    //    portable hash t6 splits on, and the threshold compare is
    //    EXACT 64-bit integer arithmetic (h·L·n_lang < 2³²·N — no
    //    float probability anywhere), so the sample is reproducible
    //    row-for-row on any engine and any partitioning. Scale shape:
    //    one tiny per-language count aggregate broadcast back over the
    //    scan — the corpus never shuffles. ─────────────────────────────
    ("t13_lang_rebalance", (s: SparkSession, dir: String) => {
      val docs = Fn.table(s, dir, "documents").select(col("doc_id"), col("lang"))
      val counts = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"))
      val totals = counts.agg(sum(col("n_lang")).as("n_total"),
        count(lit(1)).as("n_langs"))
      docs.join(broadcast(counts), Seq("lang"))
        .join(broadcast(totals))
        .withColumn("h", Fn.md5Prefix32(col("doc_id").cast("string")))
        .select(col("doc_id"), col("lang"), col("n_lang"),
          least(lit(10000L),
            floor(lit(10000.0) * col("n_total") /
              (col("n_langs") * col("n_lang"))).cast("long")).as("p_keep_x1e4"),
          (col("h") * col("n_langs") * col("n_lang") <
            lit(4294967296L) * col("n_total")).as("keep"))
    }: DataFrame, Some(s"""
      WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
        FROM documents GROUP BY 1),
      totals AS (
        SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM counts)
      SELECT d.doc_id, d.lang, c.n_lang,
             least(10000, CAST(floor(10000.0 * t.n_total
               / (t.n_langs * c.n_lang)) AS BIGINT)) AS p_keep_x1e4,
             ${Fn.sqlHash32Expr("CAST(d.doc_id AS VARCHAR)")}
               * t.n_langs * c.n_lang < 4294967296 * t.n_total AS keep
      FROM documents d JOIN counts c USING (lang) CROSS JOIN totals t""")),

    // ── DSIR-style importance selection (Xie et al. 2023, "Data
    //    Selection for Language Models via Importance Resampling"):
    //    score every raw document by how target-like (here: English)
    //    its hashed unigram feature counts are, then resample with
    //    probability proportional to the importance weight. Three
    //    deliberate deviations keep the pipeline exact and portable:
    //    (1) features are hashed token buckets (B = 1024, DSIR's
    //    hashing trick at n = 1) — the bucket table is FIXED-SIZE, so
    //    the per-feature ratio table broadcasts at any corpus scale;
    //    (2) the per-feature score is the Laplace-smoothed target/raw
    //    probability RATIO as a ×1e6 integer fixpoint, additive over
    //    occurrences like DSIR's log-weight but computed with integer
    //    division only (logs are not bit-reproducible cross-engine);
    //    (3) the resampling coin is t13's deterministic threshold
    //    compare, keep ⟺ h·ΣW < 2³²·K·w with keep budget K =
    //    ⌈n_docs/4⌉, evaluated in DECIMAL(38,0) (HUGEINT in the
    //    oracle) so the three-term product cannot overflow. Zero-token
    //    docs are ABSENT from the output (t2's corpus-wide
    //    convention — callers coalesce absent to not-kept; their
    //    importance weight is 0, so proportional resampling could
    //    never keep them anyway), and n_docs/K count scored docs
    //    only. Scale
    //    shape: the corpus explodes ONCE into the cached feats table;
    //    from it, two 1024-row count aggregates + one 2-value total,
    //    ratio table broadcast back over feats, one per-doc sum — no
    //    corpus-sized shuffle beyond the per-doc aggregate. The ratio
    //    arithmetic is exact int64 while 1e6·(n_tgt+1)·(N_raw+B) <
    //    2⁶³ (token totals ≲ 10⁹ per side); beyond that promote the
    //    ratio row to DECIMAL(38,0) — same structure, the table is
    //    still 1024 rows. ─────────────────────────────────────────────
    ("t14_dsir_select", (s: SparkSession, dir: String) => {
      val B = 1024L
      val feats = Fn.track(Fn.spread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(Fn.tokensCol(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"),
          pmod(Fn.md5Prefix32(col("tok")), lit(B)).as("f"))
        .cache())
      // raw and target counts in ONE pass over feats (the separate
      // raw/tgt/tot aggregates scanned the cached feats three times);
      // the totals then come from the B-row table, not the corpus —
      // identical integers: n_tgt per f is the same conditional count,
      // nr = Σ n_raw = count(*), nt = Σ n_tgt
      val counts = Fn.track(feats.groupBy(col("f"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
        .cache())
      val tot = counts.agg(sum(col("n_raw")).as("nr"),
        sum(col("n_tgt")).as("nt"))
      // the count table is a B-row aggregate; planner statistics on
      // fresh aggregates are unreliable, so pin the broadcast
      val ratio = counts.crossJoin(broadcast(tot))
        .select(col("f"),
          expr(s"1000000 * (n_tgt + 1) * (nr + $B) DIV ((n_raw + 1) * (nt + $B))")
            .as("rf"))
      // cached: the keep-threshold total and the final projection both
      // read the per-doc scores — uncached, the feats⋈ratio pass ran
      // twice
      val scored = Fn.track(feats.join(broadcast(ratio), Seq("f"))
        .groupBy(col("doc_id")).agg(sum(col("rf")).as("score_x1e6"))
        .cache())
      val sel = scored.agg(sum(col("score_x1e6")).as("w_tot"),
        count(lit(1)).as("n_docs"))
      def dec(c: Column): Column = c.cast("decimal(38,0)")
      scored.crossJoin(broadcast(sel))
        .select(col("doc_id"), col("score_x1e6"),
          (dec(Fn.md5Prefix32(col("doc_id").cast("string"))) * dec(col("w_tot")) <
            dec(lit(4294967296L)) * dec(expr("(n_docs + 3) DIV 4")) *
              dec(col("score_x1e6"))).as("keep"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, lang, ${Fn.sqlTextTokens} AS t FROM documents),
      feats AS (
        SELECT doc_id, lang, ${Fn.sqlHash32Expr("tok")} % 1024 AS f
        FROM (SELECT doc_id, lang, unnest(t) AS tok FROM toks)),
      raw AS (SELECT f, CAST(count(*) AS BIGINT) AS n_raw FROM feats GROUP BY 1),
      tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS n_tgt
              FROM feats WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
                     CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt
              FROM feats),
      ratio AS (
        SELECT r.f,
               (1000000 * (coalesce(g.n_tgt, 0) + 1) * (t.nr + 1024))
                 // ((r.n_raw + 1) * (t.nt + 1024)) AS rf
        FROM raw r LEFT JOIN tgt g USING (f) CROSS JOIN tot t),
      scored AS (
        SELECT doc_id, CAST(sum(rf) AS BIGINT) AS score_x1e6
        FROM feats JOIN ratio USING (f) GROUP BY 1),
      sel AS (SELECT CAST(sum(score_x1e6) AS BIGINT) AS w_tot,
                     CAST(count(*) AS BIGINT) AS n_docs FROM scored)
      SELECT s2.doc_id, s2.score_x1e6,
             CAST(${Fn.sqlHash32Expr("CAST(s2.doc_id AS VARCHAR)")} AS HUGEINT) * w_tot
               < CAST(4294967296 AS HUGEINT) * ((n_docs + 3) // 4) * s2.score_x1e6
               AS keep
      FROM scored s2 CROSS JOIN sel""")),

    // ── BPE pair statistics (Sennrich et al. 2016 §3.2 — the
    //    tokenizer-training inner loop): frequency-weighted counts of
    //    adjacent character pairs over the corpus vocabulary, ranked
    //    with the deterministic (count DESC, pair ASC) tie-break; the
    //    rank-1 row IS the first BPE merge, and [[bpeMerges]] iterates
    //    exactly this computation to learn a merge table. Scale shape:
    //    the corpus collapses to the vocab-sized word-frequency table
    //    first (one hash-agg; vocab grows ~log corpus), pairs explode
    //    from the VOCAB (≤ word length fan-out), and the final global
    //    rank window runs over the pair table, which is bounded by
    //    alphabet² — a few-hundred-row sort, never corpus-sized. ──────
    ("t15_bpe_pairs", (s: SparkSession, dir: String) => {
      val freq = Fn.spread(s, dir, "documents")
        .select(explode(Fn.tokensCol(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val pairs = freq.select(col("n"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => struct(col("w").substr(i, lit(1)).as("l"),
            col("w").substr(i + 1, lit(1)).as("r")))).as("p"))
      pairs.groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .select(col("l"), col("r"), col("cnt"),
          row_number().over(Window.orderBy(col("cnt").desc, col("l"), col("r")))
            .cast("long").as("rank"))
        .filter(col("rank") <= 20)
    }: DataFrame, Some(s"""
      WITH words AS (
        SELECT unnest(${Fn.sqlTextTokens}) AS w FROM documents),
      freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM words WHERE length(w) >= 2 GROUP BY 1),
      pairs AS (
        SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, n
        FROM (SELECT w, n, unnest(range(1, length(w))) AS i FROM freq)),
      agg AS (SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
              FROM pairs GROUP BY 1, 2),
      ranked AS (
        SELECT l, r, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, l, r) AS BIGINT) AS rank
        FROM agg)
      SELECT l, r, cnt, rank FROM ranked WHERE rank <= 20""")),

    // ── bigram-LM surprisal filter (the CCNet/KenLM perplexity-filter
    //    analog, Wenzek et al. 2020): train a bigram model ON the
    //    corpus (conditional count ratios), score every document by
    //    its mean token surprisal, keep docs at-or-below the corpus
    //    mean. All arithmetic is integer — surprisal(w1 w2) =
    //    ⌊count(w1·) × 1e6 / count(w1 w2)⌋ (the ×1e6 fixpoint of
    //    1/P(w2|w1), monotone in the true -log P) — so the oracle is
    //    hash-exact with no float kernel anywhere; the 1e12 cap bounds
    //    singleton-bigram spikes (and keeps the per-doc DECIMAL(38,0)
    //    sum far from overflow at any corpus size). Scale shape: the
    //    bigram-instance table is corpus-sized but every join on it is
    //    an equi-join against the (much smaller) bigram- and
    //    unigram-count aggregates; one cached pass feeds both counts
    //    and the scoring join; the threshold is a one-row aggregate. ──
    ("t16_bigram_surprisal", (s: SparkSession, dir: String) => {
      val toks = Fn.spread(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bg = Fn.track(toks.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1)).as("b")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.b").as("b"))
        .cache())
      val c2 = bg.groupBy(col("b")).agg(count(lit(1)).as("n2"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
      val inst = bg.join(c2, Seq("b")).join(c1, Seq("w1"))
        .select(col("doc_id"),
          expr("least(CAST(n1 AS DECIMAL(38,0)) * 1000000 DIV n2, " +
            "1000000000000)").as("s"))
      // per-doc aggregate carries the RAW decimal sum so the corpus
      // mean derives from the doc table (Σ_doc s_sum DIV Σ_doc n — the
      // same exact integers as aggregating inst directly); the earlier
      // form re-ran the whole bg⋈c2⋈c1 join chain a second time just
      // for the one-row mean
      val docAgg = Fn.track(inst.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(CAST(s AS DECIMAL(38,0)))").as("s_sum"))
        .cache())
      val docScores = docAgg.select(col("doc_id"), col("n_bigrams"),
        expr("s_sum DIV n_bigrams").cast("long").as("surprisal_x1e6"))
      val tot = docAgg.agg(
        expr("sum(s_sum) DIV sum(n_bigrams)").cast("long").as("mean_s"))
      docScores.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_bigrams"), col("surprisal_x1e6"),
          (col("surprisal_x1e6") <= col("mean_s")).as("keep"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, ${Fn.sqlTextTokens} AS t FROM documents),
      bg AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)),
      c2 AS (SELECT b, CAST(count(*) AS BIGINT) AS n2 FROM bg GROUP BY 1),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1 FROM bg GROUP BY 1),
      inst AS (
        SELECT g.doc_id,
               least(CAST(c1.n1 AS HUGEINT) * 1000000 // c2.n2,
                     CAST(1000000000000 AS HUGEINT)) AS s
        FROM bg g JOIN c2 USING (b) JOIN c1 USING (w1)),
      doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(s) // count(*) AS BIGINT) AS surprisal_x1e6
              FROM inst GROUP BY 1),
      tot AS (SELECT CAST(sum(s) // count(*) AS BIGINT) AS mean_s FROM inst)
      SELECT doc_id, n_bigrams, surprisal_x1e6,
             surprisal_x1e6 <= mean_s AS keep
      FROM doc CROSS JOIN tot""")),

    // ── CCNet-style PARAGRAPH dedup (Wenzek et al. 2020 §3.1: hash
    //    each paragraph, drop every occurrence after the first,
    //    corpus-wide — the stage that runs BEFORE the LM filter and
    //    removes boilerplate CCNet found made up ~70% of raw crawl
    //    text). The corpus has no paragraph structure, so — the t12
    //    lining pattern — docs are paragraphed deterministically from
    //    the token array (k = doc_id%4+4 words per paragraph), with a
    //    fixed boilerplate header planted on every 5th doc: the
    //    cross-doc dup class the operator must remove. "First" is the
    //    global minimum of occ = doc_id·2²⁰ + idx — exact integer
    //    order both engines replay (paragraph counts stay ≪ 2²⁰).
    //    Scale shape: paragraph instances are linear in corpus tokens;
    //    first-occurrence is ONE hash-agg keyed on the paragraph hash
    //    (map-side partial min/count); the back-join is an equi-join
    //    whose build rows are one per DISTINCT hash — a hot
    //    boilerplate paragraph cannot fan out (d10's no-fan-out
    //    argument). Emits the per-doc summary (paragraphs, kept,
    //    cross-doc shared, drop ratio) a pipeline thresholds on. ─────
    ("t17_paragraph_dedup", (s: SparkSession, dir: String) => {
      val paras = Fn.table(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .withColumn("k", (pmod(col("doc_id"), lit(4)) + 4).cast("int"))
        .withColumn("nl",
          ceil(size(col("t")).cast("double") / col("k")).cast("int"))
        .select(col("doc_id"), concat(
          when(pmod(col("doc_id"), lit(5)) === 0,
            array(lit("all rights reserved subscribe for updates")))
            .otherwise(array().cast("array<string>")),
          transform(sequence(lit(0), col("nl") - 1),
            i => array_join(slice(col("t"), i * col("k") + 1, col("k")), " ")))
          .as("ps"))
      val inst = Fn.track(paras
        .select(col("doc_id"), posexplode(col("ps")))
        .withColumn("h", Fn.md5Prefix32(col("col")))
        .withColumn("occ", col("doc_id") * lit(1048576L) + col("pos"))
        .cache()) // two consumers: the first-occurrence agg + the back-join
      val first = inst.groupBy(col("h"))
        .agg(min(col("occ")).as("first_occ"), count(lit(1)).as("n_copies"))
      inst.join(first, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("occ") === col("first_occ"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_shared"))
        .withColumn("drop_ratio_x1e4", floor(
          (col("n_paras") - col("n_kept")).cast("double") * 10000 /
            col("n_paras").cast("double") + lit(0.5)).cast("long"))
    }: DataFrame, Some(s"""
      WITH toks AS (SELECT doc_id, ${Fn.sqlTextTokens} AS t FROM documents),
      base AS (
        SELECT doc_id, t, CAST(doc_id % 4 + 4 AS BIGINT) AS k,
               CAST(ceil(len(t) / CAST(doc_id % 4 + 4 AS DOUBLE)) AS BIGINT) AS nl
        FROM toks WHERE len(t) > 0),
      paras AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                 THEN ['all rights reserved subscribe for updates']
                 ELSE CAST([] AS VARCHAR[]) END
               || list_transform(range(0, nl), i ->
                    array_to_string(list_slice(t, i * k + 1, i * k + k), ' '))
                 AS ps
        FROM base),
      inst AS (
        SELECT doc_id, i - 1 AS pos, ps[i] AS para,
               ${Fn.sqlHash32Expr("ps[i]")} AS h,
               doc_id * 1048576 + (i - 1) AS occ
        FROM (SELECT doc_id, ps, unnest(range(1, len(ps) + 1)) AS i
              FROM paras)),
      first AS (SELECT h, min(occ) AS first_occ,
                       CAST(count(*) AS BIGINT) AS n_copies
                FROM inst GROUP BY 1)
      SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_paras,
             CAST(sum(CASE WHEN occ = first_occ THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             CAST(floor(CAST(count(*) - sum(CASE WHEN occ = first_occ
                     THEN 1 ELSE 0 END) AS DOUBLE) * 10000
                   / CAST(count(*) AS DOUBLE)
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS drop_ratio_x1e4
      FROM inst i JOIN first USING (h)
      GROUP BY 1""")),

    // ── corpus mixture report: the composition summary every pipeline
    //    run publishes (and every mixing decision consumes — t13's
    //    rebalance targets are set FROM this table): per (lang, source)
    //    stratum, document/token/char mass and the token share of the
    //    whole corpus as an exact ×1e6 integer (DIV, not float
    //    division, so the share is bit-identical cross-engine).
    //    Scale shape: one hash-agg over the scan (map-side partials)
    //    to a strata-sized table, then a one-row total broadcast back
    //    over it — the corpus is read once and never shuffles. ───────
    ("t19_mixture_report", (s: SparkSession, dir: String) => {
      val per = Fn.spread(s, dir, "documents")
        .select(col("lang"), col("source"),
          size(Fn.tokensCol(col("text"))).cast("long").as("nt"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("n_chars"))
      per.crossJoin(broadcast(per.agg(sum(col("n_tokens")).as("tot"))))
        .withColumn("token_share_x1e6",
          expr("CAST((n_tokens * 1000000) DIV tot AS BIGINT)"))
        .drop("tot")
    }: DataFrame, Some(s"""
      WITH per AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(${Fn.sqlTextTokens})) AS BIGINT) AS n_tokens,
               CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
      SELECT lang, source, n_docs, n_tokens, n_chars,
             CAST((n_tokens * 1000000) // tot AS BIGINT) AS token_share_x1e6
      FROM per CROSS JOIN tot"""))
  )

  /** Learn `rounds` BPE merges (Sennrich et al. 2016) from the corpus
    * — the full tokenizer-training loop whose single round
    * `t15_bpe_pairs` exposes as a query. The corpus is touched ONCE
    * (the word-frequency aggregate); every round then works on the
    * VOCAB-sized table: explode adjacent symbol pairs, weighted
    * count, argmax with the (count DESC, pair ASC) tie-break — ONE
    * row of driver traffic per round — and a greedy leftmost merge
    * applied via an aggregate fold. Each round's table is eagerly
    * `localCheckpoint`ed (truncated lineage, the d8-contraction
    * discipline) and the previous round's blocks freed immediately,
    * so memory stays one-vocab-sized regardless of round count. At
    * 100 TB the vocab table grows ~log corpus, so rounds cost
    * O(vocab), not O(corpus). Returns (left, right, weighted count)
    * per learned merge, in merge order. */
  def bpeMerges(docs: DataFrame, rounds: Int): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.graftshim.BlockShim
    var freq = docs
      .select(explode(Fn.tokensCol(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // code-point symbolization via substr (NOT split("(?!^)"),
      // which cuts between surrogate halves and mangles
      // supplementary-plane chars to '?' — pinned by the ModulesSpec
      // beyond-the-BMP test); length()/substr() count code points, the
      // same semantics t15 and the DuckDB oracle use. Single-symbol
      // words can never pair or change: drop them here (and per round
      // below) so every round's fold + checkpoint only carries live
      // vocab rows; the returned merges are unaffected.
      .select(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("sym"), col("n"))
      .filter(size(col("sym")) >= 2)
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      val top = freq.filter(size(col("sym")) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(0), size(col("sym")) - 2),
          i => struct(element_at(col("sym"), i + 1).as("l"),
            element_at(col("sym"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((l, r, cnt))
        // greedy leftmost merge: fold the symbol array, replacing a
        // trailing `l` with `l+r` when `r` arrives (a just-merged
        // symbol can't re-trigger: it equals l+r, not l). `get`, not
        // `element_at`: on the empty accumulator the index is invalid
        // and ANSI element_at throws where get yields NULL → false.
        val next = freq.select(
          aggregate(col("sym"), array().cast("array<string>"), (acc, x) =>
            when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(x)))).as("sym"),
          col("n"))
          .filter(size(col("sym")) >= 2) // fully-merged words retire
          .localCheckpoint(true)
        BlockShim.unpersist(freq)
        freq = next
      }
    }
    BlockShim.unpersist(freq)
    out.toSeq
  }

  /** Greedy BPE segmentation of one word under a merge-rank table:
    * repeatedly merge ALL occurrences (leftmost first) of the
    * lowest-rank adjacent pair present — standard apply_bpe
    * (Sennrich et al. 2016). NOTE: lowest-rank-first replay almost
    * always reproduces the training segmentation, but not provably on
    * symbol-collision corners (two merges producing the same string
    * can resurrect an early pair after its training round has
    * passed); apply_bpe shares this property. Pure function; exposed
    * for the spec's independent cross-check. */
  private[graft] def encodeWord(w: String,
      rank: Map[(String, String), Int]): Array[String] = {
    // code-point split — w.map(_.toString) would leave lone surrogates
    var sym: Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        out += w.substring(i, i + n)
        i += n
      }
      out.result()
    }
    var done = sym.length < 2
    while (!done) {
      var bi = -1; var br = Int.MaxValue; var i = 0
      while (i < sym.length - 1) {
        val r = rank.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
        if (r < br) { br = r; bi = i }
        i += 1
      }
      if (bi < 0 || br == Int.MaxValue) done = true
      else {
        val l = sym(bi); val r2 = sym(bi + 1)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < sym.length) {
          if (j < sym.length - 1 && sym(j) == l && sym(j + 1) == r2) {
            out += (l + r2); j += 2
          } else { out += sym(j); j += 1 }
        }
        sym = out.result()
        done = sym.length < 2
      }
    }
    sym
  }

  /** Apply a learned merge table to the corpus — the production
    * tokenization step [[bpeMerges]] trains for. Runs as a
    * mapPartitions kernel (the §2.11 extraction-kernel pattern): the
    * merge table broadcasts (R entries — small at any corpus scale),
    * each partition keeps a word→pieces memo so every DISTINCT word
    * segments once per partition (the memo is vocab-bounded — vocab
    * grows ~log corpus; an LRU cap slots in here if a pathological
    * partition ever held too many distinct words). No vocab-table
    * join, no corpus shuffle — a pure map over the scan. Returns
    * (doc_id, pieces, n_pieces). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rank = bc.value
        val memo = new java.util.HashMap[String, Array[String]]()
        it.map { case (id, text) =>
          // Locale.ROOT: executor-default-locale toLowerCase would
          // tokenize differently than the Spark lower() the LEARNER
          // used (Turkish dotless-ı being the classic divergence) —
          // and differently across executors in one job
          val toks = text.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          val pieces = toks.flatMap { w =>
            var p = memo.get(w)
            if (p == null) { p = encodeWord(w, rank); memo.put(w, p) }
            p
          }
          (id, pieces, pieces.length.toLong)
        }
      }.toDF("doc_id", "pieces", "n_pieces")
  }
}
