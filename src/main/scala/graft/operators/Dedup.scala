package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data deduplication operators over the `documents` table:
  * exact (hash group-by), n-gram Jaccard, MinHash signatures + LSH
  * band-bucket candidate pairs, and SimHash. All hashes are the
  * portable md5-prefix integer (Fn.md5Prefix32) so the DuckDB oracle
  * reproduces identical values.
  *
  * Scale notes (100 TB design point):
  *  - exact dedup is one hash-aggregate shuffle on the digest — the
  *    canonical min(doc_id)-keeper pattern.
  *  - pairwise Jaccard joins on the *shingle* (inverted index), never
  *    on the cross product; the shingle join is the standard
  *    at-scale formulation and the band-bucket join (LSH) is the
  *    sub-quadratic path: pairs only form within equal (band, key)
  *    buckets.
  *  - MinHash is explode × seeds → partial min per partition (Spark's
  *    hash aggregate does map-side combine) — no skew: shingle
  *    frequencies are bounded by doc length.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  private val NSeeds = 16
  private val BandSize = 4

  // cache lifetimes are owned by the shared per-query registry
  // (Fn.track / Fn.release — SparkEntry releases on every query entry)
  private def track(df: DataFrame): DataFrame = Fn.track(df)

  /** Shingle document-frequency cap: a stop-phrase shingle shared by
    * 10⁶ docs turns the inverted-index self-join quadratic on that one
    * key. Shingles with df > cap carry no near-dup signal (they are
    * corpus boilerplate) and are dropped BEFORE any join — the
    * standard at-scale formulation. */
  private val MaxShingleDf = 32

  /** The corpus shingle table with the df-capped (hot) shingles
    * removed by a left-anti join. The hot set is hinted to broadcast
    * only when [[Fn.broadcastable]] admits its byte bound: each text
    * byte lands in at most three shingles, and a hot shingle occurs
    * more than MaxShingleDf times, so the hot types hold at most
    * 3·T / (MaxShingleDf + 1) bytes, T = the footer bytes of
    * `documents.text`. The hot type count grows with the corpus (Zipf
    * tail; 10⁸+ on a real crawl), and a `broadcast()` hint bypasses
    * Spark's own size checks, so an unguarded hint OOMs executors;
    * without the hint the planner/AQE pick the join from measured
    * sizes. A dictionary-encoded chunk counts a repeated text once, so
    * exact duplicates can lift the hot set above the bound, to at most
    * 3·T. */
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame = {
    // cached: BOTH the df aggregate and the anti-join's probe side
    // consume the exploded shingle table — uncached, the whole
    // scan→tokenize→shingle chain executes twice (Spark does not
    // dedup common subplans); lifetime owned by the release registry
    val sh = track(Fn.spread(s, dir, "documents")
      .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(Fn.shinglesCol(col("t"))).as("sh"))
      .cache())
    // shingles are distinct per doc, so count(*) = document frequency
    val hot = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf)
      .select(col("sh"))
    val hotBytes =
      3 * Fn.colBytesStat(s, dir, "documents", "text") / (MaxShingleDf + 1)
    val hotSized = if (Fn.broadcastable(s, hotBytes)) broadcast(hot) else hot
    sh.join(hotSized, Seq("sh"), "left_anti")
  }

  private val shingledSql = s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
        FROM documents),
      sh0 AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
        FROM toks WHERE len(t) >= 3),
      sh AS (
        SELECT * FROM sh0 WHERE sh NOT IN (
          SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $MaxShingleDf))"""

  /** Shared-shingle pair counts (doc_a < doc_b, common) from the
    * capped shingle table — the inverted-index pair generator behind
    * d2 and d16. Pairs are enumerated INSIDE each shingle's sorted
    * posting list, whose length the df cap bounds at MaxShingleDf
    * (group state ≤ 32 ids, fan-out ≤ 496 pairs per shingle — O(1)
    * at any corpus size), so the generator costs ONE shuffle of the
    * shingle table where the former self-join shuffled and sorted it
    * twice. Result set and counts are identical: each shared shingle
    * contributes exactly one ordered (a, b) occurrence either way. */
  private[graft] def shinglePairCounts(sh: DataFrame): DataFrame = {
    val grouped = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    grouped
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common"))
  }

  /** Wide MinHash signatures: one row per doc, `mh[i]` = the seed-i
    * minhash (min over the doc's shingles of md5Prefix32(i + ":" +
    * sh)). ONE hash aggregate with NSeeds min columns over the
    * shingle table — the earlier formulation exploded every shingle
    * ×NSeeds and pushed corpus·shingles·16 rows through the
    * aggregate; the md5 count is unchanged (16 per shingle either
    * way), the per-row overhead and shuffle rows are 16× fewer, and
    * the per-seed minima are identical integers. */
  private def minhashWide(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(array((0 until NSeeds).map(i =>
        min(Fn.md5Prefix32(concat(lit(s"$i:"), col("sh"))))): _*).as("mh"))

  /** MinHash-LSH candidate pairs (doc_a < doc_b) — the shared
    * generator behind d4 (which emits the pairs) and d8 (which
    * resolves them into duplicate clusters). Pairs form only inside
    * equal (band, key) buckets; the shingle DF cap bounds any one
    * bucket's fan-out. */
  private[graft] def lshCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    // band keys fold straight out of the wide signature row (seed
    // order is construction order — the same ","-joined seed-ascending
    // string the former collect_list+sort built); cached: both sides
    // of the self-join consume the signature chain, and Spark does not
    // reuse the common subplan across the join's two branches
    val banded = track(minhashWide(shingled(s, dir))
      .select(col("doc_id"),
        posexplode(array((0 until NSeeds / BandSize).map(b =>
          concat_ws(",", (BandSize * b until BandSize * (b + 1)).map(i =>
            element_at(col("mh"), i + 1).cast("string")): _*)): _*))
          .as(Seq("band", "key")))
      .cache())
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Connected components over an undirected pair list
    * (`doc_a`, `doc_b`), emitting one row per vertex —
    * (doc_id, cluster_id = component min id, cluster_size,
    * is_canonical = min-id-keeper flag, the same keeper rule as d1).
    *
    * Engine: LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * diameter-INDEPENDENT formulation. Each round rewires every vertex
    * toward its neighborhood minimum (large-star moves strictly-larger
    * neighbors, small-star collapses the smaller side), so path
    * lengths halve geometrically and the edge set converges to stars
    * rooted at each component's min id in O(log n) rounds — where
    * min-label propagation (ClusterAsofSpec's cross-check) needs
    * O(diameter) rounds. The iteration runs on
    * the EDGE table only (candidate pairs ≪ corpus); each round is two
    * edge-sized hash-agg shuffles + two edge-sized joins, and the
    * driver only ever sees one-row convergence aggregates, never data
    * rows. On the shallow, star-like graphs LSH candidates usually
    * form, contraction pays ~1.5× min-label's constant per round (two
    * grouped shuffles instead of one) for the same few rounds — the
    * price of the logarithmic worst-case bound that survives
    * adversarial chain components at corpus scale, where an
    * O(diameter) loop is unbounded. Convergence is detected by
    * edge-SET equality (count equal
    * and `except` empty) — exact and overflow-proof, unlike a sum
    * probe, which Long wraparound makes only probabilistically sound
    * at very large id domains. `localCheckpoint` truncates the growing
    * lineage each round and every superseded round's blocks are
    * unpersisted immediately; the final labels are registered with the
    * query-lifetime registry ([[Fn.release]]). On a cluster with
    * preemptible executors use a reliable `checkpoint` dir so a lost
    * executor re-reads instead of failing the round. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val labels = contract(pairs).labels
    val sizes = labels.groupBy(col("lab").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("lab").as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  private[graft] final case class CcResult(labels: DataFrame, rounds: Int)

  /** Driver heap one canonical pair costs [[contractOnDriver]], in
    * bytes: the worst of four measurements, 421, rounded up. Measured
    * as the smallest `-Xmx` (8 MB steps; G1, JDK 17, local[2], so the
    * executor side shares the heap) in which the leg completes on
    * pairs that each bring two new ids, the worst case, less the 62 MB
    * a 1,024-pair run needs: 302, 421, 297 and 356 B per pair at
    * 2²⁰, 1,677,721, 2²¹ and 3·2²⁰ pairs. It pays for the collect
    * (Spark's decoded rows next to the boxed (u, v) tuples), the
    * union-find's sorted id and parent arrays, the per-vertex label
    * tuples shipped back through `parallelize`, and buffer growth,
    * which makes it uneven across sizes. */
  private[graft] val CcDriverBytesPerEdge: Long = 448L

  /** Canonical pair set of a (`doc_a`, `doc_b`) pair list: (u, v) with
    * u ≥ v, deduped and cached — the input both legs of [[contract]]
    * take. Self-loops stay, so a vertex whose only pair is a self-loop
    * still gets a label. */
  private[graft] def canonical(pairs: DataFrame): DataFrame =
    track(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().cache())

  /** The contraction behind [[connectedComponents]]: per-vertex
    * (doc_id, lab). Connected-component labels are UNIQUE (component
    * min id), so its two legs are equivalent (the ClusterAsofSpec
    * leg-agreement test pins it). When the pairs fit the driver
    * ([[Fn.collectable]] of the pair count × [[CcDriverBytesPerEdge]],
    * the measured per-pair cost), one collect and a local union-find
    * replace the distributed loop's 4-6 jobs × O(log n) rounds. The
    * candidate pair table is ≪ corpus by construction (LSH bands + the
    * df cap), but not BOUNDED, so the size check stays. */
  private[graft] def contract(pairs: DataFrame): CcResult = {
    val canon = canonical(pairs)
    if (Fn.collectable(canon.count() * CcDriverBytesPerEdge)) {
      import pairs.sparkSession.implicits._
      contractOnDriver(pairs.sparkSession, canon.as[(Long, Long)].collect())
    } else contractDistributed(canon)
  }

  /** [[contract]]'s driver leg: local union-find over the collected
    * canonical pairs. Vertex ids are sorted, so a vertex's index order
    * is its id order; union keeps the smaller root, so every root is
    * its component's MIN id — the distributed leg's label contract.
    * Self-loop pairs add their vertex and no union. */
  private[graft] def contractOnDriver(spark: SparkSession,
      pairs: Array[(Long, Long)]): CcResult = {
    val ids = new Array[Long](2 * pairs.length)
    var i = 0
    while (i < pairs.length) {
      ids(2 * i) = pairs(i)._1; ids(2 * i + 1) = pairs(i)._2; i += 1
    }
    java.util.Arrays.sort(ids)
    var n = 0 // dedupe in place
    for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      // path halving
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { p =>
      val (ra, rb) = (find(at(p._1)), find(at(p._2)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = Array.tabulate(n)(v => (ids(v), ids(find(v))))
    import spark.implicits._
    val labels = spark.sparkContext
      .parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
        math.max(1, spark.sparkContext.defaultParallelism / 4))
      .toDF("doc_id", "lab")
    CcResult(track(labels), 0)
  }

  /** [[contract]]'s distributed leg over [[canonical]] pairs:
    * large-star / small-star rounds on the edge table. Tests call it
    * directly to pin this leg. */
  private[graft] def contractDistributed(canon: DataFrame): CcResult = {
    // per-round lineage truncation starts here
    var edges = track(canon.filter(col("u") =!= col("v")).localCheckpoint(true))
    var edgeCount = edges.count()
    val vertices = track(canon.select(col("u").as("doc_id"))
      .union(canon.select(col("v").as("doc_id"))).distinct()
      .localCheckpoint(true))
    var rounds = 0
    var converged = edgeCount == 0L
    while (!converged && rounds < 64) {
      rounds += 1
      // large-star: every strictly-larger neighbor of u re-attaches to
      // min(Γ(u) ∪ {u}); needs UNDIRECTED neighborhoods
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      // materialized once: `large` feeds BOTH the small-star mins and
      // the join's probe side, and Spark does not dedup common
      // DataFrame subplans — uncached, every round would recompute the
      // nbrs→mins→join chain twice
      val large = nbrs.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      // small-star: on the (u > v)-directed list, u and all its smaller
      // neighbors re-attach to the neighborhood min
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(minsS, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.BlockShim.unpersist(large)
      val newCount = small.count()
      // both sides distinct ⇒ set equality ⇔ same count ∧ except empty
      converged = newCount == edgeCount &&
        small.except(edges).limit(1).count() == 0L
      org.apache.spark.sql.graftshim.BlockShim.unpersist(edges)
      edges = small
      edgeCount = newCount
    }
    // the 64-round cap is a runaway backstop ~6× above the theoretical
    // O(log n) bound for any feasible graph — if it ever trips, the
    // edge set is NOT a fixpoint and the labels below would be silently
    // wrong, so fail loudly instead of returning them
    require(converged,
      s"connected-components contraction did not converge within 64 " +
        s"rounds ($edgeCount edges remain) — refusing to emit labels " +
        s"from a non-fixpoint edge set")
    // fixpoint edge set = {(vertex, component-min root)}; roots have no
    // outgoing (u > v) edge, so they label themselves
    val labels = track(vertices
      .join(edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("lab"))
      .localCheckpoint(true))
    org.apache.spark.sql.graftshim.BlockShim.unpersist(edges)
    CcResult(labels, rounds)
  }

  /** CTE chain mirroring [[lshCandidatePairs]]; append after
    * [[shingledSql]] and select from `cand`. */
  private def candSqlCtes = s""",
      sig AS (
        SELECT doc_id, seed, min(h) AS minhash FROM (
          SELECT doc_id, seed,
                 ${Fn.sqlHash32Expr("CAST(seed AS VARCHAR) || ':' || sh")} AS h
          FROM sh CROSS JOIN (SELECT unnest(range($NSeeds)) AS seed))
        GROUP BY doc_id, seed),
      banded AS (
        SELECT doc_id, CAST(floor(seed / $BandSize) AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS key
        FROM sig GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""

  /** Per-doc SimHash bit sums behind the signature — shared by d5
    * (which renders the 64-char bit string over the raw corpus) and d9
    * (which folds the bits of a twin-augmented corpus into band
    * integers for pigeonhole pairing). `docs` must carry
    * (doc_id, text); `nBits` ≤ 128 (md5 supplies 32 hex chars).
    *
    * Emitted WIDE: one row per doc with columns s0..s{nBits-1}
    * (tokens with bit b set) and n (distinct tokens), so the classic
    * signed sum is sw_b = 2·s_b − n. ONE hash aggregate over the
    * (doc, distinct-token) table — the earlier formulation exploded
    * every token ×nBits and shuffled corpus·tokens·nBits rows through
    * the aggregate (measured 3.1 s for d9 at sf0.1, dominated by that
    * explode); the per-bit integers are identical, it is the same sum
    * grouped differently. The bit extraction is the integer shift
    * form of [[Fn.hexBit]] (same values; pow(2.0, ·) per row replaced
    * by a literal shift, b is a compile-time constant here). */
  private def simhashWide(docs: DataFrame, nBits: Int = 64): DataFrame = {
    require(nBits <= 128, s"md5 supplies 128 bits, asked for $nBits")
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(Fn.tokensCol(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok")))
    def bit(b: Int): Column = {
      // digit = hexval(h[1 + b/4]); bit = (digit >> (3 - b%4)) & 1
      val a = ascii(substring(col("h"), 1 + b / 4, 1))
      val digit = when(a >= 97, a - 87).otherwise(a - 48)
      shiftright(digit, 3 - b % 4).bitwiseAND(lit(1)).cast("long")
    }
    val aggs = (0 until nBits).map(b => sum(bit(b)).as(s"s$b")) :+
      count(lit(1)).as("n")
    tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** sw_b = 2·s_b − n over a [[simhashWide]] row — positive ⇔ bit set
    * in the signature. */
  private def swPos(b: Int): Column = col(s"s$b") * 2 - col("n") > 0

  /** CTEs producing the same (doc_id, b, sw) relation as
    * [[simhashBitSums]] over source relation `src`; the caller owns
    * the WITH keyword and appends its own fold. `nBitsSql` is an SQL
    * expression for the fingerprint width (default the 64-bit d5
    * signature). */
  private def simhashBitsCtes(src: String, nBitsSql: String = "64") = s"""toks AS (
        SELECT doc_id, md5(tok) AS h FROM (
          SELECT doc_id, unnest(list_distinct(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> ''))) AS tok
          FROM $src)),
      bits AS (
        SELECT doc_id, b,
               sum(CAST(CAST(floor(
                 (strpos('0123456789abcdef',
                         substr(h, 1 + CAST(floor(b / 4) AS INT), 1)) - 1)
                 / pow(2, 3 - (b % 4))) AS BIGINT) % 2 AS BIGINT) * 2 - 1) AS sw
        FROM toks CROSS JOIN (SELECT unnest(range($nBitsSql)) AS b)
        GROUP BY 1, 2)"""

  /** d9 fingerprint sizing: 4 pigeonhole bands (Hamming ≤ 3 ⇒ at least
    * one band identical), each band carrying
    * w = clamp(16, ⌈log₂ n⌉, 32) bits so per-(band,value) bucket
    * occupancy stays ~O(1) as the corpus grows — 16-bit bands cap out
    * at ~10⁶ docs (n/65536 docs share each bucket value and the
    * candidate equi-join goes quadratic in the hot buckets); widening
    * the fingerprint (md5 supplies up to 128 bits = 4×32) is the
    * standard fix and leaves the plan shape unchanged. Same sizing
    * rule as [[Similarity.planesFor]], same exact-integer ⌈log₂⌉ (a
    * float ln-chain diverges from SQL's log2 at powers of two; the
    * oracle mirrors this as `least(32, greatest(16, ceil(log2 n)))`,
    * exact at the boundaries because log2 of a power of two is exact
    * in doubles and the nearest non-power log2 is ≥ 2⁻³³ from an
    * integer over this clamp range). */
  private[graft] def bandBitsFor(n: Long): Int = {
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(32, math.max(16, ceilLog2))
  }

  private val rawDefs: Seq[(String, Q, Option[String])] = Seq(

    // ── exact dedup: digest group-by, min-id keeper ─────────────────
    ("d1_exact_dedup", (s: SparkSession, dir: String) => {
      Fn.table(s, dir, "documents")
        .groupBy(md5(lower(trim(col("text")))).as("digest"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
    }: DataFrame, Some("""
      SELECT md5(lower(trim(text))) AS digest,
             min(doc_id) AS keeper, count(*) AS n_copies
      FROM documents GROUP BY 1""")),

    // ── n-gram Jaccard near-dup pairs via shingle inverted index ────
    ("d2_ngram_jaccard", (s: SparkSession, dir: String) => {
      // cached because three consumers (counts + both join sides) read
      // it; lifetime owned by the release() registry (freed when the
      // next Dedup query starts)
      val sh = track(shingled(s, dir).cache())
      val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = shinglePairCounts(sh)
      pairs
        .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (col("na") + col("nb") - col("common")), 6))
        .filter(col("jaccard") >= 0.05)
        .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
    }: DataFrame, Some(s"""
      $shingledSql,
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT p.doc_a, p.doc_b, p.common,
             round(CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common), 6) AS jaccard
      FROM pairs p
      JOIN counts ca ON ca.doc_id = p.doc_a
      JOIN counts cb ON cb.doc_id = p.doc_b
      WHERE round(CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common), 6) >= 0.05""")),

    // ── MinHash signatures (16 portable hash functions) ─────────────
    ("d3_minhash_sig", (s: SparkSession, dir: String) => {
      // wide signature (one hash-agg, no seed explode) unpacked to the
      // (doc_id, seed, minhash) contract rows — posexplode's pos IS
      // the seed, by construction order
      minhashWide(shingled(s, dir))
        .select(col("doc_id"), posexplode(col("mh")).as(Seq("seed", "minhash")))
    }: DataFrame, Some(s"""
      $shingledSql
      SELECT doc_id, seed, min(h) AS minhash FROM (
        SELECT doc_id, seed,
               ${Fn.sqlHash32Expr("CAST(seed AS VARCHAR) || ':' || sh")} AS h
        FROM sh CROSS JOIN (SELECT unnest(range($NSeeds)) AS seed))
      GROUP BY doc_id, seed""")),

    // ── LSH candidate pairs: 4 bands × 4 rows over the signatures ───
    ("d4_lsh_pairs", (s: SparkSession, dir: String) =>
      lshCandidatePairs(s, dir): DataFrame, Some(s"""
      $shingledSql$candSqlCtes
      SELECT doc_a, doc_b FROM cand""")),

    // ── duplicate-CLUSTER resolution: connected components over the
    //    LSH candidate pairs (large-star/small-star contraction). This
    //    is the missing last stage of a real dedup pipeline: pairs →
    //    transitive clusters → one canonical keeper per cluster (the
    //    min-id rule, consistent with d1); scale shape documented on
    //    [[connectedComponents]]. The oracle replays the closure as a
    //    recursive CTE — exact for any graph, feasible because the
    //    candidate pair set is tiny at test scale. ──────────────────
    ("d8_dup_clusters", (s: SparkSession, dir: String) =>
      connectedComponents(lshCandidatePairs(s, dir)): DataFrame, Some(s"""
      ${shingledSql.trim.replaceFirst("WITH", "WITH RECURSIVE")}$candSqlCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM cand),
      reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      labels AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u),
      sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
      SELECT l.doc_id, l.cluster_id, s.cluster_size,
             l.doc_id = l.cluster_id AS is_canonical
      FROM labels l JOIN sizes s USING (cluster_id)""")),

    // ── the dedup DECISION a real pipeline ends with: near-dup
    //    clusters (d8's MinHash-LSH + contraction machinery) → keep
    //    the highest-quality representative per cluster (t2's quality
    //    fixpoint; max quality, min doc_id tie-break — exact integer
    //    argmax, no float compare), everything else marked for drop.
    //    Singletons cluster with themselves and keep trivially. The
    //    winner is TWO tiny hash aggregates on cluster_id (max, then
    //    min-id among maxima) instead of a window sort — cluster
    //    count ∝ corpus, every join an equi-join, map-side partials
    //    throughout; the expensive part remains the candidate
    //    generator + CC, shared with d8. ────────────────────────────────
    ("d13_cluster_keepbest", (s: SparkSession, dir: String) => {
      val labels = contract(lshCandidatePairs(s, dir)).labels
        .select(col("doc_id"), col("lab").as("cluster_id"))
      // quality FUSED into the same corpus pass that enumerates the
      // doc ids (was: a second documents scan + a doc⋈doc shuffle
      // join against the quality table) — identical values: the
      // expression is TextAnalysis.qualityX1e4Col itself, and docs
      // the old left join left NULL (zero-token) take the same
      // coalesce-default 0 through the otherwise branch. Cached:
      // the stats aggregate and the final projection both read it.
      val alld = track(Fn.table(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .select(col("doc_id"),
          when(size(col("t")) > 0, TextAnalysis.qualityX1e4Col(col("t")))
            .otherwise(0L).as("quality_x1e4"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("quality_x1e4"))
        .cache())
      // ONE hash aggregate replaces the former sizes agg + best agg +
      // re-join + winner agg (three shuffles and a join): the argmax
      // key q·2⁴⁸ + (2⁴⁸−1−doc_id) makes max() pick (max quality,
      // min doc_id) — identical winner, since q ≤ 10⁴ dominates and
      // the complemented doc_id breaks ties downward; exact integer
      // arithmetic while doc_id < 2⁴⁸ (q·2⁴⁸+2⁴⁸ ≈ 2.8e18 < 2⁶³).
      // That domain is enforced in the same aggregate: a cluster whose
      // min/max doc_id leaves [0, 2⁴⁸) fails the query, never a
      // silently wrong keeper
      val M = 1L << 48
      val stats = alld.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max(col("quality_x1e4") * M + (lit(M - 1) - col("doc_id"))).as("bk"),
          min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .select(col("cluster_id"), col("cluster_size"),
          when(col("lo") < 0 || col("hi") >= M,
            raise_error(lit("d13_cluster_keepbest: doc_id outside [0, 2^48)")))
            .otherwise(lit(M - 1) - pmod(col("bk"), lit(M))).as("win"))
      alld.join(stats, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("quality_x1e4"), (col("doc_id") === col("win")).as("keep"))
    }: DataFrame, Some(s"""
      ${shingledSql.trim.replaceFirst("WITH", "WITH RECURSIVE")}$candSqlCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM cand),
      reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      labels AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u),${TextAnalysis.qualitySqlCte},
      alld AS (
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               coalesce(q.quality_x1e4, 0) AS quality_x1e4
        FROM documents d
        LEFT JOIN labels l ON l.doc_id = d.doc_id
        LEFT JOIN q ON q.doc_id = d.doc_id),
      sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM alld GROUP BY 1),
      best AS (
        SELECT cluster_id, max(quality_x1e4) AS mq FROM alld GROUP BY 1),
      winner AS (
        SELECT a.cluster_id, min(a.doc_id) AS win
        FROM alld a JOIN best b
          ON a.cluster_id = b.cluster_id AND a.quality_x1e4 = b.mq
        GROUP BY 1)
      SELECT a.doc_id, a.cluster_id, s.cluster_size, a.quality_x1e4,
             a.doc_id = w.win AS keep
      FROM alld a JOIN sizes s USING (cluster_id)
                  JOIN winner w USING (cluster_id)""")),

    // ── benchmark-contamination check: corpus docs sharing a word
    //    3-gram with the (small) benchmark set. The benchmark side
    //    BROADCASTS — the corpus side never shuffles for the join, and
    //    the shingle DF cap already bounds any one key's fan-out. The
    //    deterministic "benchmark" is doc_id % 97 = 0 (at scale: the
    //    eval-set shingle table). ──────────────────────────────────────
    ("d7_contamination", (s: SparkSession, dir: String) => {
      // both the bench side and the corpus side filter this relation —
      // cache it or the shingle chain runs twice
      val sh = track(shingled(s, dir).cache())
      val bench = sh.filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("sh"), col("doc_id").as("bench_id"))
      sh.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
        .join(broadcast(bench), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
          count(lit(1)).as("n_shared_shingles"))
    }: DataFrame, Some(s"""
      $shingledSql,
      bench AS (SELECT sh, doc_id AS bench_id FROM sh WHERE doc_id % 97 = 0)
      SELECT s.doc_id,
             count(DISTINCT b.bench_id) AS n_bench_hits,
             count(*) AS n_shared_shingles
      FROM sh s JOIN bench b USING (sh)
      WHERE s.doc_id % 97 <> 0
      GROUP BY 1""")),

    // ── contamination, BLOOM-PRUNED (d7's 100 TB leg): the benchmark
    //    shingle set compresses into a fixed-size bloom sketch
    //    (Spark's own BloomFilterAggregate/MightContain pair, surfaced
    //    via graft.functions.Bloom) and the corpus side is pruned by a
    //    per-row probe BEFORE any join — no shuffle of the corpus,
    //    and the exact-verify join then sees only the survivors.
    //    False positives die in the verify join; false negatives don't
    //    exist; ⇒ the RESULT IS EXACTLY d7's, so the DuckDB oracle is
    //    the exact query, hash-match included (the a8/a9b honest-
    //    sketch pattern: the sketch prunes, the contract is exact).
    //    Scale story: at 10⁸ benchmark shingles the exact broadcast in
    //    d7 is multiple GB per executor; the bloom is numBits/8 ≈
    //    150 MB at 12 bits/item and the probe is one hash per corpus
    //    shingle. Sketch sizing comes from the parquet-footer row
    //    count, never a counting scan. ─────────────────────────────────
    ("d11_bloom_decontam", (s: SparkSession, dir: String) => {
      val sh = track(shingled(s, dir).cache())
      val bench = sh.filter(pmod(col("doc_id"), lit(97L)) === 0)
        .select(col("sh"), col("doc_id").as("bench_id"))
      // expected items: docs/97 benchmark docs × (shingles/doc bounded
      // by the ~100-token documents ⇒ ≤ 98 distinct 3-gram shingles);
      // overshoot only makes the sketch sparser
      val expected = math.max(1024L, Fn.rowCountStat(s, dir, "documents") / 97 * 98)
      val numBits = math.min(1L << 27, java.lang.Long.highestOneBit(expected * 12) * 2)
      val bf = graft.functions.Bloom.buildBytes(
        bench, xxhash64(col("sh")), expected, numBits)
      sh.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
        .filter(graft.functions.Bloom.mightContainBytes(bf, xxhash64(col("sh"))))
        .join(broadcast(bench), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
          count(lit(1)).as("n_shared_shingles"))
    }: DataFrame, Some(s"""
      $shingledSql,
      bench AS (SELECT sh, doc_id AS bench_id FROM sh WHERE doc_id % 97 = 0)
      SELECT s.doc_id,
             count(DISTINCT b.bench_id) AS n_bench_hits,
             count(*) AS n_shared_shingles
      FROM sh s JOIN bench b USING (sh)
      WHERE s.doc_id % 97 <> 0
      GROUP BY 1""")),

    // ── SimHash: 64-bit signature from token md5 bits ───────────────
    ("d5_simhash", (s: SparkSession, dir: String) => {
      // wide bit sums → signature string in ONE projection: no second
      // groupBy, no collect_list sort (the bit order is the literal
      // concat order)
      simhashWide(Fn.spread(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          concat((0 until 64).map(b =>
            when(swPos(b), "1").otherwise("0")): _*).as("simhash"))
    }: DataFrame, Some(s"""
      WITH ${simhashBitsCtes("documents")}
      SELECT doc_id,
             string_agg(CASE WHEN sw > 0 THEN '1' ELSE '0' END, '' ORDER BY b)
               AS simhash
      FROM bits GROUP BY doc_id""")),

    // ── SimHash near-dup PAIRS by pigeonhole banding: the consumer of
    //    d5's signatures. The fingerprint folds into 4 × w-bit band
    //    integers, w sized from the corpus row-count STATISTIC
    //    (bandBitsFor: clamp(16, ⌈log₂ n⌉, 32); parquet-footer read,
    //    not a scan — same move as ann_lsh's planesFor) so
    //    per-(band,value) bucket occupancy stays ~O(1) at any corpus
    //    size. Hamming distance ≤ 3 guarantees (pigeonhole) at least
    //    one of the 4 bands is IDENTICAL, so candidates come from 4
    //    equi-joins on (band, value) — never an all-pairs comparison —
    //    and the exact Hamming check (bit_count of xor per band) runs
    //    only on candidates. Same sub-quadratic shape as d4/d6:
    //    bucketed candidates → exact re-score.
    //    The corpus has no token-SET duplicates, so (t7-style) twins
    //    are synthesized deterministically: every 17th doc gets a
    //    doubled-text twin — same DISTINCT token set ⇒ identical
    //    SimHash, while d1's raw digest misses it. That is exactly
    //    the class SimHash exists for: reorder/repeat-invariant
    //    duplication that exact dedup cannot see. ───────────────────
    ("d9_simhash_neardup", (s: SparkSession, dir: String) =>
      simhashNeardup(s, dir,
        bandBitsFor(Fn.rowCountStat(s, dir, "documents"))): DataFrame, Some(s"""
      WITH wv AS (
        SELECT CAST(least(32, greatest(16, ceil(log2(count(*))))) AS INT) AS w
        FROM documents),
      ofs AS (
        SELECT greatest(1000000, max(doc_id) + 1) AS o FROM documents),
      docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT o FROM ofs), text || ' ' || text
        FROM documents WHERE doc_id % 17 = 0),
      ${simhashBitsCtes("docs2", "4 * (SELECT w FROM wv)")},
      sig AS (
        SELECT doc_id, CAST(b // (SELECT w FROM wv) AS INT) AS band,
               CAST(sum(CASE WHEN sw > 0
                 THEN CAST(pow(2, (SELECT w FROM wv) - 1
                                  - (b % (SELECT w FROM wv))) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS v
        FROM bits GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
      ham AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(bit_count(xor(sa.v, sb.v))) AS BIGINT) AS hamming
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.band = sa.band
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""")),

    // ── PASSAGE-level repeated-substring detection: the dedup class
    //    doc-level operators (d1-d9) cannot see — boilerplate spans
    //    repeated ACROSS otherwise-distinct documents (headers,
    //    licenses, templated paragraphs), the target of suffix-array
    //    dedup in "Deduplicating Training Data Makes Language Models
    //    Better" (Lee et al., ACL 2022). Spark-native approximation:
    //    8-token sliding windows (stride 1) → portable window hash →
    //    a window is "repeated" when its hash occurs in ≥ 2 DISTINCT
    //    docs. Emits the per-doc contamination summary (window count,
    //    repeated-window count, ratio) — the signal a pipeline
    //    thresholds to quarantine boilerplate-heavy docs.
    //    Scale shape: the window table is linear in corpus tokens;
    //    the repeated set is ONE hash-agg; the back-join's build side
    //    is one row per distinct hash (no fan-out — unlike a shingle
    //    self-join, a hot boilerplate hash cannot go quadratic here). ──
    ("d10_repeated_passages", (s: SparkSession, dir: String) => {
      val K = 8
      // cached: the repeated-hash aggregate and the back-join's probe
      // side both read the window table — uncached, the tokenize +
      // per-window md5 chain ran twice
      val win = track(Fn.spread(s, dir, "documents")
        .select(col("doc_id"), Fn.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= K)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("t")) - K),
          i => Fn.md5Prefix32(concat_ws(" ", slice(col("t"), i + 1, lit(K))))))
          .as("h"))
        .cache())
      val rep = win.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1).as("is_rep"))
      win.join(rep, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          coalesce(sum(col("is_rep")), lit(0L)).cast("long").as("n_repeated"))
        .withColumn("rep_ratio",
          round(col("n_repeated").cast("double") / col("n_windows"), 6))
    }: DataFrame, Some(s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
        FROM documents),
      win AS (
        SELECT doc_id, ${Fn.sqlHash32Expr("array_to_string(t[i:i+7], ' ')")} AS h
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
              FROM toks WHERE len(t) >= 8)),
      rep AS (
        SELECT h, 1 AS is_rep FROM win
        GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
      SELECT w.doc_id, count(*) AS n_windows,
             CAST(coalesce(sum(r.is_rep), 0) AS BIGINT) AS n_repeated,
             round(CAST(coalesce(sum(r.is_rep), 0) AS DOUBLE) / count(*), 6)
               AS rep_ratio
      FROM win w LEFT JOIN rep r USING (h)
      GROUP BY 1""")),

    // ── URL canonicalization dedup: the FIRST dedup stage of every
    //    web-scale pipeline (CommonCrawl-style) — before any content
    //    hash runs, collapse re-crawls of the same resource whose URLs
    //    differ only in scheme, host case, `www.`, default port,
    //    tracking query params, fragments, `/index.html`, or a
    //    trailing slash. The corpus has no URL column, so the fixture
    //    derives a deterministic messy URL per document from
    //    (doc_id, source) — scheme/case/port/suffix/query/fragment
    //    variants cycle by doc_id residues, regenerable in SQL — and
    //    the OPERATOR is the canonicalizer: strip scheme → split
    //    authority/path → lowercase host, drop `www.` and default
    //    ports → drop query+fragment → drop `/index.html` and the
    //    trailing slash (path case is PRESERVED — only the authority
    //    is case-insensitive per RFC 3986). Keeper = min doc_id per
    //    canonical URL.
    //    Scale shape: canonicalization is a pure per-row projection
    //    (codegen'd regexps, no UDF); the dedup is ONE hash-agg on the
    //    canonical key with map-side partial aggregation — the same
    //    linear shape as d1. ────────────────────────────────────────
    ("d15_url_canonical", (s: SparkSession, dir: String) => {
      val m4 = pmod(col("doc_id"), lit(4L))
      val m3 = pmod(col("doc_id"), lit(3L))
      val m5 = pmod(col("doc_id"), lit(5L))
      val raw = concat(
        when(m4 === 0, "https://").when(m4 === 1, "HTTP://")
          .when(m4 === 2, "https://WWW.").otherwise("http://www."),
        col("source"), lit(".Example.COM"),
        when(pmod(col("doc_id"), lit(2L)) === 0, ":443").otherwise(""),
        lit("/Docs/"), pmod(col("doc_id"), lit(40L)).cast("string"),
        when(m3 === 0, "/").when(m3 === 2, "/index.html").otherwise(""),
        when(m5 === 0, "?utm_source=feed&page=2")
          .when(m5 === 1, "?page=2&utm_source=feed").otherwise(""),
        when(pmod(col("doc_id"), lit(7L)) === 0, "#sect-2").otherwise(""))
      Fn.spread(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("raw_url", raw)
        .withColumn("canon_url", canonicalUrl(raw))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("raw_url")).as("n_raw_forms"))
    }: DataFrame, Some("""
      WITH raw AS (
        SELECT doc_id,
               (CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://'
                  WHEN 2 THEN 'https://WWW.' ELSE 'http://www.' END)
               || source || '.Example.COM'
               || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
               || '/Docs/' || CAST(doc_id % 40 AS VARCHAR)
               || (CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN '/' WHEN 2 THEN '/index.html' ELSE '' END)
               || (CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN '?utm_source=feed&page=2'
                     WHEN 1 THEN '?page=2&utm_source=feed' ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN '#sect-2' ELSE '' END)
                 AS raw_url
        FROM documents),
      split_parts AS (
        SELECT doc_id, raw_url,
               regexp_replace(raw_url, '^[A-Za-z]+://', '') AS rest
        FROM raw),
      hp AS (
        SELECT doc_id, raw_url, rest,
               regexp_extract(rest, '^[^/?#]*') AS host0
        FROM split_parts),
      canon AS (
        SELECT doc_id, raw_url,
               regexp_replace(regexp_replace(lower(host0), '^www\.', ''),
                              ':(443|80)$', '')
               || regexp_replace(regexp_replace(regexp_replace(
                    substring(rest, length(host0) + 1),
                    '[?#].*', ''), '/index\.html$', '/'), '/$', '')
                 AS canon_url
        FROM hp)
      SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keeper,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms
      FROM canon GROUP BY 1""")),

    // ── MinHash ESTIMATOR accuracy, per pair: ties the sketch family
    //    (d3/d4) to its ground truth (d2) — for every exact-Jaccard
    //    pair ≥ 0.05, the 16-seed MinHash agreement fraction
    //    (matches·625 = ×1e4 fixpoint) next to the exact shingle
    //    Jaccard, plus the binomial 3σ check (σ ≤ √(J(1−J)/16) ≤ 0.125
    //    → bound 0.375). Everything — minhashes included — replays
    //    exactly in SQL, so this is a FULL-value oracle, not a pinned
    //    verdict: the boolean is data. This is the calibration table a
    //    pipeline inspects before trusting d4's band thresholds at a
    //    new corpus.
    //    Scale shape: d2's inverted-index pair generator (never
    //    all-pairs) + two equi-joins against the seed-exploded
    //    signature table (16 rows/doc, linear); one hash-agg per pair. ──
    ("d16_minhash_est", (s: SparkSession, dir: String) => {
      val sh = track(shingled(s, dir).cache())
      val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = shinglePairCounts(sh)
        .join(counts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n", "na"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("exact_x1e4", floor(
          col("common").cast("double") * 10000 /
            (col("na") + col("nb") - col("common")).cast("double")
            + lit(0.5)).cast("long"))
        .filter(col("exact_x1e4") >= 500)
        .select(col("doc_a"), col("doc_b"), col("exact_x1e4"))
      // cached: both signature joins below read the per-doc wide
      // signatures — uncached, the minhash aggregate ran twice
      val sigw = track(minhashWide(sh).cache())
      val sig = sigw
        .select(col("doc_id"), posexplode(col("mh")).as(Seq("seed", "minhash")))
      pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("seed"),
          col("minhash").as("ma")), Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("seed"),
          col("minhash").as("mb")), Seq("doc_b", "seed"))
        .groupBy(col("doc_a"), col("doc_b"), col("exact_x1e4"))
        .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L)) * 625)
          .cast("long").as("est_x1e4"))
        .withColumn("within_3sigma",
          abs(col("est_x1e4") - col("exact_x1e4")) <= 3750)
    }: DataFrame, Some(s"""
      $shingledSql,
      counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      pairs0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b, exact_x1e4 FROM (
          SELECT p.doc_a, p.doc_b,
                 CAST(floor(CAST(p.common AS DOUBLE) * 10000
                   / CAST(ca.n + cb.n - p.common AS DOUBLE)
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS exact_x1e4
          FROM pairs0 p
          JOIN counts ca ON ca.doc_id = p.doc_a
          JOIN counts cb ON cb.doc_id = p.doc_b)
        WHERE exact_x1e4 >= 500),
      sig AS (
        SELECT doc_id, seed, min(h) AS minhash FROM (
          SELECT doc_id, seed,
                 ${Fn.sqlHash32Expr("CAST(seed AS VARCHAR) || ':' || sh")} AS h
          FROM sh CROSS JOIN (SELECT unnest(range($NSeeds)) AS seed))
        GROUP BY doc_id, seed)
      SELECT e.doc_a, e.doc_b, e.exact_x1e4,
             CAST(sum(CASE WHEN sa.minhash = sb.minhash
               THEN 1 ELSE 0 END) * 625 AS BIGINT) AS est_x1e4,
             abs(CAST(sum(CASE WHEN sa.minhash = sb.minhash
               THEN 1 ELSE 0 END) * 625 AS BIGINT) - e.exact_x1e4) <= 3750
               AS within_3sigma
      FROM pairs e
      JOIN sig sa ON sa.doc_id = e.doc_a
      JOIN sig sb ON sb.doc_id = e.doc_b AND sb.seed = sa.seed
      GROUP BY 1, 2, 3"""))
  )

  /** The d9 dataflow with the band width injectable (tests pin the
    * wider-than-16-bit path, which driver-scale corpora never reach).
    * The twin offset must exceed every real doc_id or the synthetic
    * twin's signature would merge with a genuine document's (at ≥10⁶
    * dense ids a fixed 10⁶ offset collides — exactly the regime the
    * widened bands support); it comes from the parquet-footer COLUMN
    * statistic (metadata read, same rule as the width), floored at
    * 10⁶ so test-scale outputs are unchanged. */
  /** Canonical dedup key for a crawl URL (the d15 operator's core,
    * exposed for direct column use): scheme stripped; authority
    * lowercased with `www.` and default ports (:443/:80) removed
    * (the authority ends at '/', '?', or '#' per RFC 3986, so a
    * path-less `host?query` never swallows its query into the host);
    * query string and fragment dropped; `/index.html` and the
    * trailing slash removed. Path CASE IS PRESERVED — only the
    * authority is case-insensitive. Pure codegen'd column math. */
  def canonicalUrl(url: Column): Column = {
    val rest = regexp_replace(url, "^[A-Za-z]+://", "")
    val host0 = regexp_extract(rest, "^[^/?#]*", 0)
    val host = regexp_replace(
      regexp_replace(lower(host0), "^www\\.", ""), ":(443|80)$", "")
    val path = regexp_replace(
      regexp_replace(
        regexp_replace(rest.substr(length(host0) + lit(1), length(rest)),
          "[?#].*", ""),
        "/index\\.html$", "/"),
      "/$", "")
    concat(host, path)
  }

  private[graft] def simhashNeardup(s: SparkSession, dir: String, w: Int): DataFrame = {
      val offset = math.max(1000000L,
        Fn.colMaxStat(s, dir, "documents", "doc_id") + 1L)
      val base = Fn.spread(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.unionByName(
        base.filter(pmod(col("doc_id"), lit(17L)) === 0)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
      // band value = Σ bit·2^(w−1−j) folded from the WIDE bit sums in
      // one projection (exact integers — literal shifts, w ≤ 32, same
      // values the earlier per-band groupBy produced); no per-(doc,b)
      // or per-(doc,band) aggregate exists anymore, the one hash-agg
      // lives inside simhashWide
      def bandVal(band: Int): Column =
        (0 until w).map { j =>
          when(swPos(band * w + j), lit(1L << (w - 1 - j))).otherwise(lit(0L))
        }.reduce(_ + _)
      // cached: the candidate self-join's two sides and the exact
      // re-score all read the signature table
      val wide = Fn.track(simhashWide(docs, nBits = 4 * w)
        .select(col("doc_id"), array((0 until 4).map(bandVal): _*).as("sig"))
        .cache())
      val sig = wide.select(col("doc_id"),
        posexplode(col("sig")).as(Seq("band", "v")))
      val cand = sig.as("a")
        .join(sig.as("b"),
          col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(wide.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(wide.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .withColumn("hamming",
          aggregate(
            zip_with(col("sa"), col("sb"),
              (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
            lit(0L), (acc, d) => acc + d))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** release() moved to the central SparkEntry wrapper — every query
    * of every family frees the previous query's blocks on entry. */
  val defs: Seq[(String, Q, Option[String])] = rawDefs
}
