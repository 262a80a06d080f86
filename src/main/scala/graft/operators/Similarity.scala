package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, dim 64).
  *
  *  - `ann_topk_cosine`: brute-force cosine top-k for a query set —
  *    the correctness baseline. Broadcast the (small) query side; the
  *    big side streams. At 100 TB this is the per-batch scoring
  *    pattern (queries ≪ corpus).
  *  - `ann_lsh_topk`: the cheap CANDIDATE path — random-hyperplane
  *    (SimHash) LSH buckets from corpus-scaled deterministic integer
  *    hyperplanes (`planesFor`); candidate pairs only form inside a
  *    bucket (equi-join on the bucket key, a plain shuffle join,
  *    sub-quadratic). Single-table LSH recall for exact top-k is
  *    LIMITED BY CONSTRUCTION: P(neighbor shares all b plane signs)
  *    = (1-θ/π)^b — measured 0.033 recall@3 at 8 planes on the sf0.01
  *    corpus, matching theory. Use it where bucket-mates suffice
  *    (candidate generation, blocking); `ann_ivf_topk` is the QUALITY
  *    scale path (honest recall@3 0.60 at nprobe=4 on this corpus —
  *    see the artifact note on [[ivfTopk]]).
  *  - `d6_embed_neardup`: near-dup pairs as banded-LSH candidates →
  *    exact re-score (all-pairs survives only as the test oracle).
  *
  * Scores are rounded to 4 dp and ranked on the rounded value with a
  * vec_id tie-break, so ordering is insensitive to float-summation
  * order across engines.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  // native codegen dot product (graft.functions.ArrayDot): the HOF
  // formulation (aggregate ∘ zip_with) is interpreted per element and
  // dominated the all-pairs scans; same left-to-right summation order
  private def dotCol(a: Column, b: Column): Column =
    graft.functions.ArrayDot.dot(a, b)

  private def normCol(a: Column): Column = sqrt(dotCol(a, a))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** d6 LSH geometry: 16 OR-bands × 4 hyperplanes. Planes per band are
    * fixed by the THRESHOLD (shorter bands = higher per-band collision
    * probability at moderate cosine); corpus growth is absorbed by
    * adding bands/planes for the top-k query, not here. */
  private[operators] val D6Bands = 16
  private[operators] val D6Planes = 4

  /** Hyperplane count targeting a mean LSH bucket size of ~64 vectors:
    * `max(8, ceil(log2(n / 64)))`, mirrored in the oracle SQL as
    * `greatest(8, ceil(log2(count(*) / 64.0)))`. Computed here in
    * EXACT integer arithmetic (`ceil(log2(ceil(n/64)))` via bit
    * length, provably equal to `ceil(log2(n/64))` for n > 0) — a
    * float `ln(x)/ln(2)` returns 29.000000000000004 at x = 2²⁹ and
    * ceils to 30 while SQL's log2 gives exactly 29, so the engines
    * would diverge at every power-of-two corpus size. n/64.0 is a
    * dyadic rational (exact in double), so DuckDB's log2∘ceil chain
    * is exact at the integer boundaries too. */
  def planesFor(n: Long): Int = {
    val m = math.max(1L, (n + 63) / 64) // = ceil(n / 64)
    val ceilLog2 =
      if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(8, ceilLog2)
  }

  /** hyperplane `h`, dim `i` (1..64):
    * w = (((h²·7919 + i²·104729 + h·i·1299709) % 65537) % 7) - 3 —
    * data-independent, so the weights inline as literal arrays and
    * each projection is one native dot product. The QUADRATIC (h,i)
    * mixing matters: any affine `(h·k + i·m) % p` makes every plane a
    * phase-shift of ONE cyclic sequence (only ~7 effectively distinct
    * directions no matter how many bands — measured recall froze at
    * 0.45). This form gives 96/96 distinct planes, max pairwise
    * |cos| 0.42, mean weight ≈ 0; d6 recall 0.91 on the sf0.01 corpus.
    * Long arithmetic: h·i·1299709 overflows Int. */
  def planeWeights(h: Int): Seq[Double] =
    (1 to 64).map { i =>
      (((h.toLong * h * 7919 + i.toLong * i * 104729 +
        h.toLong * i * 1299709) % 65537) % 7 - 3).toDouble
    }

  private def planeBit(h: Int, e: Column): Column =
    when(round(dotCol(e, typedlit(planeWeights(h))), 6) >= 0, "1").otherwise("0")

  /** IVF coarse quantizer: 16 deterministic seed vectors (`vec_id <
    * 16`) refined by ONE k-means round over a deterministic md5 sample
    * (~25% of the corpus; at real scale the sample would be capped at
    * a few 10⁵ vectors — centroid quality needs samples, not the full
    * corpus). Everything is cross-engine exact:
    *  - the sample is `md5Prefix32(vec_id) % 4 = 0` — the same
    *    portable hash the dedup family uses;
    *  - assignment reuses the long-encoded argmin key
    *    (`round((1−cos)·10⁶)·32 + cid`, min(LONG) stays in codegen'd
    *    HashAggregate);
    *  - the refined centroid mean is computed in EXACT integer
    *    arithmetic — components are scaled `floor(x·1000)` to BIGINT
    *    (floor, not round: float inputs scaled by 1000 routinely land
    *    on exact .5 where engines' tie rules could differ), summed
    *    (order-independent), and divided back once — so both engines
    *    produce bit-identical centroid arrays.
    * A seed whose sample cell is empty drops out in both engines
    * identically. Returns (cid, ce: array<double>, cn: norm). */
  private def kmeansCentroids(emb: DataFrame): DataFrame = {
    val seeds = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("norm").as("cn"))
    val sample = emb.filter(
      pmod(Fn.md5Prefix32(col("vec_id").cast("string")), lit(4L)) === 0)
    val M = 32L
    val key = (round((lit(1.0) - dotCol(col("e"), col("ce")) /
      (col("norm") * col("cn"))) * 1e6, 0)).cast("long") * M + col("cid")
    val assigned = sample.join(broadcast(seeds))
      .select(col("vec_id"), key.as("k"))
      .groupBy(col("vec_id"))
      .agg(pmod(min(col("k")), lit(M)).as("cid"))
      .join(sample.select(col("vec_id"), col("e")), Seq("vec_id"))
    val comps = assigned
      .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(floor(col("x") * 1000).cast("long")).as("sx"),
        count(lit(1)).as("cnt"))
    // cached (16 rows): consumers reference the centroids inside
    // SEPARATE broadcast builds (corpus assignment, probe routing) and
    // exchange reuse does not cross jobs — uncached, the whole sampled
    // k-means chain re-ran once per build
    Fn.track(comps.groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("sx").cast("double") / (col("cnt") * lit(1000.0))).as("v")))),
        x => x.getField("v")).as("ce"))
      .withColumn("cn", normCol(col("ce")))
      .cache())
  }

  /** CTE chain mirroring [[kmeansCentroids]] over the `n` CTE
    * (vec_id, e, norm); exposes `cents(cid, ce, cn)`. */
  private val kmeansCentroidSqlCtes = """
      seeds AS (SELECT vec_id AS cid, e AS ce, norm AS cn FROM n WHERE vec_id < 16),
      samp AS (
        SELECT vec_id, e, norm FROM n
        WHERE CAST(list_sum(list_transform(range(1, 9),
                j -> (strpos('0123456789abcdef',
                             substr(md5(CAST(vec_id AS VARCHAR)), j, 1)) - 1)
                     * CAST(pow(16, 8 - j) AS BIGINT))) AS BIGINT) % 4 = 0),
      sk AS (
        SELECT s.vec_id,
               CAST(round((1 - list_sum(list_transform(range(1, 65),
                      i -> s.e[i] * c.ce[i])) / (s.norm * c.cn)) * 1000000, 0)
                    AS BIGINT) * 32 + c.cid AS k
        FROM samp s CROSS JOIN seeds c),
      sasn AS (SELECT vec_id, min(k) % 32 AS cid FROM sk GROUP BY 1),
      comps AS (
        SELECT a.cid, i AS pos,
               CAST(sum(CAST(floor(s.e[i] * 1000) AS BIGINT)) AS BIGINT) AS sx,
               count(*) AS cnt
        FROM sasn a JOIN samp s USING (vec_id)
             CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        GROUP BY 1, 2),
      cmean AS (
        SELECT cid,
               list(CAST(sx AS DOUBLE) / (cnt * 1000.0) ORDER BY pos) AS ce
        FROM comps GROUP BY cid),
      cents AS (
        SELECT cid, ce,
               sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
        FROM cmean)"""

  /** nprobe = 4 of 16 lists: the honest knee of the recall-cost curve
    * on this corpus (25% of the corpus scanned per query). */
  private[operators] val IvfNProbe = 4

  /** The ann_ivf dataflow with nprobe injectable (SimilaritySpec
    * measures the recall-vs-nprobe curve). Assignment and probing use
    * [[kmeansCentroids]]; scoring re-ranks exactly inside the probed
    * inverted lists.
    *
    * MEASUREMENT-ARTIFACT note (round 4): earlier rounds reported
    * recall@3 0.967 with raw `vec_id < 16` centroids — inflated,
    * because the query set (`vec_id < 10`) was a SUBSET of the
    * centroid set, so every query's own cell trivially contained its
    * neighborhood. On non-centroid queries the same configuration
    * scores 0.30 (nprobe=2). The k-means refinement genuinely improves
    * the honest number (0.333 vs 0.300 at nprobe=2; 0.500 vs 0.467 at
    * nprobe=4, non-centroid queries, sf0.01), and ~0.5-0.6 is near the
    * intrinsic ceiling here: the test embeddings are ISOTROPIC (random
    * pair cos ~ N(0, 0.125); nearest-neighbor cos ≈ 0.37 matches the
    * 3σ extreme-value expectation, i.e. there are no planted
    * clusters), so top-3 "neighbors" are barely tighter than the
    * Gaussian tail and any 16-cell quantizer splits them across
    * cells. On a real embedding corpus (which clusters hard) the same
    * pipeline's recall rises with cluster separation. */
  def ivfTopk(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    // cached: the centroid refinement, corpus assignment, probe build
    // and re-score all consume this relation — uncached each would
    // re-scan and re-normalize the corpus
    val emb = Fn.track(Fn.spread(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("norm", normCol(col("e")))
      .cache())
    val cents = kmeansCentroids(emb)
    val M = 32L
    val key = (round((lit(1.0) - dotCol(col("e"), col("ce")) /
        (col("norm") * col("cn"))) * 1e6, 0)).cast("long") * M + col("cid")
    val keys = emb.join(broadcast(cents)).select(col("vec_id"), key.as("k"))
    val assigned = keys.groupBy(col("vec_id"))
      .agg(pmod(min(col("k")), lit(M)).as("cid"))
      .join(emb, Seq("vec_id"))
    val qw = Window.partitionBy(col("qid")).orderBy(col("k").asc)
    val probes = keys.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("k"))
      .withColumn("pr", row_number().over(qw))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), pmod(col("k"), lit(M)).as("cid"))
      .join(emb.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("norm").as("qn")), Seq("qid"))
    val scored = assigned.join(probes, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        round(dotCol(col("qe"), col("e")) / (col("qn") * col("norm")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id").as("nid"), col("cos"), col("rank"))
  }

  /** LSH-candidates → exact re-score near-dup pairs (the d6 query).
    * The band self-join carries ONLY (vec_id, band, bkey) — the
    * "project before the exchange" rule: the former shape shuffled
    * the 64-double embedding through both sides of the join ×16
    * bands. Candidate ids dedup BEFORE the re-score, and the vectors
    * re-attach through two equi-joins against the cached embedding
    * table — each surviving pair is scored once, so dedup-then-score
    * emits exactly the rows score-then-dedup did (the cosine is a
    * pure function of the pair). */
  def lshNeardup(s: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val emb = Fn.track(Fn.spread(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("norm", normCol(col("e")))
      .cache())
    def bandKey(band: Int): Column =
      concat((0 until D6Planes).map(j => planeBit(band * D6Planes + j, col("e"))): _*)
    // cached: both sides of the band self-join consume the banded
    // projection (64 dot products per vector) — uncached it computes
    // twice
    val banded = Fn.track(emb.select(col("vec_id"),
        explode(array((0 until D6Bands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bkey"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .cache())
    val cand = banded.select(col("band"), col("bkey"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("bkey"), col("vec_id").as("vec_b")),
        Seq("band", "bkey"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("e").as("ea"),
        col("norm").as("na")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("e").as("eb"),
        col("norm").as("nb")), Seq("vec_b"))
      .withColumn("cos",
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** SemDeDup semantic-duplicate threshold — the d6 near-dup cosine,
    * so the two operators draw the same "duplicate" line. */
  private[operators] val D12Tau = 0.3

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * by k-means clustering + within-cell pruning. A vector is marked
    * duplicate when ANY cluster-mate RANKED ABOVE it is τ-close in
    * cosine; ranking inside a cell is centroid distance DESCENDING
    * (the paper keeps the far-from-centroid "extreme" examples and
    * prunes the redundant core), tied by vec_id ascending. This is
    * the published formulation exactly — one pairwise EXISTS, no
    * iterative connected components; a higher-ranked mate disqualifies
    * its juniors whether or not it survives itself, so τ-chains prune
    * conservatively by design.
    *
    * Scale contract: pairs form ONLY via an equi-join on the cell id,
    * so the quadratic term is bounded by the CELL size — O(Σ cᵢ²),
    * the SemDeDup design point. At corpus scale the cluster count
    * grows ∝ N holding target cell size constant (the paper runs
    * k = 11 000 on LAION-440M; the sizing statistic would come from
    * the parquet footer like [[planesFor]]). The 16-cell quantizer
    * here is the oracle-pinned test instance: [[kmeansCentroids]] and
    * its DuckDB CTE twin are bit-identical cross-engine, which is
    * what lets a clustering-dependent operator keep a hash-matching
    * oracle at all. Centroid distance is FREE: the assignment key is
    * k = round((1−cos)·10⁶)·32 + cid, so one min(LONG) hash aggregate
    * yields the cell (mod 32) and the distance rank (div 32). */
  def semDedup(s: SparkSession, dir: String, tau: Double = D12Tau): DataFrame = {
    // cached: centroid refinement, assignment, and the back-join for
    // vectors all read this projection
    val emb = Fn.track(Fn.spread(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("norm", normCol(col("e")))
      .cache())
    val cents = kmeansCentroids(emb)
    val M = 32L
    val key = (round((lit(1.0) - dotCol(col("e"), col("ce")) /
      (col("norm") * col("cn"))) * 1e6, 0)).cast("long") * M + col("cid")
    // cached: both sides of the within-cell self-join plus the final
    // keep-mark join read the assignment
    val asn = Fn.track(emb.join(broadcast(cents))
      .select(col("vec_id"), key.as("k"))
      .groupBy(col("vec_id")).agg(min(col("k")).as("mk"))
      .select(col("vec_id"), pmod(col("mk"), lit(M)).as("cid"),
        shiftright(col("mk"), 5).as("dist"))
      .join(emb, Seq("vec_id"))
      .cache())
    val senior = asn.select(col("cid"), col("vec_id").as("va"),
      col("dist").as("da"), col("e").as("ea"), col("norm").as("na"))
    val junior = asn.select(col("cid"), col("vec_id").as("vb"),
      col("dist").as("db"), col("e").as("eb"), col("norm").as("nb"))
    val dropped = senior.join(junior, Seq("cid"))
      .filter(col("da") > col("db") ||
        (col("da") === col("db") && col("va") < col("vb")))
      .filter(round(dotCol(col("ea"), col("eb")) /
        (col("na") * col("nb")), 4) >= tau)
      .select(col("vb").as("vec_id")).distinct()
    asn.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dist"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids per
    * subspace → an 8-nibble (8-byte) code per vector, 32× smaller
    * than the 64×4-byte float embedding. */
  private[operators] val PqSub = 8
  private[operators] val PqDim = 8
  private[operators] val PqK = 16

  /** ADC shortlist size for the exact re-rank stage. */
  private[operators] val PqShortlist = 20

  /** Product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): per subspace a
    * 16-centroid codebook (trained with the same seeded one-round
    * sampled k-means as [[kmeansCentroids]], exact-integer means so
    * the codebooks are bit-identical cross-engine), every vector
    * encoded to 8 nibbles, and queries scored by ASYMMETRIC DISTANCE
    * COMPUTATION: a per-query lookup table of subspace dot products
    * against the codebook, summed over the vector's codes.
    *
    * Cross-engine determinism: the per-(query, sub, centroid) table
    * entries are stored as `floor(dot·10⁶)` BIGINTs, so the ADC sum
    * over a vector's 8 codes is EXACT integer arithmetic — aggregate
    * order cannot perturb the score (the float dot itself is
    * deterministic within a row; only the cross-row SUM needed the
    * fixpoint). Reconstructed norms ride the same way
    * (Σ floor(|c|²·10⁶)).
    *
    * Scale contract (the reason PQ exists): at 100 TB the scored scan
    * reads ONLY the 8-byte code table — 32× less I/O and memory than
    * the raw vectors — joined to a broadcast LUT (|Q|·8·16 rows) and
    * folded by one hash aggregate with map-side partials; the raw
    * embedding column is touched just once, at encode time. Compose
    * with the d12/ann_ivf coarse quantizer (route queries to nprobe
    * cells, ADC-score within) for IVF-PQ when even the code scan
    * must shrink. Recall is bounded by quantization error —
    * SimilaritySpec measures it honestly against brute force on this
    * isotropic (clusterless) corpus. */
  /** The trained PQ artifacts over a cached (vec_id, e, norm) frame:
    * subspace rows, the per-subspace codebook, the corpus code table
    * (cached — the only corpus-sized relation PQ scoring reads), and
    * the per-query ADC lookup table with floor(·10⁶) integer entries.
    * Shared by [[pqTopk]] (flat ADC) and [[ivfpqTopk]] (cell-routed). */
  private final case class PqModel(codes: DataFrame, lut: DataFrame)

  private def pqModel(emb: DataFrame): PqModel = {
    // `ss` (the subvector's self dot product) rides the row: inside
    // the ×16-centroid argmin fan-out it was recomputed per centroid —
    // hoisting it (and the centroid's `cc` below) cuts the encode
    // stage from 3 to 1 dot products per (row, centroid). The key
    // expression tree keeps the exact (ss − 2·dot + cc) evaluation
    // order, so every argmin key is bit-identical to before.
    val subRows = emb.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(PqSub - 1)),
        i => slice(col("e"), i * PqDim + 1, lit(PqDim)))).as(Seq("sub", "se")))
      .withColumn("ss", dotCol(col("se"), col("se")))
    // squared L2 distance to a centroid, as the long-encoded argmin
    // key (round(d²·10⁶)·16 + cid — min picks nearest, cid ties low)
    def key(ce: Column, cc: Column, cid: Column): Column =
      (round((col("ss") - lit(2.0) * dotCol(col("se"), ce) +
        cc) * 1e6, 0)).cast("long") * PqK + cid
    val seeds = subRows.filter(col("vec_id") < PqK)
      .select(col("sub"), col("vec_id").as("cid"), col("se").as("ce"),
        col("ss").as("cc"))
    val sample = subRows.filter(
      pmod(Fn.md5Prefix32(col("vec_id").cast("string")), lit(4L)) === 0)
    val sasn = sample.join(broadcast(seeds), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        key(col("ce"), col("cc"), col("cid")).as("k"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(pmod(min(col("k")), lit(PqK.toLong)).as("cid"))
      .join(sample, Seq("vec_id", "sub"))
    val comps = sasn
      .select(col("sub"), col("cid"), posexplode(col("se")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cid"), col("pos"))
      .agg(sum(floor(col("x") * 1000).cast("long")).as("sx"),
        count(lit(1)).as("cnt"))
    // cached: the corpus encode AND the query LUT both consume the
    // trained codebook — uncached, the whole sampled-k-means chain
    // re-ran once per consumer (128 rows, but its BUILD is a pass
    // over the sample)
    val cbook = Fn.track(comps.groupBy(col("sub"), col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("sx").cast("double") / (col("cnt") * lit(1000.0))).as("v")))),
        x => x.getField("v")).as("ce"))
      .withColumn("cc", dotCol(col("ce"), col("ce")))
      .cache())
    // the PQ code table — the ONLY corpus-sized relation downstream.
    // NOT cached: both consumers (pqTopk's and ivfpqTopk's ADC fold)
    // read it exactly once per query, so the former cache was a pure
    // extra materialization pass (a production build-once/serve-many
    // split would persist it via TableIO instead)
    val codes = subRows.join(broadcast(cbook), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        key(col("ce"), col("cc"), col("cid")).as("k"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(pmod(min(col("k")), lit(PqK.toLong)).as("code"))
    val lut = subRows.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sub"), col("se").as("qse"))
      .join(cbook, Seq("sub"))
      .select(col("qid"), col("sub"), col("cid").as("code"),
        floor(dotCol(col("qse"), col("ce")) * 1e6).cast("long").as("pf"),
        floor(col("cc") * 1e6).cast("long").as("rn"))
    PqModel(codes, lut)
  }

  /** Exact re-rank of a (qid, vec_id) shortlist against the raw
    * vectors — PQ stage 2 (raw embeddings touched for only R
    * candidates per query). */
  private def exactRerank(cand: DataFrame, emb: DataFrame): DataFrame = {
    val rescored = cand
      .join(emb.select(col("vec_id"), col("e"), col("norm")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("norm").as("qn")), Seq("qid"))
      .withColumn("cos",
        round(dotCol(col("qe"), col("e")) / (col("qn") * col("norm")), 4))
    val wE = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    rescored.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id").as("nid"), col("cos"), col("rank"))
  }

  def pqTopk(s: SparkSession, dir: String): DataFrame = {
    // cached: subspace rows feed codebook training, corpus encoding,
    // and the query LUT; the full-dim norms feed final scoring
    val emb = Fn.track(Fn.spread(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("norm", normCol(col("e")))
      .cache())
    val pm = pqModel(emb)
    val agg = pm.codes.join(broadcast(pm.lut), Seq("sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pf")).as("num"), sum(col("rn")).as("rn2"))
    val scored = agg
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select(col("vec_id").as("qid"), col("norm").as("qn")),
        Seq("qid"))
      .withColumn("acos",
        round((col("num") / 1e6) / (col("qn") * sqrt(col("rn2") / 1e6)), 4))
    // stage 2 (the standard ADC usage): exact re-rank of the ADC
    // shortlist — raw vectors are read for only R candidates per query
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    val cand = scored.withColumn("srank", row_number().over(wA))
      .filter(col("srank") <= PqShortlist)
      .select(col("qid"), col("vec_id"))
    exactRerank(cand, emb)
  }

  /** IVF-PQ (the IVFADC system of Jégou et al. 2011): the
    * [[kmeansCentroids]] coarse quantizer routes each query to its
    * `nprobe` nearest cells, ADC scores ONLY the code rows of vectors
    * living in probed cells, and the shortlist re-ranks exactly. The
    * composition of ann_ivf's pruning with ann_pq's compression: at
    * 100 TB the scan is the 8-byte code table AND it is cell-pruned
    * to nprobe/16 of the corpus — both axes of the published design.
    * All determinism arguments of the two parents carry over
    * unchanged (long-encoded argmins, floor(·10⁶) integer ADC sums,
    * exact-integer centroid means). */
  def ivfpqTopk(s: SparkSession, dir: String, nprobe: Int = IvfNProbe): DataFrame = {
    val emb = Fn.track(Fn.spread(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("norm", normCol(col("e")))
      .cache())
    val cents = kmeansCentroids(emb)
    val M = 32L
    val key = (round((lit(1.0) - dotCol(col("e"), col("ce")) /
      (col("norm") * col("cn"))) * 1e6, 0)).cast("long") * M + col("cid")
    val keys = emb.join(broadcast(cents)).select(col("vec_id"), key.as("k"))
    val cellOf = keys.groupBy(col("vec_id"))
      .agg(pmod(min(col("k")), lit(M)).as("cell"))
    val qw = Window.partitionBy(col("qid")).orderBy(col("k").asc)
    val probes = keys.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("k"))
      .withColumn("pr", row_number().over(qw))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), pmod(col("k"), lit(M)).as("cell"))
    val pm = pqModel(emb)
    // ADC fold over probed cells only: the (qid, cell) routing table
    // is query-sized and broadcasts; the cell assignment is pruned by
    // the probes BEFORE the code join, so code rows outside every
    // probed cell never reach the join or the aggregate (inner joins —
    // same result, the pruning just moves ahead of the big join)
    val agg = cellOf.join(broadcast(probes), Seq("cell"))
      .join(pm.codes, Seq("vec_id"))
      .join(broadcast(pm.lut), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pf")).as("num"), sum(col("rn")).as("rn2"))
    val scored = agg
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select(col("vec_id").as("qid"), col("norm").as("qn")),
        Seq("qid"))
      .withColumn("acos",
        round((col("num") / 1e6) / (col("qn") * sqrt(col("rn2") / 1e6)), 4))
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    val cand = scored.withColumn("srank", row_number().over(wA))
      .filter(col("srank") <= PqShortlist)
      .select(col("qid"), col("vec_id"))
    exactRerank(cand, emb)
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ── brute-force cosine top-5 for queries vec_id < 10 ────────────
    ("ann_topk_cosine", (s: SparkSession, dir: String) => {
      val emb = Fn.spread(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("e"))
        .withColumn("norm", normCol(col("e")))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("e").as("qe"), col("norm").as("qn"))
      val scored = emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .withColumn("cos",
          round(dotCol(col("qe"), col("e")) / (col("qn") * col("norm")), 4))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("vec_id").as("nid"), col("cos"), col("rank"))
    }: DataFrame, Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),
      scored AS (
        SELECT q.vec_id AS qid, t.vec_id AS nid,
               round(list_sum(list_transform(range(1, 65),
                       i -> q.e[i] * t.e[i])) / (q.norm * t.norm), 4) AS cos
        FROM n q JOIN n t ON q.vec_id < 10 AND t.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, nid, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid ASC) AS rank
        FROM scored)
      SELECT qid, nid, cos, rank FROM ranked WHERE rank <= 5""")),

    // ── embedding-cosine near-duplicate pairs: LSH candidates → exact
    //    re-score. Pairs form ONLY inside equal (band, key) buckets —
    //    an equi-join, sub-quadratic — then the exact cosine filters
    //    ≥ threshold. 16 OR-bands × 4 hyperplanes each: short bands
    //    keep per-band collision probability usable at the 0.3
    //    threshold (measured recall ≈ 0.91 on this corpus, higher for
    //    closer pairs); the all-pairs form survives ONLY as the test oracle
    //    (SimilaritySpec measures recall against it) — as a standing
    //    query it is O(N²) and would never finish at 10⁹ vectors. ──
    ("d6_embed_neardup", (s: SparkSession, dir: String) =>
      lshNeardup(s, dir): DataFrame, Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),
      bits AS (
        SELECT vec_id, h,
               CASE WHEN round(list_sum(list_transform(range(1, 65),
                      i -> e[i] * ((((h*h*7919 + i*i*104729 + h*i*1299709) % 65537) % 7) - 3))), 6) >= 0
                    THEN '1' ELSE '0' END AS bit
        FROM n CROSS JOIN (SELECT unnest(range(${D6Bands * D6Planes})) AS h)),
      bk AS (
        SELECT vec_id, CAST(floor(h / $D6Planes) AS INT) AS band,
               string_agg(bit, '' ORDER BY h) AS bkey
        FROM bits GROUP BY 1, 2),
      b AS (SELECT n.vec_id, e, norm, band, bkey FROM n JOIN bk USING (vec_id))
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b,
             round(list_sum(list_transform(range(1, 65),
                     i -> a.e[i] * b2.e[i])) / (a.norm * b2.norm), 4) AS cos
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bkey = b2.bkey AND a.vec_id < b2.vec_id
      WHERE round(list_sum(list_transform(range(1, 65),
              i -> a.e[i] * b2.e[i])) / (a.norm * b2.norm), 4) >= 0.3""")),

    // ── IVF-style ANN: coarse quantizer (16 seed centroids refined by
    //    one deterministic sampled k-means round — [[kmeansCentroids]])
    //    → nprobe=4 inverted lists → exact re-score top-3. The
    //    centroid argmin is the long-encoded hash aggregate
    //    (round((1-cos)·10⁶)·32 + cid): min(LONG) keeps the partial
    //    agg in codegen where min(STRUCT) would fall to SortAggregate. ──
    ("ann_ivf_topk", (s: SparkSession, dir: String) =>
      ivfTopk(s, dir, IvfNProbe): DataFrame, Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),$kmeansCentroidSqlCtes,
      ak AS (
        SELECT n.vec_id,
               CAST(round((1 - list_sum(list_transform(range(1, 65),
                      i -> n.e[i] * c.ce[i])) / (n.norm * c.cn)) * 1000000, 0)
                    AS BIGINT) * 32 + c.cid AS k
        FROM n CROSS JOIN cents c),
      asn AS (SELECT vec_id, min(k) % 32 AS cid FROM ak GROUP BY 1),
      probes AS (
        SELECT qid, cid FROM (
          SELECT vec_id AS qid, k % 32 AS cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY k) AS pr
          FROM ak WHERE vec_id < 10) WHERE pr <= $IvfNProbe),
      scored AS (
        SELECT p.qid, a.vec_id AS nid,
               round(list_sum(list_transform(range(1, 65),
                       i -> q.e[i] * t.e[i])) / (q.norm * t.norm), 4) AS cos
        FROM probes p
        JOIN asn a ON a.cid = p.cid
        JOIN n q ON q.vec_id = p.qid
        JOIN n t ON t.vec_id = a.vec_id
        WHERE a.vec_id <> p.qid),
      ranked AS (
        SELECT qid, nid, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid ASC) AS rank
        FROM scored)
      SELECT qid, nid, cos, rank FROM ranked WHERE rank <= 3""")),

    // ── LSH-bucketed cosine top-3 (random-hyperplane buckets) ───────
    ("ann_lsh_topk", (s: SparkSession, dir: String) => {
      val emb = Fn.spread(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("e"))
        .withColumn("norm", normCol(col("e")))
      // bucket-bit count SCALES WITH THE CORPUS: fixed 8 planes = 256
      // buckets means within-bucket work is still quadratic in N/256 —
      // planesFor targets a mean bucket size of ~64, so bucket count
      // grows with N. The oracle computes the identical formula from
      // count(*) in SQL, so both engines agree at any sf. N comes from
      // the parquet-footer row count (a metadata read, O(files)): the
      // r2 form ran a full `.count()` scan just to pick this constant,
      // doubling the query's scan cost at 100 TB.
      val nPlanes = planesFor(Fn.rowCountStat(s, dir, "embeddings"))
      val bucketed = emb.withColumn("bucket",
        concat((0 until nPlanes).map(h => planeBit(h, col("e"))): _*))
      val probes = bucketed
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("norm").as("qn"), col("bucket"))
      val scored = bucketed.join(probes, Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos",
          round(dotCol(col("qe"), col("e")) / (col("qn") * col("norm")), 4))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("bucket"),
          col("cos"), col("rank"))
    }: DataFrame, Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),
      bits AS (
        SELECT vec_id,
               CASE WHEN round(list_sum(list_transform(range(1, 65),
                      i -> e[i] * ((((h*h*7919 + i*i*104729 + h*i*1299709) % 65537) % 7) - 3))), 6) >= 0
                    THEN '1' ELSE '0' END AS bit, h
        FROM n CROSS JOIN (SELECT unnest(range(CAST(greatest(8,
               ceil(log2((SELECT count(*) FROM embeddings) / 64.0)))
               AS INT))) AS h)),
      bk AS (
        SELECT vec_id, string_agg(bit, '' ORDER BY h) AS bucket
        FROM bits GROUP BY vec_id),
      b AS (
        SELECT n.vec_id, e, norm, bucket FROM n JOIN bk USING (vec_id)),
      scored AS (
        SELECT q.vec_id AS qid, t.vec_id AS nid, q.bucket AS bucket,
               round(list_sum(list_transform(range(1, 65),
                       i -> q.e[i] * t.e[i])) / (q.norm * t.norm), 4) AS cos
        FROM b q JOIN b t ON q.bucket = t.bucket AND t.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, nid, bucket, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid ASC) AS rank
        FROM scored)
      SELECT qid, nid, bucket, cos, rank FROM ranked WHERE rank <= 3""")),

    // ── SemDeDup: semantic dedup inside k-means cells (Abbas et al.
    //    2023, arXiv:2303.09540). Same quantizer as ann_ivf; see
    //    [[semDedup]] for the ranking rule and the Σcᵢ² scale
    //    contract. ──
    ("d12_semdedup", (s: SparkSession, dir: String) =>
      semDedup(s, dir): DataFrame, Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),$kmeansCentroidSqlCtes,
      ak AS (
        SELECT n.vec_id,
               CAST(round((1 - list_sum(list_transform(range(1, 65),
                      i -> n.e[i] * c.ce[i])) / (n.norm * c.cn)) * 1000000, 0)
                    AS BIGINT) * 32 + c.cid AS k
        FROM n CROSS JOIN cents c),
      asn AS (
        SELECT vec_id, min(k) % 32 AS cid, min(k) // 32 AS dist
        FROM ak GROUP BY 1),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM asn a
        JOIN asn b ON a.cid = b.cid
             AND (a.dist > b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id))
        JOIN n na ON na.vec_id = a.vec_id
        JOIN n nb ON nb.vec_id = b.vec_id
        WHERE round(list_sum(list_transform(range(1, 65),
                i -> na.e[i] * nb.e[i])) / (na.norm * nb.norm), 4) >= $D12Tau)
      SELECT s.vec_id, s.cid, s.dist, d.vec_id IS NOT NULL AS is_dup
      FROM asn s LEFT JOIN dropped d ON d.vec_id = s.vec_id""")),

    // ── product-quantization ANN: 8×8-dim subspace codebooks, 8-nibble
    //    codes, asymmetric-distance scoring over a broadcast LUT with
    //    exact-integer partial sums. See [[pqTopk]] for the 32×
    //    compression scale contract. ──────────────────────────────────
    ("ann_pq_topk", (s: SparkSession, dir: String) =>
      pqTopk(s, dir): DataFrame, Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),$pqSqlCtes,
      agg AS (
        SELECT l.qid, c.vec_id, sum(l.pf) AS num, sum(l.rn) AS rn2
        FROM codes c JOIN lut l USING (sub, code)
        GROUP BY 1, 2),
      scored AS (
        SELECT a.qid, a.vec_id AS nid,
               round((a.num / 1000000.0)
                 / (qn.norm * sqrt(a.rn2 / 1000000.0)), 4) AS acos
        FROM agg a JOIN n qn ON qn.vec_id = a.qid
        WHERE a.vec_id <> a.qid),$pqRerankSql""")),

    // ── IVF-PQ (IVFADC): coarse cells prune the scan to nprobe/16 of
    //    the corpus, ADC scores only probed code rows, shortlist
    //    re-ranks exactly. See [[ivfpqTopk]]. ─────────────────────────
    ("ann_ivfpq_topk", (s: SparkSession, dir: String) =>
      ivfpqTopk(s, dir): DataFrame, Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
        FROM v),$kmeansCentroidSqlCtes,
      ck0 AS (
        SELECT n.vec_id,
               CAST(round((1 - list_sum(list_transform(range(1, 65),
                      i -> n.e[i] * c.ce[i])) / (n.norm * c.cn)) * 1000000, 0)
                    AS BIGINT) * 32 + c.cid AS k
        FROM n CROSS JOIN cents c),
      cellof AS (SELECT vec_id, min(k) % 32 AS cell FROM ck0 GROUP BY 1),
      probes AS (
        SELECT qid, cell FROM (
          SELECT vec_id AS qid, k % 32 AS cell,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY k ASC) AS pr
          FROM ck0 WHERE vec_id < 10)
        WHERE pr <= $IvfNProbe),$pqSqlCtes,
      agg AS (
        SELECT p.qid, c.vec_id, sum(l.pf) AS num, sum(l.rn) AS rn2
        FROM codes c
        JOIN cellof cf ON cf.vec_id = c.vec_id
        JOIN probes p ON p.cell = cf.cell
        JOIN lut l ON l.qid = p.qid AND l.sub = c.sub AND l.code = c.code
        GROUP BY 1, 2),
      scored AS (
        SELECT a.qid, a.vec_id AS nid,
               round((a.num / 1000000.0)
                 / (qn.norm * sqrt(a.rn2 / 1000000.0)), 4) AS acos
        FROM agg a JOIN n qn ON qn.vec_id = a.qid
        WHERE a.vec_id <> a.qid),$pqRerankSql""")),

    // ── deterministic hard-negative mining for contrastive training
    //    (the sampling stage of every embedding-model data pipeline —
    //    in-batch negatives are biased toward the batch distribution,
    //    so pipelines mine corpus-wide negatives per anchor): for each
    //    anchor (every 50th vector — a query-set-sized probe side),
    //    pick K=4 negatives from a DIFFERENT label class, selected by
    //    the portable md5 coin over (anchor_id, cand_id) — a seeded
    //    permutation both engines replay exactly, so the "random"
    //    sample is reproducible row-for-row on any partitioning.
    //    Scale shape: anchors broadcast, the corpus streams once
    //    (ann_topk_cosine's per-batch scoring pattern); the rank
    //    window carries rank<=K, so WindowGroupLimit caps every map
    //    task at K rows per anchor — no corpus-sized partition. ──────
    ("s3_negative_pairs", (s: SparkSession, dir: String) => {
      val emb = Fn.spread(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val anchors = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
        .select(col("vec_id").as("anchor_id"),
          col("label").as("anchor_label"))
      emb.join(broadcast(anchors),
          col("vec_id") =!= col("anchor_id") &&
            col("label") =!= col("anchor_label"))
        .withColumn("coin", Fn.md5Prefix32(concat(
          col("anchor_id").cast("string"), lit(":"),
          col("vec_id").cast("string"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("anchor_id"))
            .orderBy(col("coin"), col("vec_id"))).cast("long"))
        .filter(col("rank") <= 4)
        .select(col("anchor_id"), col("rank"), col("vec_id").as("neg_id"),
          col("coin"))
    }: DataFrame, Some(s"""
      WITH anchors AS (
        SELECT vec_id AS anchor_id, label AS anchor_label
        FROM embeddings WHERE vec_id % 50 = 0),
      cand AS (
        SELECT a.anchor_id, e.vec_id AS neg_id,
               ${Fn.sqlHash32Expr(
                 "CAST(a.anchor_id AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR)")}
                 AS coin
        FROM embeddings e JOIN anchors a
          ON e.vec_id <> a.anchor_id AND e.label <> a.anchor_label),
      ranked AS (
        SELECT anchor_id, neg_id, coin,
               CAST(row_number() OVER (PARTITION BY anchor_id
                 ORDER BY coin, neg_id) AS BIGINT) AS rank
        FROM cand)
      SELECT anchor_id, rank, neg_id, coin
      FROM ranked WHERE rank <= 4"""))
  )

  /** PQ CTE chain shared by the `ann_pq_topk` and `ann_ivfpq_topk`
    * oracles; expects the `n(vec_id, e, norm)` CTE in scope and
    * exposes `subr`, `cbook`, `codes`, `lut`. Internal CTEs are
    * p-prefixed so the chain composes with [[kmeansCentroidSqlCtes]]
    * (whose seeds/samp/sk/sasn/comps names would otherwise clash). */
  private lazy val pqSqlCtes = """
      subr AS (
        SELECT vec_id, sub, list_slice(e, sub * 8 + 1, sub * 8 + 8) AS se
        FROM n CROSS JOIN (SELECT unnest(range(8)) AS sub)),
      pseeds AS (
        SELECT sub, vec_id AS cid, se AS ce FROM subr WHERE vec_id < 16),
      psamp AS (
        SELECT * FROM subr
        WHERE CAST(list_sum(list_transform(range(1, 9),
                j -> (strpos('0123456789abcdef',
                             substr(md5(CAST(vec_id AS VARCHAR)), j, 1)) - 1)
                     * CAST(pow(16, 8 - j) AS BIGINT))) AS BIGINT) % 4 = 0),
      psk AS (
        SELECT s.vec_id, s.sub,
               CAST(round((list_sum(list_transform(range(1, 9),
                      i -> s.se[i] * s.se[i]))
                 - 2 * list_sum(list_transform(range(1, 9),
                      i -> s.se[i] * c.ce[i]))
                 + list_sum(list_transform(range(1, 9),
                      i -> c.ce[i] * c.ce[i]))) * 1000000, 0) AS BIGINT)
               * 16 + c.cid AS k
        FROM psamp s JOIN pseeds c USING (sub)),
      psasn AS (
        SELECT vec_id, sub, min(k) % 16 AS cid FROM psk GROUP BY 1, 2),
      pcomps AS (
        SELECT a.sub, a.cid, i AS pos,
               CAST(sum(CAST(floor(s.se[i] * 1000) AS BIGINT)) AS BIGINT) AS sx,
               count(*) AS cnt
        FROM psasn a JOIN psamp s USING (vec_id, sub)
             CROSS JOIN (SELECT unnest(range(1, 9)) AS i)
        GROUP BY 1, 2, 3),
      cbook AS (
        SELECT sub, cid,
               list(CAST(sx AS DOUBLE) / (cnt * 1000.0) ORDER BY pos) AS ce
        FROM pcomps GROUP BY 1, 2),
      pck AS (
        SELECT r.vec_id, r.sub,
               CAST(round((list_sum(list_transform(range(1, 9),
                      i -> r.se[i] * r.se[i]))
                 - 2 * list_sum(list_transform(range(1, 9),
                      i -> r.se[i] * b.ce[i]))
                 + list_sum(list_transform(range(1, 9),
                      i -> b.ce[i] * b.ce[i]))) * 1000000, 0) AS BIGINT)
               * 16 + b.cid AS k
        FROM subr r JOIN cbook b USING (sub)),
      codes AS (
        SELECT vec_id, sub, min(k) % 16 AS code FROM pck GROUP BY 1, 2),
      lut AS (
        SELECT q.vec_id AS qid, q.sub, b.cid AS code,
               CAST(floor(list_sum(list_transform(range(1, 9),
                      i -> q.se[i] * b.ce[i])) * 1000000) AS BIGINT) AS pf,
               CAST(floor(list_sum(list_transform(range(1, 9),
                      i -> b.ce[i] * b.ce[i])) * 1000000) AS BIGINT) AS rn
        FROM subr q JOIN cbook b USING (sub) WHERE q.vec_id < 10)"""

  /** Shared PQ stage-2 SQL: ADC shortlist (expects `scored(qid, nid,
    * acos)`) → exact re-rank against `n`. */
  private lazy val pqRerankSql = s"""
      shortlist AS (
        SELECT qid, nid FROM (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY acos DESC, nid ASC) AS srank
          FROM scored)
        WHERE srank <= $PqShortlist),
      rescored AS (
        SELECT s.qid, s.nid,
               round(list_sum(list_transform(range(1, 65),
                 i -> q.e[i] * c.e[i])) / (q.norm * c.norm), 4) AS cos
        FROM shortlist s
        JOIN n q ON q.vec_id = s.qid
        JOIN n c ON c.vec_id = s.nid),
      ranked AS (
        SELECT qid, nid, cos,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid ASC) AS rank
        FROM rescored)
      SELECT qid, nid, cos, rank FROM ranked WHERE rank <= 3"""
}
