package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LSH near-dup quality gates: the standing d6 query is LSH-candidates
  * → exact re-score; the O(N²) all-pairs form lives ONLY here, as the
  * recall oracle. Also bounds the LSH bucket geometry so candidate
  * sets stay sub-quadratic as the corpus grows.
  */
class SimilaritySpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  /** All-pairs exact near-dup — O(N²), the recall oracle for d6. */
  private def allPairsNeardup(dir: String, threshold: Double = 0.3) = {
    val dot = graft.functions.ArrayDot.dot _
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
    val e = emb.withColumn("norm", sqrt(dot(col("e"), col("e"))))
    val b = e.select(col("vec_id").as("vb"), col("e").as("eb"), col("norm").as("nb"))
    e.join(broadcast(b), col("vec_id") < col("vb"))
      .withColumn("cos",
        round(dot(col("e"), col("eb")) / (col("norm") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("vec_a"), col("vb").as("vec_b"), col("cos"))
  }

  test("d6 LSH pairs are a subset of all-pairs truth with usable recall") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = pairs(Similarity.lshNeardup(spark, sfDir))
    val truth = pairs(allPairsNeardup(sfDir))
    assert(lsh.nonEmpty)
    // exact re-score ⇒ zero false positives
    assert(lsh.subsetOf(truth), s"${(lsh -- truth).take(3)} not in truth")
    val recall = lsh.size.toDouble / truth.size
    // 16 bands × 4 planes at threshold 0.3 measured ~0.91 on this
    // corpus; 0.7 is the regression floor (the old phase-shifted
    // plane formula scored ~0.45 no matter how many bands)
    assert(recall >= 0.7, f"recall $recall%.3f below floor")
    // closer pairs must be found more reliably than the threshold tail
    val closeTruth = truth.filter(_._3 >= 0.45)
    if (closeTruth.nonEmpty) {
      val closeRecall = closeTruth.count(lsh).toDouble / closeTruth.size
      assert(closeRecall >= recall, f"close-pair recall $closeRecall%.3f")
    }
  }

  test("IVF ANN recall@3: honest floor, monotone nprobe curve; LSH bucket top-k trails") {
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nid", "rank").collect()
        .filter(_.getInt(2) <= 3)
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val brute = topk(SparkEntry.queries("ann_topk_cosine")(spark, sfDir))
    def recall(got: Map[Long, Set[Long]]): Double =
      brute.toSeq.map { case (q, t) =>
        (got.getOrElse(q, Set.empty) & t).size }.sum.toDouble /
        brute.values.map(_.size).sum
    // Honest floors after the round-4 artifact fix (see the
    // measurement-artifact note on Similarity.ivfTopk: the old 0.85
    // floor and 0.967 measurement were self-centroid inflation; the
    // test embeddings are isotropic, so ~0.5-0.6 at 25% scanned is
    // near the intrinsic ceiling of a 16-cell quantizer). Measured on
    // this corpus: 0.533 at nprobe=2, 0.600 at nprobe=4.
    val ivf2 = recall(topk(graft.operators.Similarity.ivfTopk(spark, sfDir, 2)))
    val ivf4 = recall(topk(SparkEntry.queries("ann_ivf_topk")(spark, sfDir)))
    assert(ivf4 >= 0.5, f"IVF recall@3 $ivf4%.3f below the honest floor")
    assert(ivf4 >= ivf2, f"recall must not fall as nprobe grows ($ivf2%.3f → $ivf4%.3f)")
    // Single-table LSH bucket top-k is the cheap CANDIDATE path, not a
    // quality ANN: P(top-k neighbor shares all 8 plane signs) =
    // (1-θ/π)^8 ≈ 0.04 at these neighbor angles — measured 0.033.
    // Pin the measurement so the tradeoff stays documented-true; if a
    // refactor ever pushes it above IVF, the roles were swapped.
    val lsh = recall(topk(SparkEntry.queries("ann_lsh_topk")(spark, sfDir))
      .filter(_._1 < 10).map(identity))
    assert(lsh < ivf4, f"bucket-LSH recall $lsh%.3f should trail IVF $ivf4%.3f")
  }

  test("plane count scales with corpus size; planes are pairwise distinct") {
    assert(Similarity.planesFor(100) == 8)
    assert(Similarity.planesFor(100000) == 11)
    assert(Similarity.planesFor(1000000000L) == 24)
    assert(Similarity.planesFor(4000000000L) > Similarity.planesFor(1000000000L))
    val ws = (0 until 96).map(Similarity.planeWeights)
    assert(ws.distinct.size == ws.size, "hyperplanes must be distinct per h")
  }

  test("LSH bucket sizes stay bounded (candidate set is sub-quadratic)") {
    import spark.implicits._
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    // d6's banded buckets: no band's bucket may hold a constant
    // fraction of the corpus (that is the quadratic hot key the
    // bucketing exists to prevent); deterministic data + planes make
    // this a stable regression bound, not a flaky stochastic one
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxBucket = {
      val e = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      val withBits = (0 until 4).foldLeft(e) { (df, j) =>
        val w = Similarity.planeWeights(j)
        df.withColumn(s"b$j",
          when(round(graft.functions.ArrayDot.dot(col("e"),
            typedlit(w)), 6) >= 0, "1").otherwise("0"))
      }
      withBits
        .select(concat((0 until 4).map(j => col(s"b$j")): _*).as("bkey"))
        .groupBy("bkey").count().agg(max("count")).as[Long].head()
    }
    assert(maxBucket < n / 2, s"one bucket holds $maxBucket of $n vectors")
  }

  test("PQ ADC shortlist + exact re-rank: honest recall floor, exact scores") {
    // two-stage contract: stage 1 ranks by the quantized ADC score,
    // stage 2 re-scores the shortlist EXACTLY — so every emitted cos
    // must equal the brute-force cosine for that (query, neighbor)
    // pair, and recall@3 is bounded only by shortlist membership.
    val pq = SparkEntry.queries("ann_pq_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pq.size == 30) // 10 queries × top-3, rank dense
    val brute = SparkEntry.queries("ann_topk_cosine")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    for ((q, n, c) <- pq if bruteCos.contains((q, n)))
      assert(bruteCos((q, n)) == c,
        s"re-ranked cos for ($q,$n) is $c, brute ${bruteCos((q, n))}")
    val exact3 = SparkEntry.queries("ann_topk_cosine")(spark, sfDir)
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.map { case (q, n, _) => (q, n) }
      .count(exact3.contains).toDouble / exact3.size
    // measured 0.533 on this corpus (isotropic — same ceiling story
    // as ann_ivf's scaladoc); 0.4 is the regression floor. ADC-only
    // (no re-rank) measured 0.167 — the shortlist re-rank is what
    // makes PQ usable here, exactly as in Jégou et al.
    assert(recall >= 0.4, f"PQ recall@3 $recall%.3f below floor")

    // IVF-PQ: same exact-score contract, and cell pruning must not
    // cost recall — measured 0.600 here (ABOVE flat PQ's 0.533: the
    // probed-cell shortlist is less diluted by far-cell quantization
    // noise); 0.45 is the regression floor
    val ivfpq = SparkEntry.queries("ann_ivfpq_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivfpq.size == 30)
    for ((q, n, c) <- ivfpq if bruteCos.contains((q, n)))
      assert(bruteCos((q, n)) == c,
        s"ivfpq re-ranked cos for ($q,$n) is $c, brute ${bruteCos((q, n))}")
    val recallIvfpq = ivfpq.map { case (q, n, _) => (q, n) }
      .count(exact3.contains).toDouble / exact3.size
    assert(recallIvfpq >= 0.45, f"IVF-PQ recall@3 $recallIvfpq%.3f below floor")
  }

  test("d12 SemDeDup drop set equals the ranked within-cell EXISTS rule") {
    // independent replay of the published rule (Abbas et al. 2023):
    // GIVEN the cell assignment and centroid-distance rank the query
    // emits (those are pinned cross-engine by the DuckDB oracle), a
    // vector must be marked duplicate IFF some cluster-mate ranked
    // above it — dist desc, vec_id asc — is τ-close in 4-dp-rounded
    // cosine. Computed driver-side over the 500-vector corpus with
    // plain Scala math, sharing no code with the operator.
    val out = SparkEntry.queries("d12_semdedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 500 && out.exists(_._4) && out.exists(!_._4))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos4(a: Array[Double], b: Array[Double]): BigDecimal = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(d / math.sqrt(na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    val tau = BigDecimal("0.3")
    for ((members, cell) <- out.groupBy(_._2).map { case (c, m) => (m, c) }) {
      for ((v, _, dv, dup) <- members) {
        val hasSenior = members.exists { case (u, _, du, _) =>
          (du > dv || (du == dv && u < v)) && cos4(emb(u), emb(v)) >= tau
        }
        assert(hasSenior == dup,
          s"vec $v in cell $cell: is_dup=$dup but senior-witness=$hasSenior")
      }
    }
  }
}
