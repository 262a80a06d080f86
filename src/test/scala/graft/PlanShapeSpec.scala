package graft

import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties the queries
  * were DESIGNED around must survive refactors, not just their
  * outputs. A query can stay value-correct while silently regressing
  * to a cartesian product or a sort-based aggregate — the r1 verdict
  * flagged exactly such shapes; these assertions keep them fixed.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` set. */
  private def withBroadcastThreshold[T](bytes: Long)(body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("no query plans a CartesianProduct") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("hot aggregates stay hash-based (no SortAggregate fallback)") {
    // min/max over STRING or STRUCT silently falls off HashAggregate —
    // the long-encoding discipline (j1/ann_ivf argmax keys) exists to
    // prevent exactly that
    for (q <- Seq("j1_best_match", "a2_upper_median", "d6_embed_neardup",
        "ann_ivf_topk", "ann_lsh_topk", "d1_exact_dedup", "d3_minhash_sig")) {
      assert(!plan(q).contains("SortAggregate"), s"$q fell back to SortAggregate")
    }
  }

  test("dictionary and dimension joins broadcast (no shuffle join on the small side)") {
    assert(plan("j1_best_match").contains("BroadcastHashJoin"))
    // contamination check: the benchmark shingle side must broadcast —
    // the corpus side never shuffles for the join
    assert(plan("d7_contamination").contains("BroadcastHashJoin"))
    // the dictionary index is the two-level Fn.orderedIndex: nothing —
    // not even the dictionary side — may funnel through one partition
    assert(!plan("j1_best_match").contains("Exchange SinglePartition"),
      "j1 must not plan any single-partition exchange")
    assert(plan("j4_dim_chain").contains("BroadcastHashJoin"))
    assert(!plan("j4_dim_chain").contains("SortMergeJoin"),
      "dimension chain must not sort-merge")
  }

  test("hot-shingle anti-join: broadcast below the size guard, never forced above it") {
    // below the guard (every driver corpus) the hot df>cap set rides a
    // broadcast anti-join — the corpus-sized shingle table never
    // shuffles for the cap filter
    val small = graft.operators.Dedup.shingled(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin") && small.contains("LeftAnti"),
      "small-corpus leg must broadcast the hot set")
    // above the guard the forced hint is dropped: the hot shingle-TYPE
    // set grows with the corpus (Zipf tail), so the planner/AQE must
    // pick from real sizes — disabling broadcasts pins the at-scale
    // shape the way the bestMatch large-dict test does
    withBroadcastThreshold(-1) {
      val large = graft.operators.Dedup.shingled(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!large.contains("BroadcastHashJoin"),
        "above the guard the anti-join must not force a broadcast")
      assert(large.contains("LeftAnti"), "the df-cap anti-join must survive")
    }
  }

  test("hot-shingle anti-join: a threshold below the hot-set byte bound forces no broadcast") {
    import graft.operators.Fn
    // the hot set's bound is 3·T/33 bytes (T = documents.text footer
    // bytes); a positive threshold under it must drop the hint even on
    // a corpus this small — the guard is bytes, not documents
    val bound = 3 * Fn.colBytesStat(spark, sfDir, "documents", "text") / 33
    val threshold = bound / 2
    assert(threshold > 0)
    withBroadcastThreshold(threshold) {
      val p = graft.operators.Dedup.shingled(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(p.contains("LeftAnti"), "the df-cap anti-join must survive")
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  /** j1's bestMatch over the test dictionary, with `dictBytes` as its
    * size statistic, planned with broadcasting off (so the tiny TEST
    * dictionary can't mask the at-scale plan Catalyst would pick from
    * size estimates). */
  private def bestMatchPlan(dictBytes: Long): String = withBroadcastThreshold(-1) {
    import org.apache.spark.sql.functions._
    val q = upper(trim(regexp_replace(col("c_name"), "Customer", "Supplier")))
      .substr(lit(1), lit(9) + (col("c_custkey") % 10).cast("int"))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("qid"), q.as("q"))
    val dict = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_name"))
    graft.operators.Relational
      .bestMatch(cust, dict, dictBytes, minQLen = 9, maxQLen = 18)
      .queryExecution.executedPlan.toString
  }

  /** The shuffle leg's shape: the scored candidate join is an
    * equi-join on the inverted substring index — a shuffled join,
    * never the broadcast nested-loop all-pairs form (which OOMs on a
    * 10⁷-entry dict). */
  private def assertShuffleLeg(p: String): Unit = {
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "large-dict candidate join must shuffle")
    assert(!p.contains("CartesianProduct"))
    // the only permissible nested-loop join is Fn.orderedIndex's
    // offsets theta-join over the 64-row per-partition counts (its
    // `_p2 < _pid` condition names the synthetic columns) — the
    // DATA-sized all-pairs form must not appear
    val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("_p2")),
      "large-dict leg must not plan a data-sized broadcast nested-loop join")
  }

  test("bestMatch large-dictionary leg plans a shuffle join, never a broadcast cross join") {
    // the small-dict leg's plan is pinned above (j1_best_match →
    // BroadcastHashJoin, no single-partition exchange). Here: force
    // the shuffle leg via the dictBytes statistic
    assertShuffleLeg(bestMatchPlan(dictBytes = Long.MaxValue))
  }

  test("bestMatch follows Spark's threshold: broadcasting off plans the shuffle leg for a tiny dictionary") {
    val bytes = graft.operators.Fn.colBytesStat(spark, sfDir, "supplier", "s_name")
    assert(bytes > 0 && bytes < 10000, bytes)
    assertShuffleLeg(bestMatchPlan(bytes))
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // the at-scale pattern for repeated big-big joins: both sides
    // bucketed on the join key with the same bucket count ⇒ the sort-
    // merge join consumes the buckets directly, no shuffle stage at all
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse locations survive — clear them or CREATE TABLE fails
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("li_b", "ord_b"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    // disable broadcast so bucket co-location (not a broadcast of the
    // tiny test tables) is what's under test — at scale BOTH sides
    // are too big to broadcast, which is the point of bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.linesIterator.take(8).mkString("\n"))
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" +
        p.linesIterator.take(12).mkString("\n"))
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("spread: pre-partitioned input gets NO extra Exchange; single-file input fans out") {
    val tmp = tempDir("graft_spread")
    spark.read.parquet(s"$sfDir/documents.parquet").repartition(8)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // force one scan partition per file so the input is provably
    // "already parallel" regardless of file-packing heuristics
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val wide = graft.operators.Fn.spread(spark, tmp, "documents")
      assert(wide.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      assert(!wide.queryExecution.executedPlan.toString.contains("Exchange"),
        "spread must not reshuffle an input that already has enough partitions " +
          "(at 100 TB that collapses thousands of scan splits)")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    // the original motivation still holds: a single small file spreads
    val narrow = graft.operators.Fn.spread(spark, sfDir, "documents")
    assert(narrow.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(narrow.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("filters and projections reach the parquet scan") {
    // predicate pushdown + column pruning are the free 100 TB wins of
    // a declarative plan — a scan that reads all columns for a
    // 3-column projection, or re-filters rows the reader could have
    // skipped, is wrong even when values match
    val p = SparkEntry.queries("p1_filter_trim")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)"),
      p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    // pruned read schema: unreferenced columns (e.g. `source`) must
    // not appear anywhere in the scan's ReadSchema/output
    assert(!p.contains("source"), "scan decodes unreferenced columns")
  }

  test("stratified sample is a pure map over the scan: zero exchanges") {
    // the sampling decision is per-row hash arithmetic — any Exchange
    // here would shuffle the full corpus to throw most of it away
    val p = plan("t8_stratified_sample")
    assert(!p.contains("Exchange"), p.linesIterator.take(5).mkString("\n"))
  }

  test("t12 C4 cleaning is a pure map over the scan: zero exchanges") {
    val p = plan("t12_c4_filter")
    assert(!p.contains("Exchange"), p.linesIterator.take(5).mkString("\n"))
  }

  test("t13 rebalance broadcasts the counts: the corpus never shuffles") {
    // the per-language counts and the 1-row totals come back as
    // broadcasts; the only Exchanges allowed are on the tiny count
    // aggregates, never a sort-merge of the document side
    val p = plan("t13_lang_rebalance")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"), "t13 must not sort-merge the corpus")
  }

  test("d13 keep-best argmax is aggregates, not a window sort") {
    val p = plan("d13_cluster_keepbest")
    assert(!p.contains("Window"), "d13 must not plan a window")
    assert(!p.contains("SortAggregate"), "d13 argmax fell off HashAggregate")
  }

  test("ann_pq scores through a broadcast LUT; the code fold stays hash-based") {
    val p = plan("ann_pq_topk")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    // the corpus-sized ADC fold (sum over codes) must be a
    // HashAggregate; the sample-sized codebook assembly may use
    // ObjectHashAggregate (collect_list), but nothing may sort-agg
    assert(!p.contains("SortAggregate"), "ann_pq fell back to SortAggregate")
  }

  test("as-of join is one keyed window, never a range/nested-loop join") {
    val p = plan("j5_asof")
    assert(p.contains("Window"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "as-of regressed to a nested-loop range join")
    assert(!p.contains("Exchange SinglePartition"),
      "as-of window must partition by key, not funnel through one task")
    // exactly ONE shuffle: the keyed window above the union — neither
    // input side may shuffle separately (the r3 first cut had a dedup
    // groupBy that re-shuffled the whole order side)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "as-of must shuffle once (the keyed window), not per input side")
  }

  test("sequence packing windows by (split, shard), never split alone") {
    // 3 split values would cap the window at 3 sort tasks forever; the
    // shard key is what lets packing parallelism scale with the cluster
    val p = plan("t9_sequence_pack")
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(winLines.contains("shard"),
      s"packing window lost its shard key:\n$winLines")
  }

  test("range join is banded onto bucket keys, not an inequality join") {
    val p = plan("j6_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join regressed to a nested-loop (all-pairs) join")
  }

  test("LSH near-dup joins on bucket keys, not on an inequality") {
    val p = plan("d6_embed_neardup")
    // the candidate join must be an equi-join on (band, bkey); the
    // vec_a < vec_b ordering is a post-join filter, never the join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "near-dup regressed to a nested-loop (all-pairs) join")
  }

  test("d11 probes the bloom BEFORE any join or exchange on the corpus side") {
    val p = plan("d11_bloom_decontam")
    // the sketch must prune row-by-row in the scan stage: the plan
    // carries the probe as a Filter condition, and the only join left
    // is the exact-verify BROADCAST hash join (the corpus side never
    // shuffles for a join; its one Exchange is the final group-by)
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    assert(p.contains("BroadcastHashJoin"), "exact verify should broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus side must not shuffle for the verify join")
    // plan text prints root-first, so a probe that is a CHILD of the
    // verify join (pruning before it) appears on a later line
    val probeBelowJoin = p.linesIterator
      .dropWhile(l => !l.contains("BroadcastHashJoin"))
      .exists(l => l.contains("might_contain"))
    assert(probeBelowJoin, "probe filter must sit below the verify join")
  }

  test("d9 candidate join stays a (band, value) equi-join at any band width") {
    // the width formula must only change LITERALS in the plan, never
    // its shape: the candidate join is an equi-join on (band, v) with
    // doc_a < doc_b as a post-join condition at w=16 and at the
    // widened w the formula picks beyond 2^16 docs
    for (w <- Seq(16, 20)) {
      val p = graft.operators.Dedup.simhashNeardup(spark, sfDir, w)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"w=$w: no equi-join found")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"w=$w: candidate generation regressed to all-pairs")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // the brief's "AQE for runtime re-plan" requirement, demonstrated
    // mechanically: one join key carries ~90% of the rows; with
    // realistic thresholds scaled down to test size, AQE must detect
    // the skewed shuffle partition and split it instead of letting the
    // straggler set the wall clock
    import org.apache.spark.sql.functions.{col, concat, lit, md5, when}
    val prev = Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      // ~half the left rows share ONE key with a fat INCOMPRESSIBLE
      // payload (md5 hex — shuffle sizes are measured post-compression,
      // so a constant pad could shrink under the skew threshold): that
      // shuffle partition is MBs while the others are KBs. The right
      // side carries the hot key ONCE so the joined result stays small
      // (skew detection looks at the left partition's size, not the
      // match count).
      val left = spark.range(40000)
        .select(when(col("id") % 2 =!= 0, concat(lit("k"), col("id")))
          .otherwise("hot").as("k"),
          concat(md5(col("id").cast("string")),
            md5(concat(col("id").cast("string"), lit("b"))),
            md5(concat(col("id").cast("string"), lit("c"))),
            md5(concat(col("id").cast("string"), lit("d"))),
            md5(concat(col("id").cast("string"), lit("e"))),
            md5(concat(col("id").cast("string"), lit("f")))).as("payload"))
      val right = spark.range(2000)
        .select(when(col("id") =!= 0, concat(lit("k"), col("id")))
          .otherwise("hot").as("k"), col("id").as("v"))
      val joined = left.join(right, Seq("k"))
      // collect() executes THIS frame's queryExecution (count() would
      // spawn a separate one, leaving this plan un-finalized by AQE);
      // the single-row hot right side keeps the collected result ~21k
      // rows — a fat right side would haul millions to the driver
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not split the skewed partition:\n" +
          p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    } finally prev.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("t14 ratio table broadcasts back over the corpus (no corpus-side shuffle join)") {
    val p = plan("t14_dsir_select")
    // the 1024-row ratio table and the per-feature count join must
    // broadcast; the only corpus-sized exchanges are the per-doc and
    // per-feature hash aggregates
    assert(p.contains("BroadcastHashJoin"), "ratio join should broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "t14 must not shuffle the corpus for a join")
    assert(!p.contains("SortAggregate"), "t14 aggregates must stay hash-based")
  }

  test("t15 global rank window sits above the vocab-bounded pair aggregate") {
    val p = plan("t15_bpe_pairs")
    // the single-partition window is DESIGNED (alphabet²-bounded pair
    // table); what must never happen is the window running over a
    // corpus-sized or vocab-sized relation — i.e. the pair HashAggregate
    // must appear BELOW the Window in the plan tree
    assert(p.contains("Window"), "rank window missing")
    val aggBelowWindow = p.linesIterator
      .dropWhile(l => !l.contains("Window"))
      .exists(l => l.contains("HashAggregate"))
    assert(aggBelowWindow, "pair aggregate must sit below the rank window")
    assert(!p.contains("SortAggregate"), "t15 aggregates must stay hash-based")
  }

  test("r1 BM25: probe terms broadcast, top-k windows keep group-limit pushdown") {
    val p = plan("r1_bm25_topk")
    // the only corpus-sized join is the broadcast semi-filter of the
    // 20-term probe set into the postings; the corpus never shuffles
    // for a join at any scale
    assert(p.contains("BroadcastHashJoin"), "probe-term join should broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "r1 must not shuffle the corpus for a join")
    // vocab top-30 is a distributed sort+limit, never a vocab-wide window
    assert(p.contains("TakeOrderedAndProject"), "df top-30 should TakeOrdered")
    // the two-level top-5 windows must keep the rank-limit pushed below
    // the exchange (each map task forwards at most 5 rows per group —
    // the property that bounds the final window's input at any corpus)
    assert(p.contains("WindowGroupLimit"), "top-k rank limit lost its pushdown")
    assert(!p.contains("SortAggregate"), "r1 aggregates must stay hash-based")
  }

  test("t16 surprisal: one cached tokenize pass feeds counts and scoring") {
    val p = plan("t16_bigram_surprisal")
    // the bigram-instance table is cached once; c1, c2, and the scoring
    // join all read the in-memory stage instead of re-tokenizing the
    // corpus (three extra full scans otherwise)
    assert(p.contains("InMemoryTableScan"), "bigram pass must be cached")
    assert(!p.contains("SortAggregate"), "t16 aggregates must stay hash-based")
    // the corpus-mean threshold is a one-row broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), "1-row threshold should broadcast")
  }

  test("r2 RRF: probes broadcast to both legs, rank limits keep group-limit pushdown") {
    val p = plan("r2_rrf_fusion")
    // both retrieval legs broadcast the 10-probe side and stream the
    // corpus (the ann_topk_cosine per-batch scoring pattern); the
    // corpus itself never shuffles for a join
    assert(p.contains("BroadcastNestedLoopJoin"), "probe sides should broadcast")
    assert(!p.contains("CartesianProduct"), "r2 must never plan a cartesian")
    // every rank window carries rank<=k, so the group-limit pushdown
    // bounds each map task at k rows per probe — the property that
    // keeps the windows sub-corpus-sized at any scale; the fusion join
    // then sees at most 2·20 rows per probe
    assert(p.contains("WindowGroupLimit"), "top-k rank limit lost its pushdown")
    assert(!p.contains("SortAggregate"), "r2 aggregates must stay hash-based")
  }

  test("d15 URL canonicalization is a pure projection plus one hash-agg") {
    val p = plan("d15_url_canonical")
    // canonicalization is per-row column math (codegen'd regexps); the
    // dedup reduction is hash aggregation on the canonical key — no
    // join, no window, nothing that couldn't run at crawl scale
    assert(!p.contains("Join"), "d15 must not plan any join")
    assert(!p.contains("Window"), "d15 must not plan a window")
    assert(p.contains("HashAggregate"), "d15 reduction must be a hash-agg")
    assert(!p.contains("SortAggregate"), "d15 fell off HashAggregate")
  }

  test("t17 paragraph dedup: one cached instance pass, hash-aggs, no cartesian") {
    val p = plan("t17_paragraph_dedup")
    // the paragraph-instance table is cached once and read by both the
    // first-occurrence aggregate and the back-join (otherwise the
    // corpus tokenizes + explodes twice); the reduction stays in
    // hash aggregation and the back-join is an equi-join on the
    // paragraph hash — one build row per DISTINCT hash, so a hot
    // boilerplate paragraph cannot fan out
    assert(p.contains("InMemoryTableScan"), "instance pass must be cached")
    assert(!p.contains("CartesianProduct"), "t17 must never plan a cartesian")
    assert(!p.contains("Window"), "t17 must not plan a window")
    assert(p.contains("HashAggregate"), "t17 reduction must be a hash-agg")
    assert(!p.contains("SortAggregate"), "t17 fell off HashAggregate")
  }

  test("s3 negative mining: anchors broadcast, K-limit keeps group-limit pushdown") {
    val p = plan("s3_negative_pairs")
    // the anchor set broadcasts into one streaming corpus pass; the
    // rank<=K filter keeps the WindowGroupLimit partial below the
    // exchange, so every map task forwards at most K rows per anchor
    assert(p.contains("BroadcastNestedLoopJoin"), "anchor side should broadcast")
    assert(!p.contains("CartesianProduct"), "s3 must never plan a cartesian")
    assert(p.contains("WindowGroupLimit"), "K-limit lost its pushdown")
    assert(!p.contains("SortAggregate"), "s3 must stay hash-based")
  }

  test("t19 mixture report: one scan, hash-aggs, one-row total broadcast") {
    val p = plan("t19_mixture_report")
    assert(!p.contains("Window"), "t19 must not plan a window")
    assert(p.contains("HashAggregate"), "t19 reduction must be a hash-agg")
    assert(!p.contains("SortAggregate"), "t19 fell off HashAggregate")
    // the corpus-total share denominator is a one-row broadcast over
    // the strata table, never a shuffle of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), "1-row total should broadcast")
    assert(!p.contains("CartesianProduct"), "t19 must never plan a cartesian")
  }

  test("d16 estimator calibration: cached shingles, no cartesian, hash-based") {
    val p = plan("d16_minhash_est")
    // the shingle table is cached once (pairs + signatures both read
    // it); pairs come from the inverted-index equi-join, never a
    // cross product; all reductions stay in hash aggregation
    assert(p.contains("InMemoryTableScan"), "shingle pass must be cached")
    assert(!p.contains("CartesianProduct"), "d16 must never plan a cartesian")
    assert(!p.contains("SortAggregate"), "d16 fell off HashAggregate")
    assert(p.contains("HashAggregate"), "d16 reductions must be hash-aggs")
  }

  test("x_sft_pairs: one bounded-frame window, no join, no explode") {
    val p = plan("x_sft_pairs")
    // context assembly is a single window over the conversation key
    // with a 3-row frame — bounded state per row at any conversation
    // length; pairing must never become a self-join or a fan-out
    assert(p.contains("Window"), "context window missing")
    assert(!p.contains("Join"), "x_sft_pairs must not plan a join")
    assert(!p.contains("Generate"), "x_sft_pairs must not explode")
    assert(!p.contains("CartesianProduct"), "no cartesian, ever")
  }

  test("d14 perceptual dedup is one hash-agg: no join, no window") {
    val p = plan("d14_phash_neardup")
    // groups, not pairs: the whole reduction is a single partial+final
    // hash aggregate on the 64-bit hash — the shape that stays O(groups)
    // when one viral image is re-uploaded a million times
    assert(!p.contains("Join"), "d14 must not plan any join")
    assert(!p.contains("Window"), "d14 must not plan a window")
    assert(!p.contains("SortAggregate"), "d14 fell off HashAggregate")
    assert(p.contains("HashAggregate"), "d14 reduction must be a hash-agg")
  }

  test("BOM assembly memo: the sibling queries read the cached stage, not the chain") {
    // first query materializes the shared assembled frame; every
    // sibling must plan a scan of assembleBom's local checkpoint
    // instead of re-running corpus-gen -> kernel -> assembly (the
    // production once-and-fan-out shape; saved ~11 s/round in the
    // driver bench)
    SparkEntry.queries("x_bom_pipeline")(spark, sfDir).count()
    val p = plan("x_bom_rows")
    val head = p.linesIterator.take(12).mkString("\n")
    assert(p.contains("Scan ExistingRDD"),
      s"x_bom_rows did not reuse the memoized assembled stage:\n$head")
    assert(!p.contains("MapPartitions"), s"x_bom_rows re-runs the kernel:\n$head")
    assert(!p.contains("FileScan"), s"x_bom_rows re-reads the corpus:\n$head")
  }

  /** Hash keys of every shuffle exchange in the plan that
    * `assembleBom`'s eager `localCheckpoint` executed. */
  private def assemblyExchangeKeys(manual: Option[DataFrame]): Seq[Seq[String]] =
    collect(assemblyPlan(manual)) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning =>
        h.expressions.map { case a: AttributeReference => a.name; case e => e.sql }
      }.sortBy(_.mkString(","))

  /** The executed plan of `assembleBom`'s local checkpoint. */
  private def assemblyPlan(manual: Option[DataFrame]): SparkPlan = {
    import spark.implicits._
    val corpus = graft.gen.TranscriptGen.corpus(nConvs = 40)
    val plans = executions {
      ExtractPipeline.assembleBom(
        ExtractPipeline.extract(spark.createDataset(corpus.turns),
          new ExtractPipeline.Metrics(spark)),
        spark.createDataset(corpus.drawings).toDF(),
        spark.createDataset(corpus.convMeta).toDF(), manual)
    }
    plans.collectFirst { case ("localCheckpoint", qe) => qe.executedPlan }
      .getOrElse(fail(s"no localCheckpoint execution among ${plans.map(_._1)}"))
  }

  test("assembleBom plans one conv_id exchange for C2, J2 and C4") {
    // the spreadsheet path: ONE exchange keyed on conv_id alone; the
    // other is the dictionary aggregate's (project, part_number)
    val keys = assemblyExchangeKeys(None)
    assert(keys == Seq(Seq("conv_id"), Seq("project", "part_number")), keys)
  }

  test("assembleBom's manual-match shuffle join plans at most five exchanges") {
    import spark.implicits._
    // size-based broadcasting off, so the manual matches shuffle-join:
    // conv_id, (conv_id, row_idx) on both join sides, conv_id again
    // for the C4 window, and the dictionary's — five in all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val manual = Seq(("conv-000000", 0, "HAND-SET", "BO"))
        .toDF("conv_id", "row_idx", "matched", "row_type")
      val keys = assemblyExchangeKeys(Some(manual))
      assert(keys.size <= 5, keys)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("assembleBom aggregates the label turns on conv_id alone: one pivot for C2 and J2") {
    // C2's latest column per label and J2's positional zip come from
    // one max_by pivot per conversation: no (conv_id, col) aggregate
    // before it, no (conv_id, pos) pivot over exploded cells after it
    val plan = assemblyPlan(None)
    def readsTurns(p: SparkPlan): Boolean =
      collect(p) { case q if q.output.exists(_.name == "turn_idx") => q }.nonEmpty
    val keys = collect(plan) {
      case a: BaseAggregateExec if readsTurns(a) => a.groupingExpressions.map(_.name)
    }
    assert(keys.nonEmpty && keys.forall(_ == Seq("conv_id")), keys)
  }

  test("highWaterMarks broadcasts the per-conversation maxima (no shuffle join)") {
    import spark.implicits._
    // size-based broadcasting off: only the explicit hint may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val routed = Seq(("c1", 3L), ("c1", 4L), ("c2", 5L)).toDF("conv_id", "item_number")
      val meta = Seq(("c1", 1L), ("c3", 2L)).toDF("conv_id", "last_item")
      val p = ExtractPipeline.highWaterMarks(routed, meta)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
