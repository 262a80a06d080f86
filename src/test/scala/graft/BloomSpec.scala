package graft

import graft.functions.Bloom
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bloom primitives and the d11 exactness contract: the
  * bloom PRUNES, the exact verify join decides — so d11's output must
  * equal d7's bit-for-bit, and the probe must never reject an
  * inserted value (false negatives would silently drop contaminated
  * docs; false positives only cost verify work). */
class BloomSpec extends AnyFunSuite with SparkSuite {

  test("no false negatives: every inserted value probes true") {
    import spark.implicits._
    val vals = (0L until 5000L).map(i => i * 2654435761L).toDF("v")
    val bf = Bloom.buildBytes(vals, xxhash64($"v"), 5000, 1 << 16)
    assert(bf.nonEmpty)
    val rejected = vals
      .filter(!Bloom.mightContainBytes(bf, xxhash64($"v"))).count()
    assert(rejected === 0L)
  }

  test("false-positive rate is a trade, not a correctness leak") {
    import spark.implicits._
    val in = (0L until 2000L).toDF("v")
    val bf = Bloom.buildBytes(in, xxhash64($"v"), 2000, 1 << 15)
    val probes = (1000000L until 1050000L).toDF("v")
    val fp = probes.filter(Bloom.mightContainBytes(bf, xxhash64($"v"))).count()
    // 32768 bits / 2000 items ≈ 16 bits/item ⇒ fpp well under 1%
    assert(fp < 500L, s"false-positive count $fp out of 50000 disjoint probes")
  }

  test("empty build input yields a probe that rejects everything") {
    import spark.implicits._
    val empty = spark.emptyDataset[Long].toDF("v")
    val bf = Bloom.buildBytes(empty, xxhash64($"v"), 100, 1 << 13)
    assert(bf.isEmpty)
    val hits = (0L until 100L).toDF("v")
      .filter(Bloom.mightContainBytes(bf, xxhash64($"v"))).count()
    assert(hits === 0L)
  }

  test("d11 bloom-pruned contamination equals d7 exact contamination") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val exact = SparkEntry.queries("d7_contamination")(spark, dir)
        .collect().map(_.toSeq).toSet
      val pruned = SparkEntry.queries("d11_bloom_decontam")(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(pruned === exact, s"at $sf")
      assert(pruned.nonEmpty, s"degenerate fixture at $sf")
    }
  }
}
