package enginebench

import graft.gen.TranscriptGen
import graft.model.{Drawing, Tool, Turn}

/** Seeded transcript corpora for the benchmark.
  *
  * Conversations come from `TranscriptGen.convTurns(seq, seed)`, whose
  * length class is drawn per conversation: short (1-20 turns), medium
  * (150-249) or long tail (5,000-9,999). Each class gets a fixed turn
  * budget, filled in seq order and closed by truncating the conversation
  * that crosses it. So every seed gives exactly the same number of turns
  * and the same length-class shares, and only the content varies: a
  * wall-clock metric then compares like with like across seeds.
  */
final case class Corpus(
    name: String,
    turns: Vector[Turn],
    convMeta: Vector[TranscriptGen.ConvMeta],
    drawings: Seq[Drawing],
    tailTurns: Int) {

  def convIds: Vector[String] = convMeta.map(_.conv_id)

  /** One line describing the corpus: turns, tool shares, long-tail share. */
  def describe: String = {
    val n = turns.size.toDouble
    val tools = turns.groupBy(_.tool).map { case (t, ts) => f"$t=${ts.size / n}%.3f" }
      .toSeq.sorted.mkString(" ")
    f"corpus=$name convs=${convMeta.size} turns=${turns.size} tail_turn_share=${tailTurns / n}%.3f $tools"
  }
}

object Corpus {

  /** Turn budget per length class, in the shares the generator's own
    * mix gives on average (9% / 18% / 73% of turns). */
  final case class Budget(short: Int, medium: Int, tail: Int)

  object Budget {
    def ofTotal(turns: Int): Budget = {
      val short = turns * 9 / 100
      val medium = turns * 18 / 100
      Budget(short, medium, turns - short - medium)
    }
  }

  /** Default traffic: every conversation seq, so about one in seven
    * conversations uploads a BOM spreadsheet and 15% of turns are HTML. */
  def defaultMix(seed: Long, budget: Budget): Corpus =
    build("default_mix", seed, budget, Iterator.from(0))

  /** BOM-dense traffic: only seqs = 3 (mod 7), so every conversation
    * uploads the four spreadsheet columns first. */
  def bomDense(seed: Long, budget: Budget): Corpus =
    build("bom_dense", seed, budget, Iterator.from(0).map(_ * 7 + 3))

  /** Small increments for the streaming workload: short and medium
    * conversations from seqs past the backlog's, so no key repeats. */
  def increments(seed: Long, after: Corpus, n: Int, turnsEach: Int): Seq[Corpus] = {
    val firstSeq = after.convIds.map(_.stripPrefix("conv-").toInt).max + 1
    (0 until n).map { k =>
      val start = firstSeq + k * 100000
      build(s"increment$k", seed, Budget(turnsEach / 3, turnsEach - turnsEach / 3, 0),
        Iterator.from(start))
    }
  }

  private def build(name: String, seed: Long, budget: Budget, seqs: Iterator[Int]): Corpus = {
    val left = Array(budget.short, budget.medium, budget.tail)
    val turns = Vector.newBuilder[Turn]
    val meta = Vector.newBuilder[TranscriptGen.ConvMeta]
    var tailTurns = 0
    while (left.exists(_ > 0)) {
      val (conv, m) = TranscriptGen.convTurns(seqs.next(), seed)
      val cls = if (conv.size >= 5000) 2 else if (conv.size >= 150) 1 else 0
      if (left(cls) > 0) {
        val kept = conv.take(left(cls))
        left(cls) -= kept.size
        if (cls == 2) tailTurns += kept.size
        turns ++= kept
        meta += m
      }
    }
    Corpus(name, turns.result(), meta.result(), TranscriptGen.drawingsDict(), tailTurns)
  }

  val tools: Seq[String] =
    Seq(Tool.Quick, Tool.TableSimple, Tool.TableBands, Tool.TableRects, Tool.HtmlMain)
}
