package enginebench

import graft.kernel.HtmlMain
import graft.model._
import graft.oracle.Oracle
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks for one corpus. Each returns the failures it found;
  * empty means the output is correct. Expectations come from the
  * generated inputs and from `graft.oracle.Oracle`, never from the
  * engine's own counters; the oracle runs once per corpus.
  *
  * The oracle sees a deterministic sample: every long-tail
  * conversation, every BOM conversation and every 25th of the rest.
  * Of a long conversation it checks the first 200 turns and every 50th.
  */
final class Checks(corpus: Corpus, nBuckets: Int) {
  import Checks._

  private val sample: Set[String] = {
    val lengths = corpus.turns.groupBy(_.conv_id).map { case (c, ts) => c -> ts.size }
    val bom = corpus.turns.filter(t => t.turn_idx == 0 && t.tool == Tool.TableSimple &&
      PayloadCodec.decode(t.text).col.nonEmpty).map(_.conv_id)
    val ids = corpus.convIds
    (ids.filter(lengths(_) >= 5000) ++ bom ++
      ids.zipWithIndex.collect { case (c, i) if i % 25 == 0 => c }).toSet
  }

  private lazy val expectedTurns: Map[(String, Int), (String, Seq[Cell])] =
    corpus.turns.filter(t => sample(t.conv_id) && (t.turn_idx < 200 || t.turn_idx % 50 == 0))
      .map(t => (t.conv_id, t.turn_idx) -> oracleTurn(t)).toMap

  private lazy val expectedBom = oracleBom(corpus, sample)

  /** Durable extraction: one row per input turn, one lineage row per
    * bucket and, `withOracle`, per-turn equality with the oracle on the
    * sample. */
  def extract(spark: SparkSession, outDir: String, withOracle: Boolean): Seq[String] = {
    import spark.implicits._
    val errs = Seq.newBuilder[String]
    val rows = spark.read.parquet(s"$outDir/data").count()
    if (rows != corpus.turns.size) errs += s"extract: $rows rows written for ${corpus.turns.size} turns"
    val lineage = spark.read.parquet(s"$outDir/lineage")
      .select("partition_id").as[Int].collect().sorted.toSeq
    if (lineage != (0 until nBuckets)) errs += s"extract: lineage buckets ${lineage.mkString(",")}"
    if (withOracle) errs ++= oracleDiff(spark, outDir)
    errs.result()
  }

  private def oracleDiff(spark: SparkSession, outDir: String): Option[String] = {
    import spark.implicits._
    val got = spark.read.parquet(s"$outDir/data")
      .filter(col("conv_id").isin(sample.toSeq: _*) &&
        (col("turn_idx") < 200 || col("turn_idx") % 50 === 0))
      .select("conv_id", "turn_idx", "extracted_text", "cells")
      .as[(String, Int, String, Array[Cell])].collect()
      .map { case (c, t, text, cells) => (c, t) -> (text, cells.toSeq) }.toMap
    val wrong = (got.keySet ++ expectedTurns.keySet).count(k => got.get(k) != expectedTurns.get(k))
    if (wrong == 0) None
    else Some(s"extract: $wrong of ${expectedTurns.size} sampled turns differ from the oracle")
  }

  /** Routed BOM rows of the sampled conversations equal the oracle's
    * assemble, number and route. */
  def bom(spark: SparkSession, bomDir: String): Seq[String] = {
    val got = spark.read.parquet(bomDir)
      .filter(col("conv_id").isin(sample.toSeq: _*))
      .select("conv_id", "row_idx", "item_number", "row_type", "matched", "quantity",
        "description", "material", "ocr_warning")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getString(3), r.getString(4), r.getString(5), r.getString(6),
          r.getString(7), r.getString(8)))
      .toMap
    val diff = (got.keySet ++ expectedBom.keySet).count(k => got.get(k) != expectedBom.get(k))
    if (diff > 0) Seq(s"bom: $diff of ${expectedBom.size} sampled rows differ from the oracle")
    else Nil
  }
}

object Checks {

  /** The oracle's (extracted_text, cells) for one turn. */
  def oracleTurn(t: Turn): (String, Seq[Cell]) = t.tool match {
    case Tool.HtmlMain => (HtmlMain.extractText(t.text), Seq.empty)
    case Tool.Quick | Tool.TableSimple | Tool.TableBands | Tool.TableRects =>
      val pl = PayloadCodec.decode(t.text)
      t.tool match {
        case Tool.Quick       => (Oracle.quickText(pl.boxes.toSeq), Oracle.simpleCells(pl.boxes.toSeq))
        case Tool.TableSimple => ("", Oracle.simpleCells(pl.boxes.toSeq))
        case Tool.TableBands  => ("", Oracle.bandCells(pl))
        case _                => ("", Oracle.rectCells(pl))
      }
    case _ => (t.text, Seq.empty)
  }

  /** The oracle's routed BOM rows of the sampled conversations. */
  private def oracleBom(corpus: Corpus, sample: Set[String])
      : Map[(String, Int), (Long, String, String, String, String, String, String)] = {
    val meta = corpus.convMeta.map(m => m.conv_id -> m).toMap
    corpus.turns.filter(t => sample(t.conv_id) && t.tool == Tool.TableSimple)
      .groupBy(_.conv_id).toSeq.flatMap { case (convId, turns) =>
        val columns = turns.flatMap { t =>
          val pl = PayloadCodec.decode(t.text)
          if (pl.col.nonEmpty) Some(pl.col -> Oracle.simpleCells(pl.boxes.toSeq)) else None
        }.toMap
        if (columns.isEmpty) Nil
        else {
          val m = meta(convId)
          val staged = Oracle.assemble(columns, dictFor(corpus, m.project, m.part_number))
            .map(_.copy(conv_id = convId))
          Oracle.gatedNumberAndRoute(staged, m.last_item)._1.map(r => (r.conv_id, r.row_idx) ->
            (r.item_number, r.row_type, r.matched, r.quantity, r.description, r.material,
              r.ocr_warning))
        }
      }.toMap
  }

  private def dictFor(corpus: Corpus, project: String, part: String): Seq[String] = {
    val re = "(?i)/([^/]+)\\.pdf$".r
    corpus.drawings.filter(d => d.project == project && d.part_number == part)
      .flatMap(d => re.findFirstMatchIn(d.drawing_link).map(_.group(1)))
      .map(n => java.net.URLDecoder.decode(n, "UTF-8"))
      .filter(_.nonEmpty)
  }

  /** Streaming sink: every landed turn committed once, and the lineage
    * row counts add up to the data table. */
  def stream(spark: SparkSession, tablesDir: String, turnsIn: Long): Seq[String] = {
    val counts = spark.read.parquet(s"$tablesDir/${graft.streaming.StreamingExtract.StreamDataTable}")
      .agg(count(lit(1)), count_distinct(col("conv_id"), col("turn_idx"))).head()
    val (rows, keys) = (counts.getLong(0), counts.getLong(1))
    val lineageRows = spark.read
      .parquet(s"$tablesDir/${graft.streaming.StreamingExtract.StreamLineageTable}")
      .agg(sum("n_rows")).head().getLong(0)
    Seq(
      (rows != turnsIn) -> s"stream: $rows rows committed for $turnsIn turns",
      (keys != rows) -> s"stream: ${rows - keys} duplicate (conv_id, turn_idx) rows",
      (lineageRows != rows) -> s"stream: lineage counts $lineageRows rows, data holds $rows")
      .collect { case (true, msg) => msg }
  }
}
