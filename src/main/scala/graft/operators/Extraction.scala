package graft.operators

import graft.gen.TranscriptGen
import graft.model.Tool
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship transcript-extraction queries (BASELINE.json
  * north_rule), in two tiers:
  *
  *  1. DRIVER-ORACLE tier (`x_extract_turns`, `x_quick_text`,
  *     `x_extract_cells`): input is a deterministic box corpus derived
  *     from the driver's `documents` table by pure integer arithmetic
  *     on `doc_id` — regenerable bit-identically in DuckDB SQL. The
  *     Spark side round-trips it through the REAL production path
  *     (payload JSON → FastScan/jackson decode → kernel simple/quick
  *     extraction inside mapPartitions — nothing is special-cased),
  *     while the oracle implements the reference semantics
  *     (P1 trim-drop → P2 fix_diameter → P4 truncating midpoints →
  *     O1 stable y sort → K1 "\n"-join; backend/main.py:64-100, 557)
  *     in plain SQL. This makes the north-rule kernel itself
  *     driver-checkable on rows+schema+hash.
  *  2. DRIVER-ORACLE summary tier (`x_bom_rows`, `x_validation_flags`,
  *     `x_html_main`, `x_main_segment`): different questions over the
  *     same SqlCorpus dataflow — sink routing ledger, validation-flag
  *     histogram, main-content shape, Readability-style main-segment
  *     selection — each with its own DuckDB twin.
  *  3. SYNTHETIC tier (`x_synth_turns` only): the full TranscriptGen
  *     corpus (FIXTURES.md §1) covering everything mixed, incl. the
  *     skewed conversation lengths; its Random streams are not
  *     ANSI-SQL-expressible, so it is gated by the in-repo per-turn
  *     equality suite — the driver records rows-only.
  */
object Extraction {

  type Q = (SparkSession, String) => DataFrame

  /** Conversations in the synthetic corpus. */
  private val NConvs = 120

  /** Distributed corpus generation (the WriteCorpus.write pattern):
    * each conversation is seeded independently, so executors generate
    * their id-ranges in place — nothing materializes on the driver and
    * no multi-MB task closures ship (the r2 `createDataset(corpus)`
    * form logged `task of very large size (3576 KiB)` warnings). Only
    * the handful of edge-case turns are driver-side. */
  private def corpusDs(s: SparkSession) = {
    import s.implicits._
    s.range(NConvs.toLong)
      .repartition(math.max(32, s.sparkContext.defaultParallelism))
      .as[Long]
      .mapPartitions(_.flatMap(c => TranscriptGen.convTurns(c.toInt)._1))
      .unionByName(s.createDataset(TranscriptGen.edgeCaseTurns()))
  }

  /** Flagship: full per-turn extraction over the synthetic corpus. */
  def extractAll(s: SparkSession): DataFrame = {
    val metrics = new ExtractPipeline.Metrics(s)
    ExtractPipeline.extract(corpusDs(s), metrics, partitions = 32)
      .toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("extracted_text"), col("n_boxes"), col("n_cells"))
  }

  /** The SQL-derivable box corpus (tier 1). Every box attribute is a
    * pure function of (doc_id, i): both engines regenerate the same
    * set with no data exchange. Covers the reference traps: empty and
    * whitespace-only texts (P1), convertible and non-convertible
    * diameter tokens (P2 — "x O5" converts, leading "O5" must not),
    * equal-y ties across distinct i (O1 stability), 2-dp confidences.
    */
  object SqlCorpus {
    private val Wd = 800
    private val Ht = 600

    // shared generator pieces (Spark side) ──────────────────────────
    private val d = col("doc_id")
    private val nb = lit(5L) + pmod(d, lit(13L))

    /** the per-box text: covers P1 empties, P2 convertible ("x O5") and
      * non-convertible (leading "O5") diameter tokens, plain tokens */
    private def txtCol(i: Column): Column = {
      val sel = pmod(d * 31 + i * 7, lit(8L))
      when(sel === 0, lit(""))
        .when(sel === 1, lit("  "))
        .when(sel === 2, concat(lit("x O"), pmod(d + i, lit(10L)).cast("string")))
        .when(sel === 3, concat(lit("O"), pmod(d + i, lit(10L)).cast("string")))
        .when(sel === 4, concat(lit("w"), pmod(d * 7 + i, lit(100L)).cast("string")))
        .when(sel === 5, concat(lit("QTY "), pmod(i, lit(10L)).cast("string")))
        .when(sel === 6, lit("PLATE"))
        .otherwise(concat(lit("M8 O"), pmod(i, lit(10L)).cast("string")))
    }

    /** the SQL twin of [[txtCol]] */
    private val txtSql = """
          CASE (doc_id*31 + i*7) % 8
            WHEN 0 THEN ''
            WHEN 1 THEN '  '
            WHEN 2 THEN 'x O' || CAST((doc_id + i) % 10 AS VARCHAR)
            WHEN 3 THEN 'O' || CAST((doc_id + i) % 10 AS VARCHAR)
            WHEN 4 THEN 'w' || CAST((doc_id*7 + i) % 100 AS VARCHAR)
            WHEN 5 THEN 'QTY ' || CAST(i % 10 AS VARCHAR)
            WHEN 6 THEN 'PLATE'
            ELSE 'M8 O' || CAST(i % 10 AS VARCHAR) END"""

    /** k ∈ 50..99 ⇒ always two digits ⇒ "0.5x".."0.99" literal JSON */
    private def confK(i: Column): Column =
      lit(50L) + pmod(d + i * 3, lit(50L))

    private def boxJson(x0: Column, y0: Column, x2: Column, y2: Column,
                        txt: Column, k: Column): Column =
      concat(lit("{\"q\":[["), x0.cast("string"), lit(","), y0.cast("string"),
        lit("],["), x2.cast("string"), lit(","), y0.cast("string"),
        lit("],["), x2.cast("string"), lit(","), y2.cast("string"),
        lit("],["), x0.cast("string"), lit(","), y2.cast("string"),
        lit("]],\"t\":\""), txt, lit("\",\"c\":0."), k.cast("string"), lit("}"))

    private def mkTurns(s: SparkSession, dir: String, prefix: String,
                        payload: Column, tool: Column): Dataset[graft.model.Turn] = {
      import s.implicits._
      Fn.spread(s, dir, "documents").select(col("doc_id")).select(
        concat(lit(prefix), d.cast("string")).as("conv_id"),
        lit(0).as("turn_idx"),
        lit("tool").as("role"),
        payload.as("text"),
        tool.as("tool"),
        lit(new java.sql.Timestamp(1767225600000L)).as("ts")
      ).as[graft.model.Turn]
    }

    // ── simple/quick corpus ─────────────────────────────────────────
    def turns(s: SparkSession, dir: String): Dataset[graft.model.Turn] = {
      def bj(i: Column): Column = {
        val yc = pmod(d * 131 + i * 37, lit(19L)) * 10 + 7
        boxJson(lit(10L) + i * 5, yc - 7, lit(50L) + i * 5, yc + 7,
          txtCol(i), confK(i))
      }
      val payload = concat(lit("{\"boxes\":["),
        array_join(transform(sequence(lit(0L), nb - 1), i => bj(i)), ","),
        lit("],\"w\":" + Wd + ",\"h\":" + Ht + ",\"lines\":[],\"rects\":[]}"))
      mkTurns(s, dir, "doc-", payload,
        when(pmod(d, lit(2L)) === 0, Tool.Quick).otherwise(Tool.TableSimple))
    }

    // ── rect corpus: deterministic candidate rects, incl. undersized
    //    ones the w/20 × h/30 filter drops, 50-px overlaps (first-
    //    containing-rect tie), and box centers exactly on a rect's
    //    half-open right edge ──────────────────────────────────────
    def rectTurns(s: SparkSession, dir: String): Dataset[graft.model.Turn] = {
      val nr = lit(2L) + pmod(d, lit(4L))
      def bj(i: Column): Column = {
        val mx = pmod(i, lit(6L)) * 110 + 30
        val my = pmod(d + i * 2, lit(5L)) * 100 + 30
        boxJson(mx - 10, my - 7, mx + 10, my + 7, txtCol(i), confK(i))
      }
      def rj(r: Column): Column = {
        val tiny = pmod(d + r, lit(5L)) === 0
        val x = r * 150
        val y = when(tiny, lit(100L)).otherwise(pmod(d * 7 + r * 5, lit(3L)) * 150)
        val w = when(tiny, lit(30L)).otherwise(lit(200L))
        val h = when(tiny, lit(10L)).otherwise(lit(140L))
        concat(lit("["), x.cast("string"), lit(","), y.cast("string"),
          lit(","), w.cast("string"), lit(","), h.cast("string"), lit("]"))
      }
      val payload = concat(lit("{\"boxes\":["),
        array_join(transform(sequence(lit(0L), nb - 1), i => bj(i)), ","),
        lit("],\"w\":" + Wd + ",\"h\":" + Ht + ",\"lines\":[],\"rects\":["),
        array_join(transform(sequence(lit(0L), nr - 1), r => rj(r)), ","),
        lit("]}"))
      mkTurns(s, dir, "rect-", payload, lit(Tool.TableRects))
    }

    // ── BOM corpus: 4 column-labeled simple turns per doc with ragged
    //    lengths (J2 padding), PartNumber tokens exercising exact /
    //    lowercase-exact / substring-reject / miss / empty (J1+C1),
    //    quantities exercising valid / empty / non-numeric (C4), all
    //    derived from doc_id arithmetic ──────────────────────────────
    private def bomLen(li: Int): Column = li match {
      case 0 | 2 => lit(2L) + pmod(d, lit(3L))
      case 1     => greatest(lit(1L), lit(2L) + pmod(d, lit(3L)) - pmod(d, lit(2L)))
      case _     => greatest(lit(1L), lit(1L) + pmod(d, lit(3L)))
    }

    private def bomTxt(li: Int, r: Column): Column = li match {
      case 0 =>
        val sel = pmod(d + r, lit(5L))
        when(sel === 0, concat(lit("PN-"), pmod(d, lit(20L)).cast("string")))
          .when(sel === 1, concat(lit("pn-"), pmod(d, lit(20L)).cast("string")))
          .when(sel === 2, concat(lit("N-"), pmod(d, lit(20L)).cast("string")))
          .when(sel === 3, concat(lit("ZZ-"), r.cast("string")))
          .otherwise(lit(""))
      case 1 =>
        val sel = pmod(d * 3 + r, lit(5L))
        when(sel === 0, lit(""))
          .when(sel === 1, (r + 1).cast("string"))
          .when(sel === 2, lit("12"))
          .when(sel === 3, lit("1 2"))
          .otherwise(lit("12a"))
      case 2 => concat(lit("desc "), pmod(d + r, lit(7L)).cast("string"))
      case _ => when(pmod(r, lit(2L)) === 0, "SS304").otherwise("EN8")
    }

    private def bomConfK(li: Int, r: Column): Column =
      lit(50L) + pmod(d + lit(li.toLong * 11) + r * 3, lit(50L))

    def bomTurns(s: SparkSession, dir: String): Dataset[graft.model.Turn] = {
      import s.implicits._
      val labels = Seq("PartNumber", "Quantity", "Description", "Material")
      val perLabel = labels.zipWithIndex.map { case (label, li) =>
        def bj(r: Column): Column = {
          val yc = r * 40 + 10
          boxJson(lit(10L), yc - 7, lit(90L), yc + 7, bomTxt(li, r), bomConfK(li, r))
        }
        val payload = concat(lit("{\"boxes\":["),
          array_join(transform(sequence(lit(0L), bomLen(li) - 1), r => bj(r)), ","),
          lit("],\"w\":" + Wd + ",\"h\":" + Ht +
            ",\"lines\":[],\"rects\":[],\"col\":\"" + label + "\"}"))
        Fn.spread(s, dir, "documents").select(col("doc_id")).select(
          concat(lit("bom-"), d.cast("string")).as("conv_id"),
          lit(li).as("turn_idx"),
          lit("tool").as("role"),
          payload.as("text"),
          lit(Tool.TableSimple).as("tool"),
          lit(new java.sql.Timestamp(1767225600000L)).as("ts"))
      }
      perLabel.reduce(_ unionByName _).as[graft.model.Turn]
    }

    /** drawings dictionary for the BOM corpus: 'PN-0'..'PN-19' per
      * (project, part_number), plus percent-encoded duplicates (P9)
      * and junk links the P8 filter must drop. Pure arithmetic. */
    def bomDrawings(s: SparkSession): DataFrame = {
      val id = col("id")
      s.range(5L * 11 * 22).select(
        concat(lit("proj"), (id / 242).cast("long").cast("string")).as("project"),
        concat(lit("part"),
          pmod((id / 22).cast("long"), lit(11L)).cast("string")).as("part_number"),
        when(pmod(id, lit(22L)) < 20,
          concat(lit("https://x/files/PN-"), pmod(id, lit(22L)).cast("string"), lit(".pdf")))
          .when(pmod(id, lit(22L)) === 20,
            // percent-encoded: decodes to a duplicate of PN-7 (P9)
            lit("https://x/files/PN%2D7.PDF"))
          .otherwise(lit("https://x/notes.txt")) // non-pdf: P8 drops
          .as("drawing_link"))
    }

    def bomConvMeta(s: SparkSession, dir: String): DataFrame =
      Fn.table(s, dir, "documents").select(
        concat(lit("bom-"), d.cast("string")).as("conv_id"),
        concat(lit("proj"), pmod(d, lit(5L)).cast("string")).as("project"),
        concat(lit("part"), pmod(d, lit(11L)).cast("string")).as("part_number"),
        pmod(d, lit(37L)).as("last_item"))

    // ── HTML corpus: title + link-farm nav + arithmetic paragraphs
    //    (20-29 words, entity token), ad divs after every third
    //    paragraph (link density 1 — they flip the NEXT paragraph into
    //    the high-prev-link-density rule branch), link+text footer.
    //    The DuckDB twin rebuilds the block sequence and applies the
    //    published Boilerpipe NumWordsRulesClassifier rules itself. ──
    def htmlTurns(s: SparkSession, dir: String): Dataset[graft.model.Turn] = {
      val np = lit(2L) + pmod(d, lit(4L))
      def para(i: Column): Column = {
        val nw = lit(19L) + pmod(d + i, lit(10L))
        val words = array_join(transform(sequence(lit(1L), nw), j =>
          concat(lit("w"), pmod(d * 3 + i * 5 + j * 7, lit(50L)).cast("string"))), " ")
        concat(lit("<p>A&amp;B "), words, lit("</p>"),
          when(pmod(d + i, lit(3L)) === 0,
            lit("<div class=\"ad\"><a href=\"/x\">buy this now</a></div>"))
            .otherwise(lit("")))
      }
      val html = concat(
        lit("<html><head><title>t</title><script>var x=1;</script></head><body>" +
          "<nav><a href=\"/a\">home</a> <a href=\"/b\">about</a></nav>"),
        array_join(transform(sequence(lit(0L), np - 1), i => para(i)), ""),
        lit("<footer><a href=\"/p\">privacy</a> copyright</footer></body></html>"))
      mkTurns(s, dir, "html-", html, lit(Tool.HtmlMain))
    }

    /** DuckDB twin: regenerate the block sequence (title, nav, p_i,
      * ad_i?, footer) with its word/anchor-word counts, then apply the
      * Boilerpipe NumWordsRulesClassifier over (prev, curr, next) with
      * lag/lead — an INDEPENDENT implementation of segment+classify.
      * Shared CTE prefix ends at `keepb`; `sqlHtmlMain` joins kept
      * blocks with chr(10), `sqlMainSegment` scores contiguous runs. */
    val sqlHtmlCtes: String = """
      WITH docs AS (SELECT doc_id AS d, 2 + doc_id % 4 AS np FROM documents),
      pw AS (
        SELECT d, i, unnest(range(1, 19 + (d + i) % 10 + 1)) AS j
        FROM (SELECT d, np, unnest(range(np)) AS i FROM docs)),
      ptext AS (
        SELECT d, i,
               'A&B ' || string_agg('w' || CAST((d*3 + i*5 + j*7) % 50 AS VARCHAR),
                                    ' ' ORDER BY j) AS t,
               1 + 19 + (d + i) % 10 AS w, 0 AS aw
        FROM pw GROUP BY d, i),
      blocks AS (
        SELECT d, 0 AS ord, 't' AS t, 1 AS w, 0 AS aw FROM docs
        UNION ALL
        SELECT d, 1, 'home about', 2, 2 FROM docs
        UNION ALL
        SELECT d, 2 + 2*i, t, CAST(w AS INT), aw FROM ptext
        UNION ALL
        SELECT d, 3 + 2*i, 'buy this now', 3, 3 FROM ptext WHERE (d + i) % 3 = 0
        UNION ALL
        SELECT d, 1000000, 'privacy copyright', 2, 1 FROM docs),
      ctx AS (
        SELECT d, ord, t, w, aw,
          coalesce(lag(w)  OVER win, 0) AS pw_, coalesce(lag(aw)  OVER win, 0) AS pa,
          coalesce(lead(w) OVER win, 0) AS nw_, coalesce(lead(aw) OVER win, 0) AS na
        FROM blocks WINDOW win AS (PARTITION BY d ORDER BY ord)),
      keepb AS (
        SELECT d, ord, t, w,
          CASE WHEN w > 0 AND CAST(aw AS DOUBLE)/w > 0.333333 THEN FALSE
               WHEN pw_ = 0 OR CAST(pa AS DOUBLE)/pw_ <= 0.555556
                 THEN (w > 16 OR nw_ > 15 OR pw_ > 4)
               ELSE (w > 40 OR nw_ > 17) END AS keep
        FROM ctx)"""

    val sqlHtmlMain: String = s"""
      $sqlHtmlCtes
      SELECT 'html-' || CAST(dd.d AS VARCHAR) AS conv_id,
             coalesce(k.txt, '') AS extracted_text
      FROM docs dd LEFT JOIN (
        SELECT d, string_agg(t, chr(10) ORDER BY ord) AS txt
        FROM keepb WHERE keep GROUP BY d) k ON k.d = dd.d"""

    /** Readability-style main segment: contiguous runs of kept blocks
      * (islands over the block SEQUENCE, not ord values), scored by
      * Σ(words + 2·commas) — this corpus generates no commas, so the
      * comma term contributes 0 and is pinned by the unit tests —
      * argmax run, FIRST run on ties (strict `>` in the kernel). */
    val sqlMainSegment: String = s"""
      $sqlHtmlCtes,
      seqd AS (
        SELECT d, t, w, keep,
               row_number() OVER (PARTITION BY d ORDER BY ord) AS seq
        FROM keepb),
      isl AS (
        SELECT d, t, w, seq,
               seq - row_number() OVER (PARTITION BY d ORDER BY seq) AS rid
        FROM seqd WHERE keep),
      scored AS (
        SELECT d, rid, CAST(sum(w) AS BIGINT) AS score, min(seq) AS first_seq,
               string_agg(t, chr(10) ORDER BY seq) AS txt
        FROM isl GROUP BY 1, 2),
      best AS (
        SELECT d, txt FROM (
          SELECT d, txt, row_number() OVER (PARTITION BY d
                           ORDER BY score DESC, first_seq ASC) AS rn
          FROM scored) WHERE rn = 1)
      SELECT 'html-' || CAST(dd.d AS VARCHAR) AS conv_id,
             coalesce(b.txt, '') AS main_segment
      FROM docs dd LEFT JOIN best b ON b.d = dd.d"""

    // ── band corpus: per-box even heights vary (A2 upper median),
    //    deterministic line ys (G1 cluster-to-first), ~1/7 of docs get
    //    zero lines (G6 simple fallback) ─────────────────────────────
    def bandTurns(s: SparkSession, dir: String): Dataset[graft.model.Turn] = {
      val nl = when(pmod(d, lit(7L)) === 0, lit(0L))
        .otherwise(lit(4L) + pmod(d, lit(6L)))
      def bj(i: Column): Column = {
        val hh = pmod(d + i, lit(5L)) * 4 + 10 // {10,14,18,22,26}: even
        val yb = pmod(d * 131 + i * 37, lit(45L)) * 10
        val mx = pmod(i, lit(6L)) * 90 + 25
        boxJson(mx - 10, yb, mx + 10, yb + hh, txtCol(i), confK(i))
      }
      def lj(j: Column): Column =
        (pmod(d * 11 + j * 13, lit(40L)) * 12).cast("string")
      val payload = concat(lit("{\"boxes\":["),
        array_join(transform(sequence(lit(0L), nb - 1), i => bj(i)), ","),
        lit("],\"w\":" + Wd + ",\"h\":" + Ht + ",\"lines\":["),
        when(nl === 0, lit(""))
          .otherwise(array_join(transform(sequence(lit(0L), nl - 1), j => lj(j)), ",")),
        lit("],\"rects\":[]}"))
      mkTurns(s, dir, "band-", payload, lit(Tool.TableBands))
    }

    /** identical box regeneration + simple-path semantics in DuckDB
      * (`kept` = P1 trim-drop then P2 fix_diameter; the lookaround-free
      * `(\s)O([0-9])` rewrite is match-equivalent because a match's
      * consumed chars can never overlap another's). `yc` IS the
      * truncating midpoint: boxes are built with y0 = yc-7, y2 = yc+7,
      * so int((y0+y2)/2) = yc exactly (P4). */
    val sqlBoxes: String = s"""
      WITH docs AS (
        SELECT doc_id, 5 + doc_id % 13 AS nb,
               CASE WHEN doc_id % 2 = 0 THEN 'quick' ELSE 'table_simple' END AS tool
        FROM documents),
      bx AS (SELECT doc_id, nb, tool, unnest(range(nb)) AS i FROM docs),
      tb AS (
        SELECT doc_id, nb, tool, i, $txtSql AS t,
          ((doc_id*131 + i*37) % 19) * 10 + 7 AS yc,
          50 + (doc_id + i*3) % 50 AS k
        FROM bx),
      kept AS (
        SELECT doc_id, nb, tool, i, yc, k,
               regexp_replace(trim(t), '(\\s)O([0-9])', '\\1Ø\\2', 'g') AS txt
        FROM tb WHERE trim(t) <> '')"""

    /** rect-path oracle: size filter (w ≥ 800/20, h ≥ 600/30), rects
      * sorted (y, x) → index, box → FIRST containing rect (min index,
      * half-open containment), per-rect " "-join ordered (y, x, seq),
      * min conf; rects with no boxes emit ("", 0). */
    val sqlRectCells: String = s"""
      WITH docs AS (
        SELECT doc_id, 5 + doc_id % 13 AS nb, 2 + doc_id % 4 AS nr
        FROM documents),
      bx AS (SELECT doc_id, unnest(range(nb)) AS i FROM docs),
      tb AS (
        SELECT doc_id, i, $txtSql AS t,
          (i % 6) * 110 + 30 AS mx,
          ((doc_id + i*2) % 5) * 100 + 30 AS my,
          50 + (doc_id + i*3) % 50 AS k
        FROM bx),
      kept AS (
        SELECT doc_id, i, mx, my, k,
               regexp_replace(trim(t), '(\\s)O([0-9])', '\\1Ø\\2', 'g') AS txt
        FROM tb WHERE trim(t) <> ''),
      rc AS (
        SELECT doc_id, r,
          r * 150 AS x,
          CASE WHEN (doc_id + r) % 5 = 0 THEN 100
               ELSE ((doc_id*7 + r*5) % 3) * 150 END AS y,
          CASE WHEN (doc_id + r) % 5 = 0 THEN 30 ELSE 200 END AS w,
          CASE WHEN (doc_id + r) % 5 = 0 THEN 10 ELSE 140 END AS h
        FROM (SELECT doc_id, unnest(range(nr)) AS r FROM docs)),
      rk AS (
        SELECT doc_id, x, y, w, h,
               row_number() OVER (PARTITION BY doc_id ORDER BY y, x) - 1 AS ri
        FROM rc WHERE w >= 40 AND h >= 20),
      hits AS (
        SELECT b.doc_id, b.i, b.txt, b.mx, b.my, b.k, min(r.ri) AS ri
        FROM kept b JOIN rk r ON b.doc_id = r.doc_id
          AND r.x <= b.mx AND b.mx < r.x + r.w
          AND r.y <= b.my AND b.my < r.y + r.h
        GROUP BY 1, 2, 3, 4, 5, 6),
      cells AS (
        SELECT doc_id, ri,
               string_agg(txt, ' ' ORDER BY my, mx, i) AS text,
               min(k) AS kmin
        FROM hits GROUP BY 1, 2)
      SELECT 'rect-' || CAST(r.doc_id AS VARCHAR) AS conv_id,
             CAST(r.ri AS INT) AS pos,
             coalesce(c.text, '') AS text,
             coalesce(c.kmin, 0) AS conf_x100
      FROM rk r LEFT JOIN cells c ON c.doc_id = r.doc_id AND c.ri = r.ri"""

    /** band-path oracle: A2 upper median of kept-box heights (floor
      * 20) → G1 cluster-to-FIRST over sorted line ys (recursive CTE;
      * anchor = first member, mean truncated) → G2 head/middle/tail
      * band assignment (= count of bounds ≤ yCenter) → per-band
      * " "-join ordered (y, x, seq), min conf, empty bands skipped.
      * NO fix_diameter on the band path (backend/main.py:264); docs
      * with no lines or < 2 bounds take the simple fallback WITH
      * fix_diameter (G6). */
    val sqlBandCells: String = s"""
      WITH RECURSIVE docs AS (
        SELECT doc_id, 5 + doc_id % 13 AS nb,
               CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 4 + doc_id % 6 END AS nl
        FROM documents),
      bx AS (SELECT doc_id, unnest(range(nb)) AS i FROM docs),
      tb AS (
        SELECT doc_id, i, $txtSql AS t,
          ((doc_id + i) % 5) * 4 + 10 AS hh,
          ((doc_id*131 + i*37) % 45) * 10 + (((doc_id + i) % 5) * 4 + 10) // 2 AS yc,
          (i % 6) * 90 + 25 AS mx,
          50 + (doc_id + i*3) % 50 AS k
        FROM bx),
      kept AS (SELECT * FROM tb WHERE trim(t) <> ''),
      med AS (
        SELECT doc_id, hh AS m FROM (
          SELECT doc_id, hh,
                 row_number() OVER (PARTITION BY doc_id ORDER BY hh) AS rn,
                 count(*) OVER (PARTITION BY doc_id) AS cnt
          FROM kept) WHERE rn = cnt // 2 + 1),
      thr AS (
        SELECT d.doc_id, greatest(coalesce(m.m, 0), 20.0) AS thresh
        FROM docs d LEFT JOIN med m USING (doc_id)),
      ly AS (
        SELECT doc_id, ((doc_id*11 + j*13) % 40) * 12 AS y
        FROM (SELECT doc_id, unnest(range(nl)) AS j FROM docs)),
      sorted AS (
        SELECT doc_id, y,
               row_number() OVER (PARTITION BY doc_id ORDER BY y) AS rn
        FROM ly),
      rec AS (
        SELECT s.doc_id, s.rn, s.y, s.y AS anchor, 1 AS cid
        FROM sorted s WHERE s.rn = 1
        UNION ALL
        SELECT s.doc_id, s.rn, s.y,
               CASE WHEN s.y - r.anchor > t.thresh THEN s.y ELSE r.anchor END,
               CASE WHEN s.y - r.anchor > t.thresh THEN r.cid + 1 ELSE r.cid END
        FROM rec r JOIN sorted s ON s.doc_id = r.doc_id AND s.rn = r.rn + 1
        JOIN thr t ON t.doc_id = s.doc_id),
      bounds AS (
        SELECT doc_id, cid,
               CAST(floor(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS b
        FROM rec GROUP BY 1, 2),
      nbound AS (
        SELECT d.doc_id, coalesce(c.m, 0) AS m
        FROM docs d LEFT JOIN
          (SELECT doc_id, count(*) AS m FROM bounds GROUP BY 1) c USING (doc_id)),
      banddocs AS (SELECT doc_id FROM nbound WHERE m >= 2),
      bandidx AS (
        SELECT k.doc_id, k.i, k.t, k.yc, k.mx, k.k, count(bo.b) AS bidx
        FROM kept k JOIN banddocs USING (doc_id)
        LEFT JOIN bounds bo ON bo.doc_id = k.doc_id AND bo.b <= k.yc
        GROUP BY 1, 2, 3, 4, 5, 6),
      bandcells AS (
        SELECT doc_id, bidx,
               string_agg(trim(t), ' ' ORDER BY yc, mx, i) AS text,
               min(k) AS kmin
        FROM bandidx GROUP BY 1, 2),
      bandout AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY bidx) - 1
                    AS INT) AS pos,
               text, kmin AS conf_x100
        FROM bandcells),
      fbout AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY yc, i) - 1
                    AS INT) AS pos,
               regexp_replace(trim(t), '(\\s)O([0-9])', '\\1Ø\\2', 'g') AS text,
               k AS conf_x100
        FROM kept JOIN (SELECT doc_id FROM nbound WHERE m < 2) USING (doc_id))
      SELECT 'band-' || CAST(doc_id AS VARCHAR) AS conv_id,
             pos, text, conf_x100
      FROM (SELECT * FROM bandout UNION ALL SELECT * FROM fbout)"""
  }

  /** DuckDB twin of the FULL BOM dataflow over the bom corpus:
    * P1-dropped cells re-index their column (row_number over kept),
    * J2 ragged positional zip (rows = max kept length, padded cells
    * empty/conf-0/non-OCR), J1 scored best-match with (score desc,
    * target asc) tie-break, C1 strict > 0.85, C3 warning string (the
    * OCRedited/Manual segments are structurally impossible in this
    * corpus: every present cell is OCR with conf ≥ 0.50), C4 per-
    * conversation gate, W1 numbering off the conv high-water mark
    * with positional gaps, C5/C6 routing. */
  private val sqlBomCtes: String = """
      WITH docs AS (SELECT doc_id AS d FROM documents),
      lens AS (
        SELECT d, li,
          CASE li WHEN 0 THEN 2 + d % 3
                  WHEN 1 THEN greatest(1, 2 + d % 3 - d % 2)
                  WHEN 2 THEN 2 + d % 3
                  ELSE greatest(1, 1 + d % 3) END AS len
        FROM docs CROSS JOIN (SELECT unnest(range(4)) AS li)),
      raw AS (SELECT d, li, unnest(range(len)) AS r FROM lens),
      cells0 AS (
        SELECT d, li, r,
          CASE li
            WHEN 0 THEN CASE (d + r) % 5
              WHEN 0 THEN 'PN-' || CAST(d % 20 AS VARCHAR)
              WHEN 1 THEN 'pn-' || CAST(d % 20 AS VARCHAR)
              WHEN 2 THEN 'N-' || CAST(d % 20 AS VARCHAR)
              WHEN 3 THEN 'ZZ-' || CAST(r AS VARCHAR)
              ELSE '' END
            WHEN 1 THEN CASE (d*3 + r) % 5
              WHEN 0 THEN '' WHEN 1 THEN CAST(r + 1 AS VARCHAR)
              WHEN 2 THEN '12' WHEN 3 THEN '1 2' ELSE '12a' END
            WHEN 2 THEN 'desc ' || CAST((d + r) % 7 AS VARCHAR)
            ELSE CASE r % 2 WHEN 0 THEN 'SS304' ELSE 'EN8' END END AS t,
          50 + (d + li*11 + r*3) % 50 AS k
        FROM raw),
      kept AS (
        SELECT d, li, t, k,
               row_number() OVER (PARTITION BY d, li ORDER BY r) - 1 AS pos
        FROM cells0 WHERE trim(t) <> ''),
      nrows AS (SELECT d, max(c) AS n FROM
        (SELECT d, li, count(*) AS c FROM kept GROUP BY 1, 2) GROUP BY 1),
      rws AS (SELECT d, unnest(range(n)) AS row_idx FROM nrows),
      piv AS (
        SELECT w.d, w.row_idx,
          coalesce(p.t, '') AS pt,
          coalesce(q.t, '') AS qt, coalesce(q.k, 0) AS qk,
          coalesce(e.t, '') AS et, coalesce(e.k, 0) AS ek,
          coalesce(m.t, '') AS mt, coalesce(m.k, 0) AS mk
        FROM rws w
        LEFT JOIN kept p ON p.d = w.d AND p.li = 0 AND p.pos = w.row_idx
        LEFT JOIN kept q ON q.d = w.d AND q.li = 1 AND q.pos = w.row_idx
        LEFT JOIN kept e ON e.d = w.d AND e.li = 2 AND e.pos = w.row_idx
        LEFT JOIN kept m ON m.d = w.d AND m.li = 3 AND m.pos = w.row_idx),
      dict AS (
        SELECT p, q, 'PN-' || CAST(e AS VARCHAR) AS dn
        FROM (SELECT unnest(range(5)) AS p),
             (SELECT unnest(range(11)) AS q),
             (SELECT unnest(range(20)) AS e)
        UNION ALL -- the percent-encoded PN%2D7.PDF link decodes to PN-7
        SELECT p, q, 'PN-7'
        FROM (SELECT unnest(range(5)) AS p), (SELECT unnest(range(11)) AS q)),
      meta AS (SELECT d, d % 5 AS p, d % 11 AS q, d % 37 AS last_item FROM docs),
      scored AS (
        SELECT v.d, v.row_idx, dd.dn,
          CASE WHEN upper(trim(v.pt)) = upper(dd.dn) THEN 3
               WHEN starts_with(upper(dd.dn), upper(trim(v.pt))) THEN 2
               WHEN contains(upper(dd.dn), upper(trim(v.pt))) THEN 1
               ELSE 0 END AS sc
        FROM piv v JOIN meta mm ON mm.d = v.d
        JOIN dict dd ON dd.p = mm.p AND dd.q = mm.q
        WHERE trim(v.pt) <> ''),
      best AS (
        SELECT d, row_idx, dn, sc FROM (
          SELECT *, row_number() OVER (PARTITION BY d, row_idx
                                       ORDER BY sc DESC, dn ASC) AS rn
          FROM scored) WHERE rn = 1),
      cls AS (
        SELECT v.*, mm.last_item,
          CASE WHEN trim(v.pt) = '' THEN NULL
               WHEN b.sc = 3 THEN 1.0 WHEN b.sc = 2 THEN 0.99
               WHEN b.sc = 1 THEN 0.85 ELSE 0.0 END AS sim,
          CASE WHEN trim(v.pt) = '' THEN ''
               WHEN b.sc >= 2 THEN b.dn ELSE v.pt END AS matched,
          CASE WHEN trim(v.pt) = '' THEN ''
               WHEN b.sc >= 2 THEN 'Child Part' ELSE 'BO' END AS row_type,
          (trim(v.pt) <> '' AND b.sc < 2) AS needs_review
        FROM piv v JOIN meta mm ON mm.d = v.d
        LEFT JOIN best b ON b.d = v.d AND b.row_idx = v.row_idx),
      flags AS (
        SELECT *,
          (row_type = '' AND trim(qt) = '' AND matched = '') AS is_empty,
          (qt <> '' AND NOT regexp_matches(trim(qt), '^\d+$')) AS invalid_qty
        FROM cls)"""

  private val sqlBomRouted: String = s"""
      ${sqlBomCtes},
      conv AS (
        SELECT d,
          max(CASE WHEN NOT is_empty AND (row_type = '' OR matched = ''
                   OR trim(qt) = '' OR invalid_qty) THEN 1 ELSE 0 END) AS viol,
          max(CASE WHEN NOT is_empty THEN 1 ELSE 0 END) AS has_row
        FROM flags GROUP BY 1),
      warned AS (
        SELECT f.*,
          array_to_string(list_filter([
            CASE WHEN len(o) > 0 THEN 'OCR(' || array_to_string(o, ',') || ')' END,
            CASE WHEN len(w) > 0 THEN 'Warning(' || array_to_string(w, ',') || ')' END
          ], x -> x IS NOT NULL), '; ') AS ocr_warning
        FROM (
          SELECT *,
            list_filter([
              CASE WHEN qt <> '' THEN 'Q' END,
              CASE WHEN et <> '' THEN 'D' END,
              CASE WHEN mt <> '' THEN 'M' END
            ], x -> x IS NOT NULL) AS o,
            list_filter([
              CASE WHEN qt <> '' AND qk < 95 THEN 'Q' END,
              CASE WHEN et <> '' AND ek < 95 THEN 'D' END,
              CASE WHEN mt <> '' AND mk < 95 THEN 'M' END,
              CASE WHEN needs_review THEN 'T' END,
              CASE WHEN sim IS NOT NULL AND sim < 0.95 THEN 'P' END
            ], x -> x IS NOT NULL) AS w
          FROM flags) f)
      SELECT 'bom-' || CAST(f.d AS VARCHAR) AS conv_id,
             CAST(f.row_idx AS INT) AS row_idx,
             f.last_item + f.row_idx + 1 AS item_number,
             f.row_type, f.matched,
             trim(f.qt) AS quantity, trim(f.et) AS description,
             trim(f.mt) AS material, f.ocr_warning, f.needs_review,
             CAST(round(f.sim * 100) AS INT) AS sim_x100
      FROM warned f JOIN conv c ON c.d = f.d
      WHERE c.viol = 0 AND c.has_row = 1
        AND trim(f.qt) <> '' AND f.row_type <> ''
        AND f.row_type IN ('Child Part', 'BO')"""

  /** per-conversation validation flags (the x_bom_validation oracle,
    * reused by x_validation_flags' histogram). The integer sum is CAST:
    * DuckDB sum(int) is HUGEINT (arrow decimal128) while Spark emits
    * bigint — identical values, different wire type, and the driver's
    * hash is type-sensitive. */
  private val sqlBomValidation: String = s"""
      ${sqlBomCtes}
      SELECT 'bom-' || CAST(d AS VARCHAR) AS conv_id,
             max(CASE WHEN NOT is_empty AND row_type = '' THEN 1 ELSE 0 END) AS missing_type,
             max(CASE WHEN NOT is_empty AND matched = '' THEN 1 ELSE 0 END) AS missing_part,
             max(CASE WHEN NOT is_empty AND trim(qt) = '' THEN 1 ELSE 0 END) AS missing_qty,
             max(CASE WHEN invalid_qty THEN 1 ELSE 0 END) AS invalid_qty,
             CAST(sum(CASE WHEN trim(qt) <> '' AND row_type <> '' THEN 1 ELSE 0 END)
                  AS BIGINT) AS emittable_rows
      FROM flags GROUP BY 1"""

  /** Spark side of [[sqlBomValidation]]: per-conversation validation
    * flags over the assembled BOM, shared by x_bom_validation and
    * x_validation_flags' histogram as their oracles share the SQL. */
  private def bomValidation(asm: DataFrame): DataFrame =
    asm.groupBy(col("conv_id")).agg(
      max(when(array_contains(col("missing"), "Type"), 1).otherwise(0)).as("missing_type"),
      max(when(array_contains(col("missing"), "Part Number"), 1).otherwise(0)).as("missing_part"),
      max(when(array_contains(col("missing"), "Quantity"), 1).otherwise(0)).as("missing_qty"),
      max(when(col("invalid_qty"), 1).otherwise(0)).as("invalid_qty"),
      sum(when(col("emit"), 1).otherwise(0)).as("emittable_rows"))

  private def extractSqlCorpus(s: SparkSession, dir: String): DataFrame = {
    val metrics = new ExtractPipeline.Metrics(s)
    ExtractPipeline.extract(SqlCorpus.turns(s, dir), metrics, partitions = 32)
      .toDF()
  }

  /** assembleBom over the SqlCorpus, MEMOIZED per (session, dir): five
    * driver queries (x_bom_pipeline / _validation / _quarantine /
    * _rows, x_validation_flags) each project a different question out
    * of the identical corpus-gen -> kernel -> assembly chain, and each
    * must stay a self-contained query with its own oracle — but
    * re-materializing the chain five times is exactly what a
    * production pipeline would NOT do (it computes assembly once and
    * fans out). The memo keeps the one-query-one-oracle contract (the
    * DataFrame definition is unchanged; only the materialized
    * intermediate is shared) and holds at most ONE entry: assembleBom's
    * own local checkpoint, no second copy. Switching (session, dir)
    * frees the previous entry's blocks with BlockShim (plain
    * `unpersist` ignores checkpoint blocks). Not registered with
    * Fn.track: the next query's Fn.release would free blocks the
    * sibling queries still read. */
  private val bomMemo =
    new java.util.concurrent.atomic.AtomicReference[(SparkSession, String, DataFrame)]()

  private def bomAssembled(s: SparkSession, dir: String): DataFrame = {
    val cur = bomMemo.get()
    // reference equality on the session (an identity hash could be
    // reused after GC and resurrect a dead session's frame)
    if (cur != null && (cur._1 eq s) && cur._2 == dir) cur._3
    else {
      val metrics = new ExtractPipeline.Metrics(s)
      val asm = ExtractPipeline.assembleBom(
        ExtractPipeline.extract(SqlCorpus.bomTurns(s, dir), metrics,
          partitions = 32),
        SqlCorpus.bomDrawings(s), SqlCorpus.bomConvMeta(s, dir))
      // the evicted entry may belong to a STOPPED session — releasing
      // it is best-effort, never a reason to fail the new query
      if (cur != null)
        try org.apache.spark.sql.graftshim.BlockShim.unpersist(cur._3)
        catch { case _: Throwable => () }
      bomMemo.set((s, dir, asm))
      asm
    }
  }

  /** the per-cell projection shared by the *_cells oracle queries */
  private def cellsOut(extracted: DataFrame): DataFrame =
    extracted
      .select(col("conv_id"), posexplode(col("cells")).as(Seq("pos", "cell")))
      .select(col("conv_id"), col("pos"),
        col("cell.text").as("text"),
        round(col("cell.confidence") * 100).cast("int").as("conf_x100"))

  private def extractOver(s: SparkSession,
                          turns: org.apache.spark.sql.Dataset[graft.model.Turn]): DataFrame = {
    val metrics = new ExtractPipeline.Metrics(s)
    ExtractPipeline.extract(turns, metrics, partitions = 32).toDF()
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ── tier 1: driver-oracle extraction (real kernel vs DuckDB) ────
    ("x_extract_turns", (s: SparkSession, dir: String) =>
      extractSqlCorpus(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("tool"),
          col("extracted_text"), col("n_boxes"), col("n_cells")): DataFrame,
      Some(s"""
      ${SqlCorpus.sqlBoxes},
      agg AS (
        SELECT doc_id,
               string_agg(txt, chr(10) ORDER BY yc, i) AS qt,
               count(*) AS n_cells
        FROM kept GROUP BY doc_id)
      SELECT 'doc-' || CAST(d.doc_id AS VARCHAR) AS conv_id,
             0 AS turn_idx, d.tool AS tool,
             CASE WHEN d.tool = 'quick' THEN coalesce(a.qt, '') ELSE '' END
               AS extracted_text,
             d.nb AS n_boxes, coalesce(a.n_cells, 0) AS n_cells
      FROM docs d LEFT JOIN agg a USING (doc_id)""")),

    ("x_quick_text", (s: SparkSession, dir: String) =>
      extractSqlCorpus(s, dir)
        .filter(col("tool") === Tool.Quick)
        .select(col("conv_id"), col("extracted_text")): DataFrame,
      Some(s"""
      ${SqlCorpus.sqlBoxes}
      SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS conv_id,
             string_agg(txt, chr(10) ORDER BY yc, i) AS extracted_text
      FROM kept WHERE tool = 'quick' GROUP BY doc_id""")),

    ("x_extract_cells", (s: SparkSession, dir: String) =>
      cellsOut(extractSqlCorpus(s, dir)): DataFrame,
      Some(s"""
      ${SqlCorpus.sqlBoxes}
      SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS conv_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY yc, i) - 1 AS pos,
             txt AS text, k AS conf_x100
      FROM kept""")),

    // rect path: G3 containment + size filter + G4/G5 candidate-rect
    // analog, driver-checked end-to-end through the real kernel
    ("x_rect_cells", (s: SparkSession, dir: String) =>
      cellsOut(extractOver(s, SqlCorpus.rectTurns(s, dir))): DataFrame,
      Some(SqlCorpus.sqlRectCells)),

    // band path: A2 upper median + G1 cluster-to-first + G2 bands +
    // G6 fallback, driver-checked through the real kernel (the DuckDB
    // twin does the clustering with a recursive CTE)
    ("x_band_cells", (s: SparkSession, dir: String) =>
      cellsOut(extractOver(s, SqlCorpus.bandTurns(s, dir))): DataFrame,
      Some(SqlCorpus.sqlBandCells)),

    // the FULL north-rule dataflow, driver-checked: real kernel over
    // column-labeled payloads → assembleBom (J2 zip, J1 broadcast
    // best-match, C1 classify, C3 warning, C4 gate, W1 numbering) →
    // routed; DuckDB replays every stage independently
    ("x_bom_pipeline", (s: SparkSession, dir: String) => {
      ExtractPipeline.routed(bomAssembled(s, dir))
        .select(col("conv_id"), col("row_idx"), col("item_number"),
          col("row_type"), col("matched"), col("quantity"),
          col("description"), col("material"), col("ocr_warning"),
          col("needs_review"),
          when(isnan(col("similarity")), -1)
            .otherwise(round(col("similarity") * 100)).cast("int").as("sim_x100"))
    }: DataFrame, Some(sqlBomRouted)),

    // HTML main-content path, driver-checked: real tokenizer +
    // classifier vs an independent SQL implementation of the
    // published Boilerpipe rules over the regenerated block sequence
    ("x_html_extract", (s: SparkSession, dir: String) =>
      extractOver(s, SqlCorpus.htmlTurns(s, dir))
        .select(col("conv_id"), col("extracted_text")): DataFrame,
      Some(SqlCorpus.sqlHtmlMain)),

    // C4 as data over the same corpus: per-conversation validation
    // flags (the reference's pre-submit popup, index.html:2304-2315).
    // The oracle CASTs its integer sum(): DuckDB sum(int) is HUGEINT
    // (arrow decimal128) while Spark emits bigint — identical values,
    // different wire type, and the driver's hash is type-sensitive.
    ("x_bom_validation", (s: SparkSession, dir: String) =>
      bomValidation(bomAssembled(s, dir)): DataFrame, Some(sqlBomValidation)),

    // C4 alternative sink: quarantined rows of invalid conversations
    // with their violation flags (the at-scale replacement for the
    // reference's popup — data problems become a table, not a toast)
    ("x_bom_quarantine", (s: SparkSession, dir: String) => {
      ExtractPipeline.quarantined(bomAssembled(s, dir))
        .select(col("conv_id"), col("row_idx"), col("row_type"),
          col("matched"), col("quantity"),
          array_join(col("missing"), ",").as("missing"),
          col("invalid_qty"))
    }: DataFrame, Some(s"""
      ${sqlBomCtes},
      conv AS (
        SELECT d,
          max(CASE WHEN NOT is_empty AND (row_type = '' OR matched = ''
                   OR trim(qt) = '' OR invalid_qty) THEN 1 ELSE 0 END) AS viol,
          max(CASE WHEN NOT is_empty THEN 1 ELSE 0 END) AS has_row
        FROM flags GROUP BY 1)
      SELECT 'bom-' || CAST(f.d AS VARCHAR) AS conv_id,
             CAST(f.row_idx AS INT) AS row_idx, f.row_type, f.matched,
             trim(f.qt) AS quantity,
             CASE WHEN f.is_empty THEN '' ELSE
               coalesce(array_to_string(list_filter([
                 CASE WHEN f.row_type = '' THEN 'Type' END,
                 CASE WHEN f.matched = '' THEN 'Part Number' END,
                 CASE WHEN trim(f.qt) = '' THEN 'Quantity' END
               ], x -> x IS NOT NULL), ','), '') END AS missing,
             f.invalid_qty
      FROM flags f JOIN conv c ON c.d = f.d
      WHERE NOT (c.viol = 0 AND c.has_row = 1)""")),

    // ── tier 2, rehomed onto SqlCorpus in r3 so every query below has
    //    a driver oracle (the r2 gap: these ran the TranscriptGen
    //    corpus, whose Random streams aren't SQL-regenerable, and the
    //    driver recorded rows-only). Each asks a DIFFERENT question of
    //    the oracled dataflow than the tier-1 queries do. ─────────────

    // the dual-sink routing summary (C5/C6 + K3/K4 as data): per
    // row_type, how many rows each sink receives, from how many
    // conversations, and the item-number mass — the reference's two
    // add-row-to-table loops (backend/main.py:721-824, 827-932)
    // reduced to their per-sink ledger
    ("x_bom_rows", (s: SparkSession, dir: String) => {
      ExtractPipeline.routed(bomAssembled(s, dir))
        .groupBy(col("row_type")).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("conv_id")).as("n_convs"),
          sum(col("item_number")).as("sum_items"),
          max(col("item_number")).as("max_item"))
    }: DataFrame, Some(s"""
      SELECT row_type, count(*) AS n_rows,
             count(DISTINCT conv_id) AS n_convs,
             CAST(sum(item_number) AS BIGINT) AS sum_items,
             max(item_number) AS max_item
      FROM (${sqlBomRouted}) GROUP BY 1""")),

    // C4 validation gate as a corpus-level histogram: how many
    // conversations exhibit each (missing_type, missing_part,
    // missing_qty, invalid_qty) flag combination, and how many rows
    // they would have emitted — the fleet-health view of the
    // reference's per-upload popup (frontend/index.html:2304-2315)
    ("x_validation_flags", (s: SparkSession, dir: String) => {
      bomValidation(bomAssembled(s, dir))
        .groupBy(col("missing_type"), col("missing_part"),
          col("missing_qty"), col("invalid_qty"))
        .agg(count(lit(1)).as("n_convs"),
          sum(col("emittable_rows")).as("total_emittable"))
    }: DataFrame, Some(s"""
      SELECT missing_type, missing_part, missing_qty, invalid_qty,
             count(*) AS n_convs,
             CAST(sum(emittable_rows) AS BIGINT) AS total_emittable
      FROM (${sqlBomValidation}) GROUP BY 1, 2, 3, 4""")),

    // main-content SHAPE per document: kept-block count and extracted
    // length — the segment+classify outcome as metrics (x_html_extract
    // checks the text itself; this checks the classifier's cut)
    ("x_html_main", (s: SparkSession, dir: String) =>
      extractOver(s, SqlCorpus.htmlTurns(s, dir))
        .select(col("conv_id"),
          when(col("extracted_text") === "", 0)
            .otherwise(size(split(col("extracted_text"), "\n", -1))).as("n_blocks"),
          length(col("extracted_text")).as("n_chars")): DataFrame,
      Some(s"""
      SELECT conv_id,
             CASE WHEN extracted_text = '' THEN 0
                  ELSE CAST(len(string_split(extracted_text, chr(10))) AS INT)
             END AS n_blocks,
             CAST(length(extracted_text) AS INT) AS n_chars
      FROM (${SqlCorpus.sqlHtmlMain})""")),

    // Readability-style main-content SELECTION (north_star: "DOM node
    // scoring for main-content selection"): the highest-scoring
    // contiguous run of content blocks, Σ(words + 2·commas) per run,
    // first run on ties — vs an independent gaps-and-islands SQL twin
    ("x_main_segment", (s: SparkSession, dir: String) => {
      import s.implicits._
      SqlCorpus.htmlTurns(s, dir)
        .mapPartitions(_.map(t =>
          (t.conv_id, graft.kernel.HtmlMain.mainSegment(t.text))))
        .toDF("conv_id", "main_segment")
    }: DataFrame, Some(SqlCorpus.sqlMainSegment)),

    // ── SFT pair formation: the terminal op of a conversational
    //    training-data pipeline — pair each assistant turn with its
    //    preceding context window to emit one training example per
    //    response. The corpus has no conversation structure, so — the
    //    d9-twin pattern — a deterministic multi-turn fixture derives
    //    from `documents` (conv = doc_id/8, turn = doc_id%8, roles
    //    alternate), and the OPERATOR is the pairing: context = the
    //    LAST K=3 turns formatted "role: text" (context is CAPPED, as
    //    every real pipeline caps it — an unbounded collect over a
    //    10⁴-turn conversation is O(len²) state, the scale trap this
    //    query's shape must avoid), response = the assistant turn.
    //    Emits per-example summary columns plus the md5-prefix hash of
    //    the assembled prompt, so the oracle checks the exact prompt
    //    BYTES without shipping megabyte strings through the compare.
    //    Scale shape: one window over (conv, turn) with a 3-row frame
    //    — bounded state per row, shuffle only on the conversation
    //    key; no join, no explode. ───────────────────────────────────
    ("x_sft_pairs", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val t = Fn.spread(s, dir, "documents")
        .select((col("doc_id") / 8).cast("long").as("conv"),
          pmod(col("doc_id"), lit(8L)).as("tix"),
          when(pmod(col("doc_id"), lit(2L)) === 0, "user")
            .otherwise("assistant").as("role"),
          col("text"))
      // INVARIANT (advice r5): this positional frame agrees with the
      // oracle's VALUE-range join [tix-3, tix-1] only while every
      // conversation's tix values are dense — which holds by
      // construction here (tix = doc_id % 8 over the contiguous
      // 0..N-1 doc_id domain every sf fixture generates; a fixture
      // filter or doc_id gap would break it and the engines would
      // silently diverge). If the fixture ever changes, switch to
      // Window...orderBy(tix).rangeBetween(-3, -1).
      val w = Window.partitionBy(col("conv")).orderBy(col("tix"))
        .rowsBetween(-3, -1)
      t.withColumn("ctx",
          collect_list(concat(col("role"), lit(": "), col("text"))).over(w))
        .filter(col("role") === "assistant" && size(col("ctx")) > 0)
        .withColumn("prompt", concat_ws("\n", col("ctx")))
        .select(col("conv"), col("tix"),
          size(col("ctx")).cast("long").as("n_context_turns"),
          length(col("prompt")).cast("long").as("prompt_chars"),
          Fn.md5Prefix32(col("prompt")).as("prompt_hash"),
          length(col("text")).cast("long").as("response_chars"))
    }: DataFrame, Some(s"""
      WITH t AS (
        SELECT CAST(doc_id // 8 AS BIGINT) AS conv,
               CAST(doc_id % 8 AS BIGINT) AS tix,
               CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END
                 AS role,
               text
        FROM documents),
      ctx AS (
        SELECT a.conv, a.tix,
               CAST(count(*) AS BIGINT) AS n_context_turns,
               string_agg(b.role || ': ' || b.text, chr(10)
                 ORDER BY b.tix) AS prompt,
               any_value(length(a.text)) AS rc
        FROM t a JOIN t b
          ON b.conv = a.conv AND b.tix < a.tix AND b.tix >= a.tix - 3
        WHERE a.role = 'assistant'
        GROUP BY 1, 2)
      SELECT conv, tix, n_context_turns,
             CAST(length(prompt) AS BIGINT) AS prompt_chars,
             ${Fn.sqlHash32Expr("prompt")} AS prompt_hash,
             CAST(rc AS BIGINT) AS response_chars
      FROM ctx""")),

    // ── tier 3: the everything-mixed TranscriptGen fixture, kept
    //    rows-only BY DESIGN (its Random streams aren't SQL-
    //    regenerable; the in-repo per-turn equality suite gates it) ──
    ("x_synth_turns", (s: SparkSession, _: String) =>
      extractAll(s): DataFrame, None)
  )
}
