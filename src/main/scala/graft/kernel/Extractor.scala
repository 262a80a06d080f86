package graft.kernel

import graft.model._
import java.util.Comparator

/** Production per-turn extraction kernel — the code that runs inside
  * `mapPartitions` on executors. Implements exactly the semantics the
  * plain-Scala oracle (graft.oracle.Oracle) transliterates from the
  * reference, but written for throughput: streaming JSON decode,
  * primitive arrays, a primitive long-key sort on the simple path and,
  * on the band and rect paths, one stable (cell, y, x) TimSort of the
  * kept fragments swept once into cells, no per-box closures in the
  * hot loops. `KernelEqualitySpec` asserts
  * kernel == oracle on the full synthetic corpus.
  *
  * Reference semantics pinned here (citations in the oracle):
  * simple path backend/main.py:64-100; band path :210-296; rect path
  * :105-211; quick join :557; fix_diameter :45-48.
  */
object Extractor {

  /** Mutable per-turn extraction counters, aggregated per partition
    * into Spark accumulators (A6: backend/main.py:72,96 print counters
    * → accumulator-backed metrics per BASELINE.json north_star). */
  final class Counters {
    var turns: Long = 0L
    var boxesIn: Long = 0L
    var boxesDropped: Long = 0L
    var cellsOut: Long = 0L
    var blocksKept: Long = 0L
    var blocksDropped: Long = 0L
  }

  // a kept fragment tagged with the cell it joins: its band on the
  // band path, its first containing rect on the rect path
  private final class Frag(val cell: Int, val y: Int, val x: Int,
                           val text: String, val conf: Double)

  // TimSort is stable: fragments equal in (cell, y, x) keep box order
  private val byCellYX: Comparator[Frag] = new Comparator[Frag] {
    def compare(a: Frag, b: Frag): Int = {
      var c = Integer.compare(a.cell, b.cell)
      if (c == 0) c = Integer.compare(a.y, b.y)
      if (c != 0) c else Integer.compare(a.x, b.x)
    }
  }

  // the cell of a rect that receives no box
  private val NoBox = Cell("", 0.0)

  // P2: lookbehind whitespace, lookahead digit (backend/main.py:47)
  private val DiameterPat = java.util.regex.Pattern.compile("(?<=\\s)O(?=\\d)")

  def fixDiameter(s: String): String = {
    // fast path: most texts contain no 'O' at all
    var i = s.indexOf('O')
    var found = false
    while (i >= 0 && !found) {
      if (i > 0 && i + 1 < s.length &&
          Character.isWhitespace(s.charAt(i - 1)) && isAsciiDigit(s.charAt(i + 1)))
        found = true
      else i = s.indexOf('O', i + 1)
    }
    if (!found) s else DiameterPat.matcher(s).replaceAll("Ø")
  }

  @inline private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Dispatch one turn (C7, backend/main.py:551-576). Unknown tools
    * pass the text through untouched (plain conversational turns). */
  def extract(turn: Turn, ctr: Counters): ExtractedTurn = {
    ctr.turns += 1
    // per-turn dropped-box delta rides on the output row so lineage
    // can aggregate it per bucket (the run-global accumulator total
    // is NOT a per-bucket number)
    val dropped0 = ctr.boxesDropped
    val out = turn.tool match {
      case Tool.Quick | Tool.TableSimple =>
        val pl = PayloadCodec.decode(turn.text)
        ctr.boxesIn += pl.boxes.length
        val cells = simpleCells(pl.boxes, ctr)
        finish(turn, pl.col, cells, pl.boxes.length, ctr)
      case Tool.TableBands =>
        val pl = PayloadCodec.decode(turn.text)
        ctr.boxesIn += pl.boxes.length
        finish(turn, pl.col, bandCells(pl, ctr), pl.boxes.length, ctr)
      case Tool.TableRects =>
        val pl = PayloadCodec.decode(turn.text)
        ctr.boxesIn += pl.boxes.length
        finish(turn, pl.col, rectCells(pl, ctr), pl.boxes.length, ctr)
      case Tool.HtmlMain =>
        val (text, kept, dropped) = HtmlMain.extractWithStats(turn.text)
        ctr.blocksKept += kept
        ctr.blocksDropped += dropped
        ExtractedTurn(turn.conv_id, turn.turn_idx, turn.role, turn.tool, "",
          text, Array.empty, 0, 0)
      case _ =>
        ExtractedTurn(turn.conv_id, turn.turn_idx, turn.role, turn.tool, "",
          turn.text, Array.empty, 0, 0)
    }
    val d = ctr.boxesDropped - dropped0
    if (d == 0L) out else out.copy(n_dropped = d.toInt)
  }

  private def finish(turn: Turn, col: String, cells: Array[Cell],
                     nBoxes: Int, ctr: Counters): ExtractedTurn = {
    ctr.cellsOut += cells.length
    val text =
      if (turn.tool == Tool.Quick) {
        // "\n".join(texts) (backend/main.py:557)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i < cells.length) {
          if (i > 0) sb.append('\n')
          sb.append(cells(i).text)
          i += 1
        }
        sb.toString
      } else ""
    ExtractedTurn(turn.conv_id, turn.turn_idx, turn.role, turn.tool, col,
      text, cells, nBoxes, cells.length)
  }

  /** Simple path: strip → drop empty → fix_diameter → stable sort by
    * y_center (original order breaks ties). Sorting uses primitive
    * long keys `y << 32 | seq`: seq < 2³¹ fills the low word without
    * reaching the sign bit, so signed-long order is (y, seq) order for
    * any y, negative included — stability by construction, no per-box
    * objects, dual-pivot primitive sort, one path for every turn size. */
  def simpleCells(boxes: Array[Box], ctr: Counters): Array[Cell] = {
    val texts = new Array[String](boxes.length)
    val confs = new Array[Double](boxes.length)
    val keys = new Array[Long](boxes.length)
    var n = 0
    var i = 0
    while (i < boxes.length) {
      val b = boxes(i)
      val raw = b.t.trim
      if (raw.isEmpty) ctr.boxesDropped += 1
      else {
        texts(n) = fixDiameter(raw)
        confs(n) = b.c
        keys(n) = (b.yCenter.toLong << 32) | n
        n += 1
      }
      i += 1
    }
    val ks = java.util.Arrays.copyOf(keys, n)
    java.util.Arrays.sort(ks)
    val out = new Array[Cell](n)
    i = 0
    while (i < n) {
      val idx = (ks(i) & 0xFFFFFFFFL).toInt
      out(i) = Cell(texts(idx), confs(idx))
      i += 1
    }
    out
  }

  /** Band path (advanced_cells): NO fix_diameter here — the reference
    * band path only strips (backend/main.py:264). */
  def bandCells(pl: Payload, ctr: Counters): Array[Cell] = {
    // A2 merge threshold: upper median of kept-box heights, floor 20
    var nH = 0
    val heights = new Array[Double](pl.boxes.length)
    var i = 0
    while (i < pl.boxes.length) {
      val b = pl.boxes(i)
      if (b.t.trim.nonEmpty) { heights(nH) = b.height; nH += 1 }
      i += 1
    }
    val mergeThresh =
      if (nH > 0) {
        val hs = java.util.Arrays.copyOf(heights, nH)
        java.util.Arrays.sort(hs)
        math.max(hs(nH / 2), 20.0)
      } else 20.0

    // G1 cluster-to-first over sorted ys
    val ys = pl.lines.clone()
    java.util.Arrays.sort(ys)
    val bounds = new Array[Int](ys.length)
    var nB = 0
    var clusterFirst = 0
    var clusterSum = 0L
    var clusterLen = 0
    i = 0
    while (i < ys.length) {
      val y = ys(i)
      if (clusterLen == 0 || math.abs(y - clusterFirst) > mergeThresh) {
        if (clusterLen > 0) {
          bounds(nB) = (clusterSum.toDouble / clusterLen).toInt; nB += 1
        }
        clusterFirst = y; clusterSum = y; clusterLen = 1
      } else { clusterSum += y; clusterLen += 1 }
      i += 1
    }
    if (clusterLen > 0) { bounds(nB) = (clusterSum.toDouble / clusterLen).toInt; nB += 1 }

    // G6: fall back to the simple path (WITH fix_diameter) when no
    // lines or < 2 bounds (backend/main.py:255-257)
    if (pl.lines.isEmpty || nB < 2) return simpleCells(pl.boxes, ctr)

    // head (y < bounds(0)), middles [b_i, b_i+1) and tail (y >= last)
    // tile the y axis in order: each cluster's mean lies below the next
    // cluster's first y and truncation keeps that order, so the bounds
    // never decrease and a fragment's band is the number of bounds <= y
    val frags = new Array[Frag](pl.boxes.length)
    var n = 0
    i = 0
    while (i < pl.boxes.length) {
      val b = pl.boxes(i)
      val t = b.t.trim
      if (t.isEmpty) ctr.boxesDropped += 1
      else {
        val y = b.yCenter
        frags(n) = new Frag(boundsAtOrBelow(bounds, nB, y), y, b.xCenter, t, b.c)
        n += 1
      }
      i += 1
    }
    // bands with no fragment make no run, so they are skipped
    val out = Array.newBuilder[Cell]
    sweep(frags, n)((_, cell) => out += cell)
    out.result()
  }

  /** How many of the non-decreasing `bounds(0 until n)` are <= y. */
  private def boundsAtOrBelow(bounds: Array[Int], n: Int, y: Int): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= y) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Sorts `frags(0 until n)` stably by (cell, y, x) and hands each run
    * of one cell, joined by [[joinBand]], to `emit` in cell order. */
  private def sweep(frags: Array[Frag], n: Int)(emit: (Int, Cell) => Unit): Unit = {
    java.util.Arrays.sort(frags, 0, n, byCellYX)
    var i = 0
    while (i < n) {
      val cell = frags(i).cell
      var j = i + 1
      while (j < n && frags(j).cell == cell) j += 1
      emit(cell, joinBand(frags, i, j))
      i = j
    }
  }

  /** One cell from a sorted run: texts joined by " ", min confidence. */
  private def joinBand(frags: Array[Frag], from: Int, until: Int): Cell = {
    val sb = new java.lang.StringBuilder(32)
    var minConf = Double.MaxValue
    var i = from
    while (i < until) {
      if (i > from) sb.append(' ')
      sb.append(frags(i).text)
      if (frags(i).conf < minConf) minConf = frags(i).conf
      i += 1
    }
    Cell(sb.toString, minConf)
  }

  /** Rect path (advanced_cells_with_rectangles). */
  def rectCells(pl: Payload, ctr: Counters): Array[Cell] = {
    // G3 size filter with floor division (backend/main.py:148-150)
    val minW = pl.w / 20
    val minH = pl.h / 30
    var nR = 0
    val keep = new Array[Rect](pl.rects.length)
    var i = 0
    while (i < pl.rects.length) {
      val r = pl.rects(i)
      if (r.w >= minW && r.h >= minH) { keep(nR) = r; nR += 1 }
      i += 1
    }
    if (nR == 0) return simpleCells(pl.boxes, ctr) // G6 fallback

    val rects = java.util.Arrays.copyOf(keep, nR)
    java.util.Arrays.sort(rects, new Comparator[Rect] {
      def compare(a: Rect, b: Rect): Int = {
        val c = Integer.compare(a.y, b.y)
        if (c != 0) c else Integer.compare(a.x, b.x)
      }
    })

    // tag each kept box with its first containing rect
    val frags = new Array[Frag](pl.boxes.length)
    var n = 0
    i = 0
    while (i < pl.boxes.length) {
      val b = pl.boxes(i)
      val raw = b.t.trim
      if (raw.isEmpty) ctr.boxesDropped += 1
      else {
        val mx = b.xCenter
        val my = b.yCenter
        var ri = 0
        var hit = -1
        while (hit < 0 && ri < nR) {
          val r = rects(ri)
          if (r.x <= mx && mx < r.x + r.w && r.y <= my && my < r.y + r.h) hit = ri
          ri += 1
        }
        if (hit >= 0) { frags(n) = new Frag(hit, my, mx, fixDiameter(raw), b.c); n += 1 }
        else ctr.boxesDropped += 1 // box in no rect is dropped (main.py:199)
      }
      i += 1
    }

    val out = Array.fill(nR)(NoBox) // main.py:197-199
    sweep(frags, n)((r, cell) => out(r) = cell)
    out
  }
}
