package graft.model

import java.sql.Timestamp

/** Core data model for the transcript-extraction engine.
  *
  * The input shape is mandated by BASELINE.json `input_hint`:
  * `(conv_id:string, turn_idx:int32, role:string, text:string,
  * tool:string, ts:timestamp)`. The `text` column carries a serialized
  * payload; `tool` discriminates the payload kind — the analog of the
  * reference's `mode` form field (reference: backend/main.py:534-541).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Payload discriminators carried in `Turn.tool`. */
object Tool {
  /** newline-joined text of y-sorted boxes (reference: backend/main.py:551-558) */
  val Quick = "quick"
  /** one cell per box, y-sorted (reference: backend/main.py:64-100 `simple_cells`) */
  val TableSimple = "table_simple"
  /** horizontal-band row bucketing (reference: backend/main.py:210-296 `advanced_cells`) */
  val TableBands = "table_bands"
  /** rectangle-containment cell grid (reference: backend/main.py:105-211
    * `advanced_cells_with_rectangles`) */
  val TableRects = "table_rects"
  /** HTML fragment; Boilerpipe-style block classification (north_star) */
  val HtmlMain = "html_main"

  val all: Set[String] = Set(Quick, TableSimple, TableBands, TableRects, HtmlMain)
}

/** An OCR word box: 4-point quad + (text, confidence).
  * Point 0 is the top-left corner, point 2 the bottom-right
  * (reference: backend/main.py:79, 89, 185-186). Coordinates are kept
  * as doubles; all midpoint math truncates toward zero like Python's
  * `int(...)` (backend/main.py:89).
  */
final case class Box(
    x0: Double, y0: Double,
    x1: Double, y1: Double,
    x2: Double, y2: Double,
    x3: Double, y3: Double,
    t: String,
    c: Double
) {
  /** `int((box[0][1] + box[2][1]) / 2)` — truncating, not rounding. */
  def yCenter: Int = ((y0 + y2) / 2.0).toInt
  /** `int((box[0][0] + box[2][0]) / 2)` (backend/main.py:185). */
  def xCenter: Int = ((x0 + x2) / 2.0).toInt
  /** `abs(box[2][1] - box[0][1])` (backend/main.py:216). */
  def height: Double = math.abs(y2 - y0)
}

/** A candidate cell rectangle `(x, y, w, h)` — the analog of
  * `cv2.boundingRect` output (reference: backend/main.py:148-151). */
final case class Rect(x: Int, y: Int, w: Int, h: Int)

/** Decoded per-turn payload (see FIXTURES.md §1):
  * {"boxes":[{"q":[[x,y]×4],"t":"…","c":0.97}…],"w":W,"h":H,
  *  "lines":[y…],"rects":[[x,y,w,h]…],"col":"PartNumber"}
  *
  *  - `boxes`: the OCR word boxes (quad + text + confidence)
  *  - `w`,`h`: image dimensions (drive the rect size filter)
  *  - `lines`: detected horizontal-line y endpoints — the deterministic
  *    analog of the HoughLinesP output feeding the y-cluster
  *    (backend/main.py:241-245)
  *  - `rects`: candidate cell rects — the analog of the contour
  *    bounding boxes feeding containment (backend/main.py:146-151)
  *  - `col`: optional spreadsheet column label for BOM assembly
  *    (the reference's per-column upload tag, backend/main.py:537)
  */
final case class Payload(
    boxes: Array[Box],
    w: Int,
    h: Int,
    lines: Array[Int],
    rects: Array[Rect],
    col: String
)

/** One extracted cell: text + min-confidence of merged fragments
  * (reference: backend/main.py:100, 198-204). */
final case class Cell(text: String, confidence: Double)

/** Per-turn extraction output. `extracted_text` is the `"\n"`-joined
  * quick-mode text (backend/main.py:557) — the column gated on
  * per-turn text equality. `cells` is the cell list in emission order.
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    col: String,
    extracted_text: String,
    cells: Array[Cell],
    n_boxes: Int,
    n_cells: Int,
    n_dropped: Int = 0 // boxes dropped by this turn (P1 empties, uncontained)
)

/** A typed spreadsheet cell with provenance: `{text, confidence, ocr}`
  * (reference: frontend/index.html:1803). */
final case class OcrField(text: String, confidence: Double, ocr: Boolean)

object OcrField {
  val empty: OcrField = OcrField("", 0.0, ocr = false)
}

/** A classified, validated, numbered BOM row — the engine's sink record
  * (reference payload shapes: frontend/index.html:2343-2361). */
final case class BomRow(
    conv_id: String,
    row_idx: Int,
    item_number: Long,
    row_type: String,          // "Child Part" | "BO"
    matched: String,           // drawingNumber / boughtoutPartNumber
    quantity: String,
    description: String,
    material: String,
    ocr_warning: String,
    needs_review: Boolean,
    similarity: Double         // NaN when no match was attempted
)

/** Dictionary relation for best-match lookup (FIXTURES.md §2). */
final case class Drawing(
    project: String,
    part_number: String,
    part_name: String,
    drawing_link: String
)

