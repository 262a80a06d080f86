package graft.model

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import java.io.StringWriter

/** Streaming JSON codec for the per-turn payload carried in `Turn.text`.
  *
  * Hand-rolled over jackson-core (on the Spark classpath) rather than
  * databind: the decode runs once per turn in the extraction hot path,
  * and a streaming parse with no intermediate tree allocation is the
  * per-partition "pooled parser" the design calls for (the analog of
  * the reference's cached OCR model, app.py:12-16, backend/main.py:51-61).
  *
  * The factory is thread-safe and shared; per-thread parser state is
  * created per call (cheap) while the symbol tables inside the factory
  * amortize across a partition.
  */
object PayloadCodec {

  private val factory = new JsonFactory()

  val empty: Payload =
    Payload(Array.empty, 0, 0, Array.empty, Array.empty, "")

  /** Decode a payload JSON string. Unknown fields are skipped; missing
    * fields default to empty (lines absent == "no lines detected",
    * the `lines is None` analog of backend/main.py:255). Returns
    * `empty` for null/blank/non-JSON input (plain-text turns).
    *
    * Hot path: a hand-rolled scanner specialized to the payload
    * grammar (~2× the jackson streaming parser, which is itself the
    * fallback for anything the scanner rejects). Equality with the
    * jackson path is covered by the codec round-trip and
    * kernel==oracle suites.
    */
  def decode(json: String): Payload = {
    if (json == null || json.isEmpty || json.charAt(0) != '{') return empty
    try new FastScan(json).parse()
    catch {
      case FastScan.Bail => jackson(json)
      case _: Exception => empty
    }
  }

  /** The jackson streaming decode of a `{`-led payload: [[decode]]'s
    * fallback for anything the scanner rejects. */
  private[graft] def jackson(json: String): Payload = {
    val p = factory.createParser(json)
    try decodeObject(p)
    catch { case _: Exception => empty }
    finally p.close()
  }

  private def decodeObject(p: JsonParser): Payload = {
    var boxes: Array[Box] = Array.empty
    var w = 0
    var h = 0
    var lines: Array[Int] = Array.empty
    var rects: Array[Rect] = Array.empty
    var col = ""
    if (p.nextToken() != JsonToken.START_OBJECT) return empty
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val name = p.currentName()
      p.nextToken()
      name match {
        case "boxes" => boxes = readBoxes(p)
        case "w"     => w = p.getIntValue
        case "h"     => h = p.getIntValue
        case "lines" => lines = readIntArray(p)
        case "rects" => rects = readRects(p)
        case "col"   => col = p.getValueAsString("")
        case _       => p.skipChildren()
      }
    }
    Payload(boxes, w, h, lines, rects, col)
  }

  private def readBoxes(p: JsonParser): Array[Box] = {
    val buf = Array.newBuilder[Box]
    require(p.currentToken() == JsonToken.START_ARRAY)
    while (p.nextToken() != JsonToken.END_ARRAY) {
      // each: {"q":[[x,y],[x,y],[x,y],[x,y]],"t":"…","c":0.97}
      var q: Array[Double] = null
      var t = ""
      var c = 0.0
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        name match {
          case "q" => q = readQuad(p)
          case "t" => t = p.getValueAsString("")
          case "c" => c = p.getDoubleValue
          case _   => p.skipChildren()
        }
      }
      if (q != null && q.length == 8)
        buf += Box(q(0), q(1), q(2), q(3), q(4), q(5), q(6), q(7), t, c)
    }
    buf.result()
  }

  private def readQuad(p: JsonParser): Array[Double] = {
    val out = new Array[Double](8)
    var i = 0
    require(p.currentToken() == JsonToken.START_ARRAY)
    while (p.nextToken() != JsonToken.END_ARRAY) {
      // inner [x, y]
      while (p.nextToken() != JsonToken.END_ARRAY) {
        if (i < 8) { out(i) = p.getDoubleValue; i += 1 }
      }
    }
    out
  }

  private def readIntArray(p: JsonParser): Array[Int] = {
    val buf = Array.newBuilder[Int]
    require(p.currentToken() == JsonToken.START_ARRAY)
    while (p.nextToken() != JsonToken.END_ARRAY) buf += p.getIntValue
    buf.result()
  }

  private def readRects(p: JsonParser): Array[Rect] = {
    val buf = Array.newBuilder[Rect]
    require(p.currentToken() == JsonToken.START_ARRAY)
    while (p.nextToken() != JsonToken.END_ARRAY) {
      // each: [x, y, w, h]
      val v = new Array[Int](4)
      var i = 0
      while (p.nextToken() != JsonToken.END_ARRAY) {
        if (i < 4) { v(i) = p.getIntValue; i += 1 }
      }
      buf += Rect(v(0), v(1), v(2), v(3))
    }
    buf.result()
  }

  /** Encode a payload to the JSON shape above (used by the corpus
    * generator; the decoder must round-trip it exactly). */
  def encode(pl: Payload): String = {
    val sw = new StringWriter(256)
    val g = factory.createGenerator(sw)
    g.writeStartObject()
    g.writeArrayFieldStart("boxes")
    var i = 0
    while (i < pl.boxes.length) {
      val b = pl.boxes(i)
      g.writeStartObject()
      g.writeArrayFieldStart("q")
      def pt(x: Double, y: Double): Unit = {
        g.writeStartArray(); writeNum(g, x); writeNum(g, y); g.writeEndArray()
      }
      pt(b.x0, b.y0); pt(b.x1, b.y1); pt(b.x2, b.y2); pt(b.x3, b.y3)
      g.writeEndArray()
      g.writeStringField("t", b.t)
      g.writeNumberField("c", b.c)
      g.writeEndObject()
      i += 1
    }
    g.writeEndArray()
    g.writeNumberField("w", pl.w)
    g.writeNumberField("h", pl.h)
    g.writeArrayFieldStart("lines")
    pl.lines.foreach(g.writeNumber)
    g.writeEndArray()
    g.writeArrayFieldStart("rects")
    pl.rects.foreach { r =>
      g.writeStartArray()
      g.writeNumber(r.x); g.writeNumber(r.y); g.writeNumber(r.w); g.writeNumber(r.h)
      g.writeEndArray()
    }
    g.writeEndArray()
    if (pl.col.nonEmpty) g.writeStringField("col", pl.col)
    g.writeEndObject()
    g.close()
    sw.toString
  }

  private def writeNum(g: com.fasterxml.jackson.core.JsonGenerator, d: Double): Unit =
    if (d == math.rint(d) && !d.isInfinite) g.writeNumber(d.toLong) else g.writeNumber(d)
}
