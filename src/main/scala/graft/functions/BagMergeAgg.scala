package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native bag-merge aggregate behind `make_bag`/`make_bag_if`:
  * `graft_make_bag(donorJson)` over the bag's canonical JSON
  * serialization — returns the merged bag as a JSON object string (the
  * caller wraps `parse_json` to get the VARIANT). The per-key entries
  * are parsed from the donor's top-level object INSIDE update() (one
  * byte scan): the r19 form additionally took a
  * MAP<STRING, STRING> built per row by an interpreted
  * `transform_values` higher-order lambda re-rendering every value
  * with its own `to_json` — the donor string already carries those
  * exact spans (same canonical renderer), so the second argument was
  * pure duplicated per-row work on the hot path (guide §4). A
  * non-object donor (array/scalar rendering) contributes nothing —
  * exactly the old `try_cast(... AS MAP)` null behavior.
  *
  * Semantics (identical to the first collect_list+fold formulation,
  * which this replaces): per key, the value comes from the bag with
  * the MINIMUM canonical-JSON serialization among bags holding that
  * key — "first wins" when bags merge in ascending JSON order, stated
  * as a per-key argmin so it is ASSOCIATIVE and COMMUTATIVE, i.e. a
  * lawful partial+final aggregate. Donor ordering is UTF-8 BINARY
  * (UTF8String order, what array_sort used), so results are unchanged.
  *
  * The 100 TB point of the rewrite: the fold's collect_list state was
  * O(group rows) — every row's full bag rendering shuffled and held
  * per group. This aggregate's state is O(distinct keys) per group
  * (one winning donor/value per key), partial-aggregated map-side, so
  * the shuffle carries merged partials, not rows — MEASURED 59 KiB vs
  * the fold's 2,384 KiB on kql_make_bag at sf0.1 (40× less; wall time
  * is map-side-render-bound at toy scale, the shuffle is what scales).
  */
case class BagMergeAgg(
    donorExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, (Array[Byte], Array[Byte])]] {

  override def children: Seq[Expression] = Seq(donorExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (donorExpr.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_make_bag expects (string), got " +
        s"(${donorExpr.dataType.simpleString})")
  }

  override def createAggregationBuffer(): mutable.HashMap[String, (Array[Byte], Array[Byte])] =
    mutable.HashMap.empty

  /** Unsigned lexicographic compare of UTF-8 bytes — UTF8String's
    * ordering, i.e. the order the replaced array_sort fold used. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  private def offer(buf: mutable.HashMap[String, (Array[Byte], Array[Byte])],
                    key: String, donor: Array[Byte], value: Array[Byte]): Unit =
    buf.get(key) match {
      case Some((d0, _)) if !less(donor, d0) => ()
      case _ => buf.put(key, (donor, value)): Unit
    }

  /** JSON string unescape (the donor is Spark's own canonical
    * rendering, so only standard escapes appear); null on a malformed
    * unicode escape. */
  private def unescape(raw: String): String =
    if (raw.indexOf('\\') < 0) raw
    else {
      val sb = new java.lang.StringBuilder(raw.length)
      var j = 0
      while (j < raw.length) {
        val c = raw.charAt(j)
        if (c == '\\' && j + 1 < raw.length) {
          j += 1
          raw.charAt(j) match {
            case 'u' =>
              val hex = raw.substring(j + 1, math.min(j + 5, raw.length))
              if (hex.length < 4 || !hex.forall(Character.digit(_, 16) >= 0)) return null
              sb.append(Integer.parseInt(hex, 16).toChar)
              j += 4
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case o => sb.append(o) // \" \\ \/
          }
        } else sb.append(c)
        j += 1
      }
      sb.toString
    }

  override def update(buf: mutable.HashMap[String, (Array[Byte], Array[Byte])],
                      input: InternalRow): mutable.HashMap[String, (Array[Byte], Array[Byte])] = {
    val donor = donorExpr.eval(input)
    if (donor != null) {
      // clone out of Spark's reused buffers before storing/scanning
      val db = donor.asInstanceOf[UTF8String].getBytes.clone()
      if (db.nonEmpty && db(0) == '{') {
        // entries are staged and offered only once the whole object
        // has parsed: a malformed donor contributes nothing (the old
        // `try_cast(... AS MAP)` null behavior)
        val staged = mutable.ArrayBuffer.empty[(String, Array[Byte])]
        var i = 1
        def skipWs(): Unit =
          while (i < db.length && (db(i) == ' ' || db(i) == '\t' ||
            db(i) == '\n' || db(i) == '\r')) i += 1
        skipWs()
        var ok = true
        while (ok && i < db.length && db(i) != '}') {
          // key: a JSON string (UTF-8 multibyte bytes are >= 0x80 and
          // never collide with the ASCII structural bytes scanned here)
          if (db(i) != '"') ok = false
          else {
            i += 1
            val kStart = i
            while (i < db.length && db(i) != '"') {
              if (db(i) == '\\') i += 1
              i += 1
            }
            val key = if (i >= db.length) null else unescape(new String(db,
              kStart, i - kStart, java.nio.charset.StandardCharsets.UTF_8))
            i += 1 // closing quote
            skipWs()
            if (key != null && i < db.length && db(i) == ':') {
              i += 1
              skipWs()
              // value span: balanced scan to the next top-level ',' or '}'
              val vStart = i
              var depth = 0
              var inStr = false
              var done = false
              while (!done && i < db.length) {
                val c = db(i)
                if (inStr) {
                  if (c == '\\') i += 1
                  else if (c == '"') inStr = false
                  i += 1
                } else if (c == '"') { inStr = true; i += 1 }
                else if (c == '{' || c == '[') { depth += 1; i += 1 }
                else if (c == '}' || c == ']') {
                  if (depth == 0) done = true else { depth -= 1; i += 1 }
                } else if (c == ',' && depth == 0) done = true
                else i += 1
              }
              if (!done || i == vStart) ok = false
              else {
                staged += ((key, java.util.Arrays.copyOfRange(db, vStart, i)))
                skipWs()
                if (i < db.length && db(i) == ',') { i += 1; skipWs() }
              }
            } else ok = false
          }
        }
        if (ok && i < db.length) staged.foreach { case (k, v) => offer(buf, k, db, v) }
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, (Array[Byte], Array[Byte])],
                     other: mutable.HashMap[String, (Array[Byte], Array[Byte])]): mutable.HashMap[String, (Array[Byte], Array[Byte])] = {
    other.foreach { case (k, (d, v)) => offer(buf, k, d, v) }
    buf
  }

  private def escKey(k: String): String = {
    val sb = new StringBuilder
    k.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  override def eval(buf: mutable.HashMap[String, (Array[Byte], Array[Byte])]): Any = {
    // Output keys sort by UTF-8 BYTES — the same comparator the
    // per-key donor pick uses — so both orderings share one canonical
    // convention (r13 advice: Java String compareTo orders by UTF-16
    // code unit, which disagrees for keys mixing supplementary-plane
    // chars with U+E000..U+FFFF).
    val body = buf.toSeq
      .map { case (k, dv) =>
        (k.getBytes(java.nio.charset.StandardCharsets.UTF_8), k, dv)
      }
      .sortWith((a, b) => less(a._1, b._1))
      .map { case (_, k, (_, v)) =>
        "\"" + escKey(k) + "\":" + new String(v, java.nio.charset.StandardCharsets.UTF_8)
      }.mkString("{", ",", "}")
    UTF8String.fromString(body)
  }

  override def serialize(buf: mutable.HashMap[String, (Array[Byte], Array[Byte])]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, (d, v)) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb)
      out.writeInt(d.length); out.write(d)
      out.writeInt(v.length); out.write(v)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, (Array[Byte], Array[Byte])] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      def blob(): Array[Byte] = {
        val b = new Array[Byte](in.readInt()); in.readFully(b); b
      }
      val k = new String(blob(), java.nio.charset.StandardCharsets.UTF_8)
      val d = blob()
      val v = blob()
      buf.put(k, (d, v)): Unit
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BagMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BagMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BagMergeAgg =
    copy(donorExpr = newChildren(0))
  override def prettyName: String = "graft_make_bag"
  override def defaultResult: Option[Literal] =
    Some(Literal.create(UTF8String.fromString("{}"), StringType))
}
