package graft.eval

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal ordered JSON tree for the eval/restructuring operators.
  *
  * The reference processes Python dicts with insertion order; JObj keeps a
  * Seq of fields for the same reason (iteration order is part of the path
  * semantics: compare walks GT keys in order,
  * /root/reference/eval_script_field_level.py:222). Jackson (already on
  * the Spark classpath) does the parsing.
  */
sealed trait J
object J {
  case object JNull                          extends J
  final case class JBool(v: Boolean)         extends J
  final case class JLong(v: Long)            extends J
  final case class JDouble(v: Double)        extends J
  final case class JStr(v: String)           extends J
  final case class JArr(items: Vector[J])    extends J
  final case class JObj(fields: Vector[(String, J)]) extends J {
    lazy val byKey: Map[String, J] = fields.toMap
    def get(k: String): Option[J]  = byKey.get(k)
  }

  def obj(fields: (String, J)*): JObj = JObj(fields.toVector)
  def arr(items: J*): JArr            = JArr(items.toVector)
  def str(s: String): J               = if (s == null) JNull else JStr(s)

  private val mapper = new ObjectMapper()

  def parse(json: String): J = fromNode(mapper.readTree(json))

  def parseOpt(json: String): Option[J] =
    try Some(parse(json)) catch { case _: Exception => None }

  private def fromNode(n: JsonNode): J =
    if (n == null || n.isNull) JNull
    else if (n.isBoolean) JBool(n.asBoolean())
    else if (n.isIntegralNumber) JLong(n.asLong())
    else if (n.isNumber) JDouble(n.asDouble())
    else if (n.isTextual) JStr(n.asText())
    else if (n.isArray) {
      val b = Vector.newBuilder[J]
      n.elements().forEachRemaining(e => b += fromNode(e))
      JArr(b.result())
    } else {
      val b = Vector.newBuilder[(String, J)]
      n.properties().forEach(e => b += (e.getKey -> fromNode(e.getValue)))
      JObj(b.result())
    }

  /** Python-float repr for doubles (json.dumps uses repr): shortest string
    * that round-trips. Java's Double.toString has the same guarantee but
    * formats exponents/integral values differently; for the value ranges
    * in this domain (money, quantities) the simple mapping below matches. */
  private def renderDouble(d: Double): String =
    if (d == d.floor && !d.isInfinite && d.abs < 1e16) s"${d.toLong}.0"
    else d.toString

  private[graft] def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** Canonical serialization — the analog of
    * `json.dumps(v, sort_keys=True, ensure_ascii=False)` used as the
    * multiset key (eval_script_field_level.py:272,275). */
  def canonical(v: J): String = v match {
    case JNull       => "null"
    case JBool(b)    => if (b) "true" else "false"
    case JLong(l)    => l.toString
    case JDouble(d)  => renderDouble(d)
    case JStr(s)     => "\"" + escape(s) + "\""
    case JArr(items) => items.map(canonical).mkString("[", ", ", "]")
    case o: JObj =>
      o.fields.sortBy(_._1).map { case (k, v2) => "\"" + escape(k) + "\": " + canonical(v2) }
        .mkString("{", ", ", "}")
  }

  /** Pretty render with 2-space indent — the converted-GT sink shape
    * (`json.dump(..., indent=2)`, convert_ground_truth.py:130-133).
    * Keys in insertion order (no sort), like the reference's dump. */
  def pretty(v: J, indent: Int = 0): String = {
    val pad  = "  " * indent
    val pad1 = "  " * (indent + 1)
    v match {
      case JArr(items) if items.isEmpty  => "[]"
      case o: JObj if o.fields.isEmpty   => "{}"
      case JArr(items) =>
        items.map(i => pad1 + pretty(i, indent + 1)).mkString("[\n", ",\n", s"\n$pad]")
      case o: JObj =>
        o.fields.map { case (k, v2) => pad1 + "\"" + escape(k) + "\": " + pretty(v2, indent + 1) }
          .mkString("{\n", ",\n", s"\n$pad}")
      case other => canonical(other)
    }
  }

  /** Scalar → string the way Python str() does for JSON leaf types
    * (the _stringify_values policy, field_extractor_gemini.py:54-61). */
  def pyStr(v: J): String = v match {
    case JNull      => ""
    case JBool(b)   => if (b) "True" else "False"
    case JLong(l)   => l.toString
    case JDouble(d) => renderDouble(d)
    case JStr(s)    => s
    case other      => canonical(other)
  }
}
