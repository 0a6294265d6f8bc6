package graft.sources

import scala.collection.mutable

/** Minimal YAML-subset parser → JSON string, for S5 YAML metadata files
  * (yaml_metadata_file.py) and the rule tables (workflow_map.yml /
  * resource_map.yml shapes). Supports: nested maps by 2-space
  * indentation, `- ` list items (scalar or inline map start), scalar
  * typing (int/float/bool/null/quoted strings), inline `[a, b]` lists,
  * and `#` comments. This covers every YAML construct the reference's
  * own config/metadata files use — it is NOT a general YAML parser.
  *
  * Used driver-side for small config documents and as a UDF for
  * distributed parsing of per-dataset YAML docs (output feeds
  * `from_json` with an explicit schema).
  */
object SimpleYaml {

  private sealed trait Node
  private final case class MapNode(entries: mutable.LinkedHashMap[String, Node]) extends Node
  private final case class ListNode(items: mutable.ArrayBuffer[Node]) extends Node
  private final case class ScalarNode(raw: String) extends Node

  def toJson(yaml: String): String = {
    val lines = yaml.split("\n").toIndexedSeq
      .map(l => l.replaceAll("\t", "  "))
      .filter { l =>
        val t = stripComment(l).trim
        t.nonEmpty && t != "---"
      }
    val (node, _) = parseBlock(lines.map(stripComment), 0, indentOf(lines.headOption.getOrElse("")))
    render(node)
  }

  private def stripComment(l: String): String = {
    // strip unquoted trailing comments
    var inS = false; var inD = false
    val sb = new StringBuilder
    for (c <- l) {
      if (c == '\'' && !inD) inS = !inS
      else if (c == '"' && !inS) inD = !inD
      if (c == '#' && !inS && !inD) return sb.toString
      sb.append(c)
    }
    sb.toString
  }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private def parseBlock(lines: IndexedSeq[String], start: Int, indent: Int): (Node, Int) = {
    if (start >= lines.length) return (ScalarNode(""), start)
    val first = lines(start).trim
    if (first.startsWith("- ") || first == "-") parseList(lines, start, indent)
    else parseMap(lines, start, indent)
  }

  private def parseMap(lines: IndexedSeq[String], start: Int, indent: Int): (Node, Int) = {
    val m = mutable.LinkedHashMap.empty[String, Node]
    var i = start
    while (i < lines.length && indentOf(lines(i)) >= indent && !lines(i).trim.startsWith("- ")) {
      if (indentOf(lines(i)) > indent) { i += 1 } // over-indented stray (handled by child parse)
      else {
        val line = lines(i).trim
        val ci = line.indexOf(':')
        if (ci < 0) return (m2(m), i)
        val key = unquote(line.substring(0, ci).trim)
        val rest = line.substring(ci + 1).trim
        if (rest.nonEmpty) { m(key) = ScalarNode(rest); i += 1 }
        else {
          // nested block (map or list) or empty value
          if (i + 1 < lines.length && indentOf(lines(i + 1)) > indent) {
            val (child, next) = parseBlock(lines, i + 1, indentOf(lines(i + 1)))
            m(key) = child; i = next
          } else if (i + 1 < lines.length && indentOf(lines(i + 1)) == indent &&
                     lines(i + 1).trim.startsWith("- ")) {
            val (child, next) = parseList(lines, i + 1, indent)
            m(key) = child; i = next
          } else { m(key) = ScalarNode(""); i += 1 }
        }
      }
    }
    (m2(m), i)
  }

  private def m2(m: mutable.LinkedHashMap[String, Node]): Node = MapNode(m)

  private def parseList(lines: IndexedSeq[String], start: Int, indent: Int): (Node, Int) = {
    val items = mutable.ArrayBuffer.empty[Node]
    var i = start
    while (i < lines.length && indentOf(lines(i)) == indent && lines(i).trim.startsWith("-")) {
      val rest = lines(i).trim.stripPrefix("-").trim
      if (rest.isEmpty) {
        val (child, next) = parseBlock(lines, i + 1, indentOf(lines.lift(i + 1).getOrElse("")))
        items += child; i = next
      } else if (rest.contains(":") && !looksQuotedScalar(rest)) {
        // inline map start: "- key: value" (+ continuation lines at deeper indent)
        val itemIndent = indentOf(lines(i)) + 2
        val synthetic = (" " * itemIndent) + rest
        val continuation = mutable.ArrayBuffer(synthetic)
        var j = i + 1
        while (j < lines.length && indentOf(lines(j)) >= itemIndent) { continuation += lines(j); j += 1 }
        val (child, _) = parseMap(continuation.toIndexedSeq, 0, itemIndent)
        items += child; i = j
      } else { items += ScalarNode(rest); i += 1 }
    }
    (ListNode(items), i)
  }

  private def looksQuotedScalar(s: String): Boolean =
    (s.startsWith("'") && s.endsWith("'")) || (s.startsWith("\"") && s.endsWith("\""))

  private def unquote(s: String): String =
    if (looksQuotedScalar(s) && s.length >= 2) s.substring(1, s.length - 1) else s

  private def render(n: Node): String = n match {
    case MapNode(m) =>
      m.map { case (k, v) => jsonString(k) + ":" + render(v) }.mkString("{", ",", "}")
    case ListNode(items) => items.map(render).mkString("[", ",", "]")
    case ScalarNode(raw) => renderScalar(raw)
  }

  private def renderScalar(raw: String): String = {
    val t = raw.trim
    if (looksQuotedScalar(t)) jsonString(unquote(t))
    else if (t.isEmpty || t == "null" || t == "~") "null"
    else if (t == "true" || t == "True") "true"
    else if (t == "false" || t == "False") "false"
    else if (t.startsWith("[") && t.endsWith("]")) {
      val inner = t.substring(1, t.length - 1).trim
      if (inner.isEmpty) "[]"
      else inner.split(",").map(s => renderScalar(s.trim)).mkString("[", ",", "]")
    }
    else if (t.matches("[-+]?\\d+")) t
    else if (t.matches("[-+]?\\d*\\.\\d+([eE][-+]?\\d+)?")) t
    else jsonString(t)
  }

  /** `s` as a JSON string literal, every control char escaped; Verify's
    * oracle_sql.json and Bench's detail JSON write their strings with it. */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
