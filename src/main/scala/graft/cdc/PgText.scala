package graft.cdc

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** postgres-array text-format tokenizer — the grammar pg-types'
  * `postgres-array` package parses for every `T[]` column the
  * reference passes through (`pgoutput-parser.ts:144` defers each
  * array OID to `types.getTypeParser`, whose default is that parser).
  * `{a,"quoted, with comma",NULL,\"esc}` → tokens with NULL mapped to
  * null and quotes/backslash escapes resolved. Multidimensional
  * arrays nest: a `{...}` element is emitted VERBATIM as its own
  * array literal (quotes/escapes preserved), so another
  * `pg_array_tokens` application peels the next dimension —
  * `transform(pg_array_tokens(x), e -> pg_array_tokens(e))` parses
  * `int[][]`. Malformed input (no braces, unbalanced nesting) → null.
  */
object PgTextArray {
  def tokens(s: UTF8String): ArrayData = {
    val str = s.toString.trim
    if (str.length < 2 || str.charAt(0) != '{' || str.last != '}') return null
    val body = str.substring(1, str.length - 1)
    if (body.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val sb = new java.lang.StringBuilder
    var i = 0
    var quoted = false
    var wasQuoted = false
    var depth = 0 // inside a nested {...} element: capture verbatim
    val n = body.length
    def flush(): Unit = {
      val t = sb.toString
      out += (if (!wasQuoted && t == "NULL") null else UTF8String.fromString(t))
      sb.setLength(0)
      wasQuoted = false
    }
    while (i < n) {
      val c = body.charAt(i)
      if (quoted) c match {
        case '\\' if i + 1 < n =>
          if (depth > 0) { sb.append(c); sb.append(body.charAt(i + 1)) }
          else sb.append(body.charAt(i + 1))
          i += 1
        case '"' =>
          quoted = false
          if (depth > 0) sb.append(c)
        case _ => sb.append(c)
      } else c match {
        case '"' =>
          quoted = true
          if (depth > 0) sb.append(c) else wasQuoted = true
        case '{' =>
          depth += 1
          sb.append(c)
        case '}' =>
          if (depth == 0) return null // unbalanced
          depth -= 1
          sb.append(c)
          if (depth == 0) wasQuoted = true // sub-array is never NULL-folded
        case ',' if depth == 0 => flush()
        case '\\' if i + 1 < n =>
          if (depth > 0) { sb.append(c); sb.append(body.charAt(i + 1)) }
          else sb.append(body.charAt(i + 1))
          i += 1
        case _ => sb.append(c)
      }
      i += 1
    }
    if (quoted || depth != 0) return null // unterminated quote / brace
    flush()
    new GenericArrayData(out.toArray)
  }
}

/** postgres composite/record text-format tokenizer — the grammar
  * `record_out` emits for every composite-typed column
  * (`(f1,f2,...)`; reference contract: `pgoutput-parser.ts:144`
  * delegates unknown OIDs to text, and a TypeCatalog-aware consumer
  * re-parses here). Rules differ from the array grammar: fields are
  * comma-separated inside parens, an UNQUOTED empty field is SQL
  * NULL (there is no NULL keyword), a quoted empty field is the
  * empty string, and inside quotes both doubling (`""`) and
  * backslash escapes resolve. A nested composite field arrives
  * quoted; unescaping yields its own `(...)` literal for another
  * application. Malformed input (no parens, unterminated quote) →
  * null. */
object PgTextRecord {
  def tokens(s: UTF8String): ArrayData = {
    val str = s.toString.trim
    if (str.length < 2 || str.charAt(0) != '(' || str.last != ')') return null
    val body = str.substring(1, str.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val sb = new java.lang.StringBuilder
    var quoted = false
    var wasQuoted = false
    var i = 0
    val n = body.length
    def flush(): Unit = {
      val t = sb.toString
      out += (if (!wasQuoted && t.isEmpty) null else UTF8String.fromString(t))
      sb.setLength(0)
      wasQuoted = false
    }
    while (i < n) {
      val c = body.charAt(i)
      if (quoted) c match {
        case '"' =>
          if (i + 1 < n && body.charAt(i + 1) == '"') {
            sb.append('"'); i += 1 // doubled quote inside quotes
          } else quoted = false
        case '\\' if i + 1 < n =>
          sb.append(body.charAt(i + 1)); i += 1
        case _ => sb.append(c)
      } else c match {
        case '"' => quoted = true; wasQuoted = true
        case ',' => flush()
        case '\\' if i + 1 < n =>
          sb.append(body.charAt(i + 1)); i += 1
        case _ => sb.append(c)
      }
      i += 1
    }
    if (quoted) return null // unterminated quote
    flush()
    new GenericArrayData(out.toArray)
  }
}
