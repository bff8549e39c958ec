package graft.util

import scala.collection.immutable.VectorMap

/** Minimal recursive-descent JSON parser, the one JSON reader of the
  * engine: HTTP request bodies, job-store files, tokenizer.json and the
  * embedding API responses all go through it. Objects → Map[String, Any]
  * in insertion order, arrays → Vector[Any], strings, numbers → [[Num]]
  * (the token text, so a float parses bit-identically with
  * `Float.parseFloat`), true/false → java.lang.Boolean, null → null.
  *
  * Strict, because it reads outside input: malformed JSON, a duplicate
  * key and nesting deeper than [[MaxDepth]] throw [[BadJson]].
  */
object MiniJson {

  /** Deepest array/object nesting accepted; deeper input would only
    * grow the parser's stack.
    */
  val MaxDepth = 64

  /** Malformed JSON, or a value of the wrong type for its reader. */
  final class BadJson(msg: String) extends IllegalArgumentException(msg)

  /** A JSON number, kept as its token text. */
  final case class Num(text: String)

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value(0)
    p.skipWs()
    p.check(p.eof, s"trailing JSON content at offset ${p.pos}")
    v
  }

  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  def arr(v: Any): Vector[Any] = v.asInstanceOf[Vector[Any]]
  def str(v: Any): String = v.asInstanceOf[String]
  def long(v: Any): Long = v match {
    case Num(t) => t.toLongOption.getOrElse(t.toDouble.toLong)
    case other => throw new BadJson(s"not a number: $other")
  }

  // a number, or a string holding one (clients send "k":"5")
  private def numText(v: Any): Option[String] = v match {
    case Num(t) => Some(t)
    case s: String if NumberRe.matches(s) => Some(s)
    case _ => None
  }
  private val NumberRe = "-?(0|[1-9][0-9]*)(\\.[0-9]+)?([eE][+-]?[0-9]+)?".r

  // an integer's token text, in the Long range
  private def integral(v: Any): Option[Long] =
    numText(v).filter(IntegerRe.matches).flatMap(_.toLongOption)
  private val IntegerRe = "-?(0|[1-9][0-9]*)".r

  /** Typed reads of one JSON object's fields. An absent or null key
    * reads as None; a present key of the wrong type throws [[BadJson]]
    * naming the key. Numbers and numeric strings are interchangeable.
    */
  final class Fields(val map: Map[String, Any]) {
    private def read[T](key: String, what: String)(
        f: PartialFunction[Any, T]): Option[T] =
      map.get(key).filter(_ != null).map(v =>
        f.applyOrElse(v, (_: Any) => throw new BadJson(s"$key must be $what")))

    def str(key: String): Option[String] = read(key, "a string") {
      case s: String => s
      case Num(t) => t
    }
    def double(key: String): Option[Double] = read(key, "a number") {
      Function.unlift(numText).andThen(_.toDouble)
    }
    def long(key: String): Option[Long] = read(key, "an integer") {
      Function.unlift(v => numText(v).flatMap(t =>
        scala.util.Try(BigDecimal(t).toLongExact).toOption))
    }
    def int(key: String): Option[Int] = read(key, "an integer") {
      Function.unlift(v => numText(v).flatMap(t =>
        scala.util.Try(BigDecimal(t).toIntExact).toOption))
    }
    def bool(key: String): Option[Boolean] = read(key, "a boolean") {
      case b: java.lang.Boolean => b.booleanValue()
      case "true" => true
      case "false" => false
    }
    def obj(key: String): Option[Fields] = read(key, "an object") {
      case m: Map[_, _] => new Fields(MiniJson.obj(m))
    }
    def floats(key: String): Option[Array[Float]] =
      read(key, "an array of numbers") {
        case xs: Vector[_] if xs.forall(numText(_).isDefined) =>
          xs.map(x => java.lang.Float.parseFloat(numText(x).get)).toArray
      }
    /** Integers read from their token text, never through a float: a
      * fractional number or one outside the Long range is a [[BadJson]].
      */
    def longs(key: String): Option[Array[Long]] =
      read(key, "an array of integers") {
        case xs: Vector[_] if xs.forall(integral(_).isDefined) =>
          xs.map(integral(_).get).toArray
      }
    def strings(key: String): Option[Seq[String]] =
      read(key, "an array of strings") {
        case xs: Vector[_] if xs.forall(x => x.isInstanceOf[String] ||
            x.isInstanceOf[Num]) =>
          xs.map { case Num(t) => t; case s => s.toString }
      }
  }

  /** [[Fields]] of a JSON object text; anything else throws. */
  def fields(s: String): Fields = parse(s) match {
    case m: Map[_, _] => new Fields(obj(m))
    case _ => throw new BadJson("expected a JSON object")
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length

    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new BadJson(msg)

    def skipWs(): Unit =
      while (!eof && (s.charAt(pos) == ' ' || s.charAt(pos) == '\n' ||
        s.charAt(pos) == '\r' || s.charAt(pos) == '\t')) pos += 1

    private def expect(c: Char): Unit = {
      check(!eof && s.charAt(pos) == c,
        s"expected '$c' at offset $pos" +
          (if (eof) " (eof)" else s", got '${s.charAt(pos)}'"))
      pos += 1
    }

    def value(depth: Int): Any = {
      skipWs()
      check(!eof, "unexpected end of JSON")
      s.charAt(pos) match {
        case '{' => obj(depth + 1)
        case '[' => array(depth + 1)
        case '"' => string()
        case 't' => literal("true", java.lang.Boolean.TRUE)
        case 'f' => literal("false", java.lang.Boolean.FALSE)
        case 'n' => literal("null", null)
        case _ => number()
      }
    }

    private def literal(lit: String, v: Any): Any = {
      check(s.regionMatches(pos, lit, 0, lit.length),
        s"invalid literal at offset $pos")
      pos += lit.length
      v
    }

    private def nested(depth: Int): Unit =
      check(depth <= MaxDepth, s"JSON nested deeper than $MaxDepth")

    private def obj(depth: Int): Map[String, Any] = {
      nested(depth)
      expect('{'); skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return VectorMap.empty }
      var m = VectorMap.empty[String, Any]
      var done = false
      while (!done) {
        skipWs()
        val k = string()
        check(!m.contains(k), s"duplicate key \"$k\"")
        skipWs(); expect(':')
        m = m.updated(k, value(depth))
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      m
    }

    private def array(depth: Int): Vector[Any] = {
      nested(depth)
      expect('['); skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; return Vector.empty }
      val b = Vector.newBuilder[Any]
      var done = false
      while (!done) {
        b += value(depth)
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      b.result()
    }

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          check(pos + 1 < s.length, "dangling escape")
          s.charAt(pos + 1) match {
            case '"' => sb.append('"'); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case '/' => sb.append('/'); pos += 2
            case 'n' => sb.append('\n'); pos += 2
            case 'r' => sb.append('\r'); pos += 2
            case 't' => sb.append('\t'); pos += 2
            case 'b' => sb.append('\b'); pos += 2
            case 'f' => sb.append('\f'); pos += 2
            case 'u' =>
              check(pos + 5 < s.length, "truncated \\u escape")
              val hex = s.substring(pos + 2, pos + 6)
              check(hex.forall(Character.digit(_, 16) >= 0),
                s"bad \\u escape at offset $pos")
              sb.append(Integer.parseInt(hex, 16).toChar)
              pos += 6
            case other => throw new BadJson(s"bad escape \\$other")
          }
        } else { sb.append(c); pos += 1 }
      }
      expect('"')
      sb.toString
    }

    private def number(): Num = {
      val start = pos
      while (!eof && "0123456789.eE+-".indexOf(s.charAt(pos)) >= 0) pos += 1
      val raw = s.substring(start, pos)
      check(NumberRe.matches(raw), s"invalid number at offset $start")
      Num(raw)
    }
  }
}
