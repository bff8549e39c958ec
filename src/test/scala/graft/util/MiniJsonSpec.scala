package graft.util

import org.scalatest.funsuite.AnyFunSuite

import MiniJson.Num

class MiniJsonSpec extends AnyFunSuite {

  test("parses nesting, numbers, strings, booleans, null") {
    val v = MiniJson.parse(
      """{"a": [1, -2.5, "x", true, null], "b": {"c": 7}, "d": ""}""")
    val o = MiniJson.obj(v)
    assert(MiniJson.arr(o("a")) === Vector(Num("1"), Num("-2.5"), "x", true,
      null))
    assert(MiniJson.long(MiniJson.obj(o("b"))("c")) === 7L)
    assert(MiniJson.str(o("d")) === "")
  }

  test("string escapes including unicode") {
    assert(MiniJson.parse("\"a\\n\\\"b\\\"\\u00e9\\\\\"") === "a\n\"b\"é\\")
  }

  test("empty containers and whitespace tolerance") {
    assert(MiniJson.parse(" { } ") === Map.empty)
    assert(MiniJson.parse("[\n]") === Vector.empty)
  }

  test("integral numbers come back as Long, floats as Double") {
    assert(MiniJson.long(MiniJson.parse("12345678901234")) === 12345678901234L)
    assert(MiniJson.parse("1e3") === Num("1e3"))
    assert(MiniJson.fields("""{"x":1e3}""").double("x") === Some(1000.0))
  }

  test("rejects trailing garbage and malformed input") {
    intercept[IllegalArgumentException](MiniJson.parse("{} x"))
    intercept[IllegalArgumentException](MiniJson.parse("{\"a\" 1}"))
  }

  test("objects keep insertion order past four keys") {
    val keys = (1 to 12).map(i => s"k$i")
    val o = MiniJson.obj(MiniJson.parse(
      keys.map(k => s""""$k":0""").mkString("{", ",", "}")))
    assert(o.keys.toSeq === keys)
  }

  test("duplicate keys, deep nesting and bad numbers throw BadJson") {
    intercept[MiniJson.BadJson](MiniJson.parse("""{"a":1,"a":2}"""))
    val ok = "[" * MiniJson.MaxDepth + "]" * MiniJson.MaxDepth
    assert(MiniJson.parse(ok) !== null)
    val deep = "[" * (MiniJson.MaxDepth + 1) + "]" * (MiniJson.MaxDepth + 1)
    intercept[MiniJson.BadJson](MiniJson.parse(deep))
    // a 32 MB body of brackets fails fast instead of overflowing the stack
    intercept[MiniJson.BadJson](MiniJson.parse("[" * (1 << 20)))
    for (bad <- Seq("1e", "-", "01", "1.", "+1", "1-2"))
      intercept[MiniJson.BadJson](MiniJson.parse(bad))
  }

  test("a float element parses bit-identically to Float.parseFloat") {
    val texts = Seq("0.1", "0.30000001192092896", "1.0000001", "3.4028235e38",
      "1.4E-45", "-2.7182817", "16777217", "0.333333343267440796")
    val got = MiniJson.fields(texts.mkString("""{"v":[""", ",", "]}"))
      .floats("v").get
    assert(got.map(java.lang.Float.floatToIntBits).toSeq ===
      texts.map(t => java.lang.Float.floatToIntBits(
        java.lang.Float.parseFloat(t))))
  }

  test("typed field reads: absent or null is None, wrong type throws") {
    val f = MiniJson.fields(
      """{"s":"x","n":5,"ns":"5","d":2.5,"b":true,"bs":"false","nil":null,
        |"xs":["a",1],"o":{"k":1}}""".stripMargin)
    assert(f.str("s") === Some("x") && f.str("n") === Some("5"))
    assert(f.int("n") === Some(5) && f.int("ns") === Some(5))
    assert(f.long("ns") === Some(5L) && f.double("d") === Some(2.5))
    assert(f.bool("b") === Some(true) && f.bool("bs") === Some(false))
    assert(f.str("nil") === None && f.int("absent") === None)
    assert(f.strings("xs") === Some(Seq("a", "1")))
    assert(f.obj("o").flatMap(_.int("k")) === Some(1))
    val e = intercept[MiniJson.BadJson](f.int("d"))
    assert(e.getMessage === "d must be an integer")
    intercept[MiniJson.BadJson](f.double("s"))
    intercept[MiniJson.BadJson](f.bool("n"))
    intercept[MiniJson.BadJson](f.str("xs"))
    intercept[MiniJson.BadJson](f.floats("xs"))
    intercept[MiniJson.BadJson](MiniJson.fields("[1]"))
  }

  test("longs reads integers from their token text only") {
    val f = MiniJson.fields(
      """{"ok":[16777217,-9223372036854775808,"7",0],"frac":[1,1.5],
        |"big":[9223372036854775808],"exp":[1e3],"neg0":[-0]}""".stripMargin)
    assert(f.longs("ok").map(_.toSeq) ===
      Some(Seq(16777217L, Long.MinValue, 7L, 0L)))
    assert(f.longs("neg0").map(_.toSeq) === Some(Seq(0L)))
    assert(f.longs("absent") === None)
    for (key <- Seq("frac", "big", "exp")) {
      val e = intercept[MiniJson.BadJson](f.longs(key))
      assert(e.getMessage === s"$key must be an array of integers")
    }
  }
}
