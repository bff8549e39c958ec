package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

class PlanMemoSpec extends SparkSuite {
  import spark.implicits._

  // a memo of strings that counts its builds
  private final class Counted(capacity: Int) {
    val memo = new PlanMemo[String, String](capacity)
    var builds = 0
    def apply(input: DataFrame, params: String = "p"): String =
      memo(input, params) { builds += 1; s"v$builds" }
  }

  private def table(n: Int) =
    (0 until n).map(i => (i.toLong, s"text $i")).toDF("id", "text")

  test("a select that optimizes to the table's plan hits the table's entry") {
    val m = new Counted(4)
    val t = table(3)
    val v = m(t)
    assert(m(t.select($"id", $"text")) === v)
    assert(m.builds === 1)
  }

  test("another session misses") {
    val m = new Counted(4)
    val v = m(spark.range(5).toDF())
    assert(m(spark.newSession().range(5).toDF()) !== v)
    assert(m.builds === 2)
  }

  test("different parameters miss") {
    val m = new Counted(4)
    val t = table(3)
    assert(m(t, "a") !== m(t, "b"))
    assert(m.builds === 2)
    assert(m(t, "a") === "v1")
  }

  test("nothing is stored past capacity, and the built value is returned") {
    val m = new Counted(2)
    assert(Seq(1, 2, 3).map(n => m(table(n))) === Seq("v1", "v2", "v3"))
    assert(m(table(3)) === "v4") // never stored: built again
    assert(m(table(1)) === "v1") // still held
    assert(m.builds === 4)
  }

  test("invalidate drops only the matching entries") {
    val m = new Counted(4)
    val (a, b) = (table(1), table(2))
    assert((m(a), m(b)) === (("v1", "v2")))
    m.memo.invalidate(_ == "v1")
    assert(m(a) === "v3")
    assert(m(b) === "v2")
  }

  test("a memoized relation whose block was dropped re-persists on its " +
      "next hit; one past capacity is never persisted") {
    val cached = new CachedRelations
    val memo = new PlanMemo[Int, DataFrame](1,
      cached.persist(_, eager = false))
    val input = table(4)
    val built = memo(input, 0)(input.where($"id" > 0))
    assert(built.storageLevel !== StorageLevel.NONE)
    built.unpersist()
    assert(built.storageLevel === StorageLevel.NONE)
    val hit = memo(input, 0)(fail("a hit must not rebuild"))
    assert(hit eq built)
    assert(hit.storageLevel !== StorageLevel.NONE)
    val over = memo(input, 1)(input.where($"id" > 1))
    assert(over.storageLevel === StorageLevel.NONE)
    cached.release()
    assert(built.storageLevel === StorageLevel.NONE)
  }
}
