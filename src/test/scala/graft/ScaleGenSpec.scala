package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleGen longdocs` earns its keep by exercising BOTH span-dedup
  * paths at production width: exact copies (the whole-doc branch) and
  * 50-token spans shared across distinct documents (the gram index).
  */
class ScaleGenSpec extends AnyFunSuite with SparkTest {

  test("longdocs: every doc_id % 11 == 1 copies its predecessor; width-50 spans cross distinct docs") {
    val n = 80
    val docs = ScaleGen.longDocs(spark, n.toLong, 450).cache()
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(text.size == n)
    (0L until n).filter(_ % 11 == 1).foreach { id =>
      assert(text(id) == text(id - 1), s"doc $id is not a copy of ${id - 1}")
    }
    // Content seed c per doc (the generator's copy rule), and the docs
    // whose c carries a shared 120-token window (c % 7 == 3, keyed c % 5).
    val seed = (0L until n).map(id => id -> (if (id % 11 == 1) id - 1 else id)).toMap
    val singletons = seed.groupBy(_._2).collect { case (_, m) if m.size == 1 => m.head._1 }.toSet
    val windowed = seed.values.toSet.filter(_ % 7 == 3)
    val sharedKeys = windowed.groupBy(_ % 5).collect { case (k, cs) if cs.size > 1 => k }.toSet
    val expected = singletons.filter { id =>
      seed(id) % 7 == 3 && sharedKeys.contains(seed(id) % 5)
    }
    assert(expected.size >= 2)
    val islands = graft.ext.Dedup.spansOf(docs, 50)
      .filter(col("tok_start") === 300L && col("tok_len") === 120L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(islands == expected)
    // The docs those spans sit in are pairwise DISTINCT content.
    assert(islands.map(text).size == islands.size)
    docs.unpersist()
  }
}
