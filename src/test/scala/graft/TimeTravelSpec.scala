package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Versions

/** Versioned-snapshot store pins (core.Versions, behind q_time_travel and
  * the streaming snapshot folds): reads resolve only committed versions
  * (a crashed writer's staged version is invisible), a crashed version
  * can be committed again, and committed versions are immutable across
  * later commits.
  */
class TimeTravelSpec extends AnyFunSuite with SparkTest {

  /** A crashed writer: version `n`'s staging dir written, never renamed. */
  private def crashedWrite(dir: String, n: Int, df: org.apache.spark.sql.DataFrame): Unit =
    df.write.parquet(new java.io.File(dir, s".v$n").getPath)

  private def rows(dir: String, n: Int): Set[String] =
    Versions.read(spark, dir, n).collect().map(_.toString).toSet

  test("as-of resolves only committed versions; orphan version dirs are invisible") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_tt_spec")
    Versions.commit(dir, 1, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(Versions.newest(dir) == Some(1))
    crashedWrite(dir, 2, Seq((1L, "half")).toDF("id", "v"))
    assert(Versions.newest(dir) == Some(1))
    val e = intercept[IllegalArgumentException] { Versions.read(spark, dir, 2) }
    assert(e.getMessage.contains("uncommitted"))
    // And a version that never existed at all.
    intercept[IllegalArgumentException] { Versions.read(spark, dir, 9) }
  }

  test("a version whose writer crashed before the rename commits again with the new rows") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_tt_retry")
    Versions.commit(dir, 1, Seq((1L, "a")).toDF("id", "v"))
    crashedWrite(dir, 2, Seq((1L, "half")).toDF("id", "v"))
    Versions.commit(dir, 2, Seq((1L, "b"), (2L, "c")).toDF("id", "v"))
    assert(Versions.newest(dir) == Some(2))
    assert(rows(dir, 2) == Set("[1,b]", "[2,c]"))
    assert(rows(dir, 1) == Set("[1,a]"))
    // A committed version committed again (a replayed batch) is replaced.
    Versions.commit(dir, 2, Seq((3L, "d")).toDF("id", "v"))
    assert(rows(dir, 2) == Set("[3,d]"))
  }

  test("reading a version below the only committed one refuses") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_tt_gap")
    Versions.commit(dir, 2, Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] { Versions.read(spark, dir, 1) }
    assert(e.getMessage.contains("uncommitted"))
    assert(Versions.newest(dir, below = 2) == None)
  }

  test("committed versions stay byte-identical across later commits") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_tt_immutable")
    Versions.commit(dir, 1, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    val v1Before = rows(dir, 1)
    Versions.commit(dir, 2, Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"))
    Versions.commit(dir, 3, Seq((1L, 12.0)).toDF("id", "v"))
    assert(Versions.newest(dir) == Some(3))
    assert(rows(dir, 1) == v1Before, "an earlier version's content changed after later commits")
    assert(Versions.read(spark, dir, 2).count() == 3)
    assert(Versions.read(spark, dir, 3).count() == 1)
  }

  test("the registry diff entry emits exactly the added + updated entities") {
    val out = SparkEntry.queries("q_time_travel")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val changes = out.map(_.getString(1)).toSet
    assert(changes.subsetOf(Set("added", "updated")))
    // Added rows carry no v2 state; updated rows carry both versions and
    // genuinely differ on the latest event id.
    out.foreach { r =>
      if (r.getString(1) == "added") assert(r.isNullAt(2), r.toString)
      else {
        assert(!r.isNullAt(2) && !r.isNullAt(3))
        assert(r.getLong(2) != r.getLong(3), r.toString)
      }
    }
  }
}
