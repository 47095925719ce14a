package graft

import org.apache.spark.sql.functions.col

import graft.functions.expressions.Bpe
import graft.operators.{Hierarchy, LabelProp}
import graft.util.ExecScope

/** ExecScope, the one conf-narrowing device: `narrow` sets AQE off and
  * the given width for exactly its window — restoring a set key to
  * its value and an unset key to unset, on the normal and the
  * throwing path — and the operators built on it leave the caller's
  * session conf exactly as they found it.
  */
class ExecScopeSpec extends SparkSpec {
  import spark.implicits._

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartsKey = "spark.sql.shuffle.partitions"

  test("narrow: both keys narrowed inside, restored after a normal and a throwing body") {
    val before = (spark.conf.get(AqeKey), spark.conf.get(PartsKey))
    assert(before._1 == "true", "precondition: session AQE on")
    val inside = ExecScope.narrow(spark, 3) {
      (spark.conf.get(AqeKey), spark.conf.get(PartsKey))
    }
    assert(inside == ("false", "3"))
    assert((spark.conf.get(AqeKey), spark.conf.get(PartsKey)) == before)
    val e = intercept[IllegalStateException] {
      ExecScope.narrow(spark, 5) { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert((spark.conf.get(AqeKey), spark.conf.get(PartsKey)) == before,
      "a throwing body must still restore both keys")
  }

  test("narrow: a key unset before the scope is unset after it") {
    val s = spark.newSession()
    s.conf.unset(AqeKey)
    s.conf.unset(PartsKey)
    def isSet(k: String) = s.conf.getAll.contains(k)
    assert(!isSet(AqeKey) && !isSet(PartsKey))
    ExecScope.narrow(s, 2) {
      assert(s.conf.get(AqeKey) == "false" && s.conf.get(PartsKey) == "2")
    }
    assert(!isSet(AqeKey), "AQE key left explicitly set")
    assert(!isSet(PartsKey), "width key left explicitly set")
  }

  test("forRows / forInput: one partition per 4 Mi rows / 256 MB, floor 1") {
    assert(ExecScope.forRows(0L) == 1)
    assert(ExecScope.forRows(ExecScope.RowsPerPartition) == 1)
    assert(ExecScope.forRows(ExecScope.RowsPerPartition + 1) == 2)
    assert(ExecScope.forInput(spark.range(10).toDF()) == 1)
    // Range's estimate is 8 B per row: 2^30 rows = 8 GiB = 32 × 256 MB
    assert(ExecScope.forInput(spark.range(1L << 30).toDF()) == 32)
  }

  test("LabelProp.components, Hierarchy.closure and Bpe.trainDistributed (small regime) leave the session conf untouched") {
    def confAfter(run: => Unit): Map[String, String] = { run; spark.conf.getAll }
    val before = spark.conf.getAll
    assert(confAfter {
      LabelProp.components(Seq((1L, 2L), (2L, 3L), (7L, 8L))
        .toDF("a", "b"), "a", "b").collect()
    } == before, "LabelProp.components changed the session conf")
    assert(confAfter {
      Hierarchy.closure(Seq[(Long, Option[Long])](
        (0L, None), (1L, Some(0L)), (2L, Some(1L))).toDF("id", "parent"))
        .collect()
    } == before, "Hierarchy.closure changed the session conf")
    assert(confAfter {
      // collectDriverMax = 0 forces the distributed loop; a few words
      // put it in the small (narrowed) regime
      Bpe.trainDistributed(Seq("ab ab abc", "ab xy xy").toDF("text"),
        col("text"), numMerges = 3, collectDriverMax = 0L)
    } == before, "Bpe.trainDistributed changed the session conf")
  }
}
