package graft.expressions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** SortedIntersectCount (the round-19 x07 verify kernel) must equal
  * size(array_intersect(a, b)) on sorted duplicate-free arrays — the
  * precondition its callers own — across randomized set pairs, empties,
  * disjoint and identical sets, and must be null-safe in both the codegen
  * and interpreted paths; the interpreted path enforces the precondition.
  */
class SortedIntersectCountSpec extends SparkTestBase {

  private def sic(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftFunctions.sorted_intersect_count(a, b)

  test("equals size(array_intersect) on randomized sorted distinct sets") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val a = rnd.shuffle((0L until 64L).toList).take(rnd.nextInt(30)).sorted
      val b = rnd.shuffle((0L until 64L).toList).take(rnd.nextInt(30)).sorted
      (i, a, b)
    }
    import spark.implicits._
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        sic(col("a"), col("b")).as("merge"),
        size(array_intersect(col("a"), col("b"))).as("hash"))
    val bad = df.filter(col("merge") =!= col("hash")).count()
    assert(bad == 0)
  }

  test("edge shapes: empty, disjoint, identical, subset") {
    import spark.implicits._
    val df = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3),
      (Seq(2L, 3L), Seq(1L, 2L, 3L, 4L), 2)
    ).toDF("a", "b", "expect")
    assert(df.filter(sic(col("a"), col("b")) =!= col("expect")).count() == 0)
  }

  test("null-safe and SQL-callable") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n")
      .collect()(0)
    assert(r.isNullAt(0))
    val v = spark.sql(
      "SELECT sorted_intersect_count(array(1L,2L,4L), array(2L,3L,4L)) AS n")
      .collect()(0).getInt(0)
    assert(v == 2)
  }

  test("interpreted path agrees with codegen on the randomized sets") {
    // force the interpreted Expression.eval via a non-codegen context:
    // evaluate through a literal-driven local relation with codegen off
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val rows = (1 to 50).map { i =>
        val a = rnd.shuffle((0L until 32L).toList).take(rnd.nextInt(20)).sorted
        val b = rnd.shuffle((0L until 32L).toList).take(rnd.nextInt(20)).sorted
        (i, a, b)
      }
      val df = rows.toDF("id", "a", "b")
        .select(sic(col("a"), col("b")).as("merge"),
          size(array_intersect(col("a"), col("b"))).as("hash"))
      assert(df.filter(col("merge") =!= col("hash")).count() == 0)
    }
  }

  test("the interpreted path rejects unsorted or duplicated input, naming the function") {
    import spark.implicits._
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      // merge-walking these gives a silently wrong count (1 and 2 where
      // size(array_intersect) is 3 and 1)
      for ((a, b) <- Seq((Seq(3L, 1L, 2L), Seq(1L, 2L, 3L)), (Seq(2L, 2L, 5L), Seq(2L, 2L)))) {
        val e = intercept[Exception] {
          Seq((a, b)).toDF("a", "b").select(sic(col("a"), col("b"))).collect()
        }
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(messages.contains("sorted_intersect_count"), messages)
        assert(messages.contains("strictly ascending"), messages)
      }
    }
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
