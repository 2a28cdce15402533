package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the fixture properties that declared-query semantics lean on.
  *
  * Two operators deliberately diverge from their declarative formulations on
  * degenerate inputs, in ways the fixtures never exercise — these tests turn
  * "never" into a checked contract so a regenerated fixture that breaks the
  * assumption fails HERE with an explanation, not as an opaque oracle
  * mismatch:
  *
  *  - q12's [[graft.expressions.LatestBy]] skips rows with null
  *    ts_us/event_id entirely; the ROW_NUMBER oracle formulation
  *    (desc ⇒ nulls last) would instead still pick a row for an all-null
  *    user. Contract: events carries no null ts/event_id.
  *  - [[graft.expressions.TopKByScore]] skips NaN scores; a zero-norm
  *    vector makes cosine NaN, which DuckDB's ROW_NUMBER would order
  *    deterministically instead of dropping. The top-k rankings of
  *    neighbors go through that heap. (The nearest-centroid rule,
  *    `Similarity.nearest`, ranks NaN above every number as ROW_NUMBER
  *    does; `NearestCentroidSpec` pins it.) A null vector has no cell,
  *    where the oracles' ROW_NUMBER would file it in cell 0. Contract:
  *    embeddings contains no zero-norm (or null) vector, so neither path is
  *    reachable in the oracled similarity queries.
  */
class FixtureContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // every SF the driver or builder certifies against
  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  test("events: ts and event_id are never null (q12 LatestBy null-skip is unreachable)") {
    sfDirs.foreach { dir =>
      val bad = Tables(spark, dir).eventsUs
        .filter(col("ts_us").isNull || col("event_id").isNull)
        .count()
      assert(bad == 0L, s"$dir/events has $bad rows with null ts/event_id; " +
        "q12's LatestBy drops such rows while the ROW_NUMBER oracle keeps them")
    }
  }

  test("embeddings: no null or zero-norm vectors (cosine NaN path is unreachable)") {
    sfDirs.foreach { dir =>
      val bad = Tables(spark, dir).embeddings
        .filter(col("embedding").isNull ||
          aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double")) === 0.0d)
        .count()
      assert(bad == 0L, s"$dir/embeddings has $bad null/zero-norm vectors; " +
        "their cosine is NaN, which TopKByScore skips but the DuckDB oracles rank")
    }
  }
}
