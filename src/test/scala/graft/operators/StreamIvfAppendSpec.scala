package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contract pins for the q137 streaming index-maintenance path: segment
  * appends ([[Similarity.appendIvfSegment]]) are (1) searchable alongside
  * the bucketed base, (2) idempotent under at-least-once batch replay
  * (same batch id → overwrite, results unchanged, no duplicate
  * candidates), (3) cleared by a rebuild (a recentered index must not
  * keep stale-generation segments), and (4) counted by
  * [[Similarity.searchCandidateCount]] as the search scores them.
  */
class StreamIvfAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val tag = "spec_ivfseg"

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.95f, 0.05f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 0.9f)), (6L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
  }

  private def build(): Unit =
    Similarity.buildIvfIndex(spark, corpus, "vec_id", "embedding", tag,
      nlist = 2, kmeansIters = 2, nBuckets = 2)

  private def search() = {
    val s = spark
    import s.implicits._
    val q = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    Similarity.searchIvfIndex(s, q, "vec_id", "embedding", tag,
      k = 5, nprobe = 2)
      .orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(r.fieldIndex("n_id")),
        r.getDouble(r.fieldIndex("sim")))).toSeq
  }

  test("segment vectors are searchable; replayed appends are idempotent; rebuild clears") {
    val s = spark
    import s.implicits._
    build()
    val baseline = search()
    assert(!baseline.exists(_._1 == 100L))

    val inc = Seq((100L, Array(0.97f, 0.03f))).toDF("vec_id", "embedding")
    Similarity.appendIvfSegment(s, inc, "vec_id", "embedding", tag, 0L)
    val withSeg = search()
    assert(withSeg.exists(_._1 == 100L),
      s"segment-only vector must be searchable: $withSeg")

    // at-least-once replay of the SAME batch id: overwrite, not append —
    // results identical and no candidate appears twice
    Similarity.appendIvfSegment(s, inc, "vec_id", "embedding", tag, 0L)
    val replayed = search()
    assert(replayed == withSeg, "replayed batch changed the result")
    assert(replayed.map(_._1).distinct.length == replayed.length,
      s"duplicate candidate after replay: $replayed")

    // a second DISTINCT batch id is a real append
    val inc2 = Seq((200L, Array(0.93f, 0.07f))).toDF("vec_id", "embedding")
    Similarity.appendIvfSegment(s, inc2, "vec_id", "embedding", tag, 1L)
    assert(search().exists(_._1 == 200L))

    // rebuild recenters: stale segments must not survive it
    build()
    val rebuilt = search()
    assert(!rebuilt.exists(r => r._1 == 100L || r._1 == 200L),
      s"stale segment survived rebuild: $rebuilt")
    assert(rebuilt == baseline)
  }

  test("searchCandidateCount counts the segment candidates the search scores") {
    val s = spark
    import s.implicits._
    build()
    val inc = Seq((100L, Array(0.97f, 0.03f)), (101L, Array(0.02f, 0.98f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfSegment(s, inc, "vec_id", "embedding", tag, 0L)
    val q = Seq((1L, Array(1f, 0f)), (4L, Array(0f, 1f))).toDF("vec_id", "embedding")
    // k above any query's candidate count: the search returns every
    // candidate it scores, base and segment alike
    val scored = Similarity.searchIvfIndex(s, q, "vec_id", "embedding", tag,
      k = 100, nprobe = 1).count()
    val counted = Similarity.searchCandidateCount(s, q, "vec_id", "embedding", tag,
      nprobe = 1)
    assert(counted == scored, s"count $counted, search scored $scored")
  }
}
