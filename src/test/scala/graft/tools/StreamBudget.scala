package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Checks the streaming replays against their committed wall ceilings in
  * `STREAM_BUDGET.json`. The replays have no DuckDB analog, so these
  * ceilings are what bounds their cost from one change to the next.
  *
  * Picks the `per_sf` entry whose tag the fixture directory contains
  * (`sf0.1`, `graft_sf1`). Each budgeted replay runs once untimed (codegen,
  * JIT, footer caches), then three timed fresh-plan `collect()`s; its wall
  * is the minimum over the successful runs. Cached data is dropped and the
  * heap collected between replays. Prints wall and ceiling per replay and
  * exits non-zero if any replay fails or exceeds its ceiling.
  *
  * The ceilings were taken at `local[32]` on an 8-CPU host; the session
  * posture here is the one they were captured with (`SPARK_GRAFT_CPUS`
  * sets the master width, default 32).
  *
  * Run: `sbt "Test/runMain graft.tools.StreamBudget <sfDir>"`, with the
  * sf0.1 fixture directory or the `StageSf1` corpus.
  */
object StreamBudget {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: StreamBudget <sfDir>")
    val sfDir = args(0)
    val perSf = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("STREAM_BUDGET.json")).get("per_sf")
    val (tag, entry) = perSf.properties().asScala.map(e => e.getKey -> e.getValue)
      .find { case (t, _) => sfDir.contains(t) }
      .getOrElse(sys.error(s"no STREAM_BUDGET.json per_sf tag matches $sfDir " +
        s"(tags: ${perSf.fieldNames().asScala.mkString(", ")})"))
    val budgets = entry.get("budgets_s").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toSeq.sortBy(_._1)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.local.dir", graft.streaming.EventStreams.scratchBase)
        .config("spark.sql.warehouse.dir", graft.StageDir.scratchBase + "/graft_warehouse")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queries = SparkEntry.freshQueries
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir).collect()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Exception =>
          System.err.println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    val walls = budgets.map { case (name, ceiling) =>
      runOnce(name)
      val ok = Seq.fill(3)(runOnce(name)).flatten
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Exception => () }
      System.gc()
      val wall = ok.minOption
      val verdict = wall match {
        case None => "FAILED"
        case Some(w) if w > ceiling => "OVER"
        case _ => "ok"
      }
      println(f"$name%-30s wall ${wall.fold("-")(w => f"$w%.2f")}%6s s  " +
        f"ceiling $ceiling%5.2f s  $verdict")
      (name, wall, ceiling)
    }
    spark.stop()
    val bad = walls.collect { case (n, w, c) if w.forall(_ > c) => n }
    println(s"stream budget $tag at local[$cpus]: ${walls.size - bad.size} of " +
      s"${walls.size} replays within their ceiling" +
      (if (bad.isEmpty) "" else s"; over or failed: ${bad.mkString(", ")}"))
    if (bad.nonEmpty) sys.exit(1)
  }
}
