package graft

import org.apache.spark.sql.SparkSession

import graft.sources.odata.{StatlineIngest, StatlineScanContext}

/** CLI entry point (reference `statline-bq` command, cli.py:12-87).
  *
  * {{{
  * spark-submit --class graft.IngestCli app.jar \
  *   --id 83583NED [--id 84799NED ...] --root /data/statline \
  *   [--config datasets.toml] [--endpoint local|store|catalog] [--source cbs]
  *   [--third-party] [--force] [--replay index.json]
  * }}}
  *
  * `--config` points at a dataset-list file in the reference's
  * `datasets.toml` shape (`ids = ["83583NED", ...]`, `#` comments); explicit
  * `--id` flags take precedence, mirroring cli.py:56-62. `--replay` points
  * at a JSON object of url → payload-file path and swaps the network client
  * for an offline replay (CI / air-gapped runs).
  */
object IngestCli {

  /** Ids from a `datasets.toml`-shaped file (config.py:30-54): the quoted
    * strings of the `ids = [...]` entry, `#` comments stripped. A dedicated
    * TOML dependency would be dead weight for one key of one known shape.
    */
  def datasetIds(path: String): Seq[String] = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val noComments = text.linesIterator.map { l =>
      val h = l.indexOf('#'); if (h >= 0) l.substring(0, h) else l
    }.mkString("\n")
    val arr = java.util.regex.Pattern
      .compile("(?s)\\bids\\s*=\\s*\\[(.*?)\\]").matcher(noComments)
    if (!arr.find()) Seq.empty
    else "\"([^\"]*)\"".r.findAllMatchIn(arr.group(1)).map(_.group(1)).toSeq
  }
  def main(args: Array[String]): Unit = {
    var ids = List.empty[String]
    var root = ""
    var endpoint = "local"
    var source = "cbs"
    var thirdParty = false
    var force = false
    var replay: Option[String] = None
    var config: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--id" => ids ::= args(i + 1); i += 2
        case "--config" => config = Some(args(i + 1)); i += 2
        case "--root" => root = args(i + 1); i += 2
        case "--endpoint" => endpoint = args(i + 1); i += 2
        case "--source" => source = args(i + 1); i += 2
        case "--third-party" => thirdParty = true; i += 1
        case "--force" => force = true; i += 1
        case "--replay" => replay = Some(args(i + 1)); i += 2
        case "--help" | "-h" =>
          println("""usage: graft.IngestCli --id <dataset> [--id <dataset> ...] --root <dir>
                    |  [--config datasets.toml] [--endpoint local|store|catalog]
                    |  [--source cbs] [--third-party] [--force] [--replay index.json]
                    |--id flags win over --config's `ids = [...]` list; --replay
                    |serves recorded responses instead of the network.""".stripMargin)
          return
        case other => sys.error(s"unknown argument: $other (expected --id/--config/--root/--endpoint/--source/--third-party/--force/--replay/--help)")
      }
    }
    // explicit --id flags win over the config file (cli.py:56-62)
    val datasets: Seq[String] =
      if (ids.nonEmpty) ids.reverse
      else config.map(datasetIds).getOrElse(Seq.empty)
    require(datasets.nonEmpty, "no dataset ids: pass --id or --config with a non-empty `ids = [...]`")
    require(root.nonEmpty, "--root is required")

    // embedding-friendly: when a session already exists (library use, specs),
    // reuse it and leave its lifecycle to the owner
    val owned = SparkSession.getDefaultSession.isEmpty
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val client = StatlineScanContext.makeClient(replay)

    val ingest = new StatlineIngest(spark, client, source)
    datasets.foreach { id =>
      val res = ingest.run(id, root, endpoint, thirdParty, force)
      if (res.skipped)
        println(s"[ingest] $id: up to date, skipped")
      else
        println(s"[ingest] $id: ${res.parquetPaths.size} tables -> ${res.snapshotDir}")
    }
    if (owned) spark.stop()
  }
}
