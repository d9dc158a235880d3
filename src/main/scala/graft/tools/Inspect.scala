package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.QuadStore
import graft.engine.Graft
import graft.gen.{BsbmGen, BsbmTemplates, WindFarmGen, WindFarmQueries}
import graft.obs.QueryProfile

/**
 * Plan and profile inspector for one query.
 *
 * Usage:
 *   sbt "runMain graft.tools.Inspect <query> [data] [--explain|--show|--profile [runs]]"
 *
 * `<query>` is a gate query name (`graft.SparkEntry.queries`, run over the
 * TPC-H parquet directory `data`), a Wind Farm text name
 * (`graft.gen.WindFarmQueries`, e.g. `production-query2`), a BSBM template
 * under `perfbench/templates` (filled by `BsbmTemplates`), or any other
 * SPARQL file. Those run over `data`: `bsbm:<products>` or
 * `windfarm:<turbines>` (generated), a TPC-H parquet directory (the
 * relational mapping), a `QuadStore` directory, or an RDF file. `data`
 * defaults to `$SPARK_GRAFT_SF_DIR`.
 *
 * `--explain` (the default) prints the formatted physical plan; `--show`
 * displays 50 rows; `--profile [runs]` builds and runs the query `runs` times
 * (default 1) and prints one [[QueryProfile]] JSON line per run. The first
 * run pays JIT and code generation; compare later runs.
 */
object Inspect {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse {
      println("queries: " + graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      return
    }
    val flag = args.indexWhere(_.startsWith("--"))
    val mode = if (flag < 0) "--explain" else args(flag)
    val runs = if (flag < 0) 1 else args.lift(flag + 1).map(_.toInt).getOrElse(1)
    val data = args.slice(1, if (flag < 0) args.length else flag).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no data: pass [data] or set SPARK_GRAFT_SF_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val build: () => DataFrame = graft.SparkEntry.queries.get(name) match {
      case Some(fn) => () => fn(spark, data)
      case None =>
        val g = over(spark, data)
        val text = queryText(name)
        () => g.query(text)
    }
    mode match {
      case "--profile" =>
        (1 to runs).foreach { i =>
          val p = QueryProfile.of(spark)(build())
          println(s"""{"query":"$name","run":$i,""" + p.toJson.drop(1))
        }
      case "--show" => build().show(50, truncate = false)
      case _ => build().explain("formatted")
    }
    spark.stop()
  }

  private def queryText(name: String): String = {
    val p = Paths.get(name)
    if (WindFarmQueries.texts.exists(_._1 == name)) WindFarmQueries(name)
    else if (p.toAbsolutePath.startsWith(BsbmTemplates.dir.toAbsolutePath)) BsbmTemplates.fill(p)
    else new String(Files.readAllBytes(p), "UTF-8")
  }

  private def over(spark: SparkSession, data: String): Graft = data match {
    case s"bsbm:$n" => Graft(BsbmGen.quads(spark, n.toInt).localCheckpoint())
    case s"windfarm:$n" => Graft(WindFarmGen.quads(spark, n.toInt).localCheckpoint(), WindFarmGen.kinds)
    case dir if Files.exists(Paths.get(dir, "region.parquet")) =>
      val m = graft.sources.RdbToRdf.mapping(spark, dir)
      Graft(m.quads, m)
    case dir if Files.isDirectory(Paths.get(dir)) => Graft(QuadStore.load(spark, dir).quads)
    case file => Graft(QuadStore.loadFile(spark, file).quads)
  }
}
