package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows of a single-var result as a sorted list of lexical values. */
  def lex(df: DataFrame, col: String): Seq[String] =
    df.select(s"$col.v").collect().map(r => Option(r.getString(0)).getOrElse("∅")).toSeq.sorted

  def rows(df: DataFrame, cols: String*): Set[Seq[String]] =
    df.select(cols.map(c => org.apache.spark.sql.functions.col(s"$c.v")): _*)
      .collect().map(_.toSeq.map(x => if (x == null) "∅" else x.toString)).toSet

  /** (result, Spark jobs `body` started on this thread). */
  def jobs[T](body: => T): (T, Int) = graft.obs.QueryProfile.jobs(spark)(body)

  /** `body` with the session's broadcast join threshold — the byte budget of
    * the KleenePlus closure operator — set to `bytes`. */
  def withThreshold[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Far below one edge row: the closure's walk never fits and its semi-naive
    * loop runs, broadcasting only fronts of at most four rows. */
  def onLoop[T](body: => T): T = withThreshold("100")(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NestedColumnAliasing's semanticEquals dedup is quadratic in the
      // number of struct-field extractions; dynamic-kind term expressions
      // (big CASE ladders over {t,v,dt,lang,num} structs) push it to minutes
      // of driver CPU per query. Our parquet layouts are flat relational
      // columns (term structs are CONSTRUCTED, never read nested), so the
      // rule buys nothing here.
      .config("spark.sql.optimizer.expression.nestedPruning.enabled", "false")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
