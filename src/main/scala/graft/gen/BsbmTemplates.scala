package graft.gen

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.regex.Matcher
import scala.jdk.CollectionConverters._

/**
 * The BSBM query and update templates the benchmark runs
 * (`perfbench/templates/{explore,bi,path,update}`, the BSBM Explore and BI
 * texts adapted to `BsbmGen`'s IRIs), read in place so the tests, the
 * benchmark and `tools.ParityBench` share one copy. Paths are relative to
 * the repository root. Each `%Name%` placeholder is filled from one
 * fixed map of instances `BsbmGen` guarantees at 1000 products (see its
 * docstring), chosen so every Explore and BI query selects rows.
 */
object BsbmTemplates {

  val dir: Path = Paths.get("perfbench/templates")

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  lazy val prefixes: String = read(dir.resolve("prefixes.rq"))

  /** The template files of one group (`explore`, `bi`, `path`, `update`), by name. */
  def files(group: String): Seq[Path] =
    Files.list(dir.resolve(group)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  /** A template's query name: `explore/q02.rq` is `explore-q2`. */
  def name(file: Path): String =
    s"${file.getParent.getFileName}-q" + file.getFileName.toString.stripPrefix("q").stripSuffix(".rq").toInt

  private def inst(local: String) = s"<${BsbmGen.Inst}$local>"

  val params: Map[String, String] = Map(
    // type 85 carries features 2594 and 24 (BsbmGen.TypeFeatures); 8 is a hot feature
    "ProductType" -> inst("ProductType85"),
    "ProductFeature1" -> inst("ProductFeature2594"),
    "ProductFeature2" -> inst("ProductFeature24"),
    "ProductFeature3" -> inst("ProductFeature8"),
    "x" -> "500",
    "y" -> "1500",
    "Product" -> inst("dataFromProducer7/Product296"),
    "Producer" -> inst("dataFromProducer6/Producer6"),
    "Offer" -> inst("dataFromVendor1/Offer1250"),
    "Vendor" -> inst("dataFromVendor1/Vendor1"),
    "Review" -> inst("dataFromRatingSite1/Review4194"),
    "Reviewer" -> inst("dataFromRatingSite1/Reviewer1"),
    // FR: a producer and a vendor country; US: the most common one
    "Country1" -> "FR",
    "Country2" -> "US",
    "CurrentDate" -> "2008-06-20T00:00:00",
    "Days" -> "6",
    "Month0" -> "2007-09-01", "Month1" -> "2007-10-01", "Month2" -> "2007-11-01",
    "Price" -> "123.45",
    "ValidTo" -> "2008-12-31T00:00:00",
    "Title" -> "A review of product 296",
    "Rating" -> "7")

  /** The template's text with the shared prefixes and every placeholder filled
    * from `params`, then `overrides`. */
  def fill(file: Path, overrides: Map[String, String] = Map.empty): String = {
    val ps = params ++ overrides
    prefixes + "%([A-Za-z0-9]+)%".r.replaceAllIn(read(file), m =>
      Matcher.quoteReplacement(ps.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"$file: no value for %${m.group(1)}%"))))
  }
}
