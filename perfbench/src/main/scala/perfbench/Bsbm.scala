package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuadStore
import graft.encoding.TermCols
import graft.gen.BsbmGen

/**
 * The shared BSBM store: `BsbmGen.quads` plus a seeded `foaf:knows` graph among the
 * reviewers (communities of `communitySize`, out-degree 2, so every community has
 * cycles). Instance IRIs follow the scheme BsbmGen documents.
 */
final class Bsbm(communitySize: Int) {
  import Bsbm._
  val products: Int = Products
  val offers: Long = 20L * products
  val reviews: Long = 10L * products
  val reviewers: Int = math.max(products / 2, 100)
  val vendors: Long = (offers - 1) / 2000 + 1
  val producers: Long = 20 + (products - 899) / 48 + 1

  def reviewIri(id: Long): String = s"<${Inst}dataFromRatingSite${(id - 1) / 5000 + 1}/Review$id>"
  def reviewerIri(id: Long): String = s"<${Inst}dataFromRatingSite${(id - 1) / 250 + 1}/Reviewer$id>"
  def offerIri(id: Long, vendor: Long): String = s"<${Inst}dataFromVendor$vendor/Offer$id>"
  def offerIri(id: Long): String = offerIri(id, (id - 1) / 2000 + 1)
  def vendorIri(v: Long): String = s"<${Inst}dataFromVendor$v/Vendor$v>"
  def producerIri(p: Long): String = s"<${Inst}dataFromProducer$p/Producer$p>"

  /** Product IRIs by id (index 0 = Product1), from BsbmGen's own producer segmentation. */
  def productIris(spark: SparkSession): IndexedSeq[String] =
    spark.range(1, products + 1L)
      .select(concat(lit("<" + Inst + "dataFromProducer"), BsbmGen.producerOf(col("id")),
        lit("/Product"), col("id"), lit(">")))
      .collect().map(_.getString(0)).toIndexedSeq

  /** Seeded `foaf:knows` edges: each reviewer knows two others in its community. */
  def knows(spark: SparkSession, seed: Long): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0x6b6e6f7773L)
    val edges = (1 to reviewers).flatMap { i =>
      val base = ((i - 1) / communitySize) * communitySize
      val size = math.min(communitySize, reviewers - base)
      Iterator.continually(base + 1 + rng.nextInt(size)).filter(_ != i).take(2).toSeq.distinct
        .map(j => (strip(reviewerIri(i)), strip(reviewerIri(j))))
    }
    import spark.implicits._
    edges.toDF("s", "o").select(
      lit(null).cast(TermCols.schema).as("graph"), TermCols.iri(col("s")).as("subject"),
      TermCols.iri(lit(FoafKnows)).as("predicate"), TermCols.iri(col("o")).as("object"))
  }

}

object Bsbm {
  /** Products in the store: BsbmGen's minimum. */
  val Products = 1000
  val Inst: String = BsbmGen.Inst
  val FoafKnows = "http://xmlns.com/foaf/0.1/knows"
  /** The country codes BsbmGen assigns to producers, vendors and reviewers. */
  val Countries = Seq("US", "DE", "AT", "GB", "FR", "ES", "RU", "KR", "CN", "JP")

  def strip(iri: String): String = iri.stripPrefix("<").stripSuffix(">")

  /** Timings of one set-up: save, then load with a first count. */
  final case class Built(store: QuadStore, quadCount: Long, bytes: Long, saveS: Double, loadS: Double)

  /** `BsbmGen.quads`, which depends only on the product count, generated once per
    * build of the sources and kept under `.perfbench/inputs` for later runs, with the
    * seconds its generation took (the `_gen_s` sidecar, which Spark's reader skips). */
  def generated(spark: SparkSession, bsbm: Bsbm, inputs: Path, key: String): (DataFrame, Double) = {
    val dir = inputs.resolve(s"bsbm-${bsbm.products}-$key")
    if (!java.nio.file.Files.isDirectory(dir)) {
      Fs.deleteRec(inputs) // inputs of other source versions
      val tmp = inputs.resolve(s".bsbm-${bsbm.products}-$key-${ProcessHandle.current.pid}.tmp")
      val (_, ms) = Clock.timedMs(BsbmGen.quads(spark, bsbm.products).write.parquet(tmp.toString))
      java.nio.file.Files.write(tmp.resolve("_gen_s"), (ms / 1e3).toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, dir)
    }
    (spark.read.schema(graft.sources.NTriples.quadSchema).parquet(dir.toString),
      Fs.read(dir.resolve("_gen_s")).trim.toDouble)
  }

  /** Write the store with `QuadStore.save` and reopen it with `QuadStore.load`. */
  def build(spark: SparkSession, quads: DataFrame, dir: Path): Built = {
    val (_, saveMs) = Clock.timedMs(QuadStore(quads).save(dir.toString))
    val ((store, n), loadMs) = Clock.timedMs {
      val st = QuadStore.load(spark, dir.toString)
      (st, st.count())
    }
    Built(store, n, Fs.bytesUnder(dir), saveMs / 1e3, loadMs / 1e3)
  }
}

/** Seeded query parameters. Every draw fills every placeholder any template uses. */
final class Params(bsbm: Bsbm, productIris: IndexedSeq[String], seed: Long) {
  private val rng = new SplittableRandom(seed)
  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
  private def feature(f: Int) = s"<${Bsbm.Inst}ProductFeature$f>"
  private def ptype(t: Int) = s"<${Bsbm.Inst}ProductType$t>"

  def product(): String = productIris(rng.nextInt(productIris.size))

  def draw(): Map[String, String] = {
    // the (type, feature) pairs BsbmGen correlates, so feature filters select rows
    val byType = graft.gen.BsbmGen.TypeFeatures.groupBy(_._1).toSeq.sortBy(_._1)
    val (t, tf) = pick(byType)
    val Seq(f1, f2) = tf.map(_._2).take(2)
    val month = between(1, 10)
    def day(m: Int) = f"2007-$m%02d-01"
    Map(
      "ProductType" -> ptype(t),
      "ProductFeature1" -> feature(f1),
      "ProductFeature2" -> feature(f2),
      "ProductFeature3" -> feature(between(1, 6)),
      "x" -> between(1, 1000).toString,
      "y" -> between(1000, 2000).toString,
      "Product" -> product(),
      "Country1" -> pick(Bsbm.Countries),
      "Country2" -> pick(Bsbm.Countries),
      "CurrentDate" -> f"2008-${between(5, 7)}%02d-${between(1, 28)}%02dT00:00:00",
      "Days" -> between(3, 6).toString,
      "Review" -> bsbm.reviewIri(1L + rng.nextLong(bsbm.reviews)),
      "Offer" -> bsbm.offerIri(1L + rng.nextLong(bsbm.offers)),
      "Month0" -> day(month), "Month1" -> day(month + 1), "Month2" -> day(month + 2),
      "Producer" -> bsbm.producerIri(1L + rng.nextLong(bsbm.producers)),
      "Reviewer" -> bsbm.reviewerIri(1L + rng.nextInt(bsbm.reviewers)))
  }
}
