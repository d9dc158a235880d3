package graft

/** The compat-union rewrite against the theta join in the default gate: the
  * first three seeds of every [[CompatUnionCases]] shape. The 20-seed sweep
  * is [[RandomOptionalChainDifferentialSpec]] (a SlowTest). */
class CompatUnionDifferentialSpec extends SparkSpec {

  import CompatUnionCases._

  shapes.foreach { case (name, first, gen) =>
    test(s"compat-union ≡ theta join on 3 random $name cases") {
      (first until first + 3).foreach { seed =>
        val c = gen(spark, seed)
        val (got, ref) = compare(c)
        assert(got == ref, s"seed=$seed\nquery=${c.query}\ngot=$got\nref=$ref")
      }
    }
  }
}
