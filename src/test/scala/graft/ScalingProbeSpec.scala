package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ScalingProbe

/** Name resolution of the scaling probe — pure, no Spark session. The
  * `nDocs` thunk throws, so any resolution that touched fixture data
  * would fail.
  */
class ScalingProbeSpec extends AnyFunSuite {
  private val registry = SparkEntry.queries
  private val variants =
    ScalingProbe.variants(sys.error("resolution must not read the corpus"))

  test("a variant name resolves to the variant, not the same-named registry entry") {
    assert(registry.contains("q155_bpe_train"))
    val Seq((name, build)) = ScalingProbe.resolve(Seq("q155_bpe_train"), variants, registry)
    assert(name == "q155_bpe_train")
    assert(build eq variants("q155_bpe_train"))
    assert(!(build eq registry("q155_bpe_train")))
  }

  test("a registry name resolves to its registry entry, in request order") {
    val got = ScalingProbe.resolve(
      Seq("q22_minhash_lsh", ScalingProbe.ServeOnly, "q20_dedup_exact"),
      variants, registry)
    assert(got.map(_._1) == Seq("q22_minhash_lsh", "q20_dedup_exact"))
    assert(got.head._2 eq registry("q22_minhash_lsh"))
    assert(got(1)._2 eq registry("q20_dedup_exact"))
  }

  test("unknown names fail before any fixture work, listing every unknown name") {
    val e = intercept[IllegalArgumentException](ScalingProbe.resolve(
      Seq("q20_dedup_exact", "q22_minhash_verified", "q137_khop"),
      variants, registry))
    assert(e.getMessage.contains("q22_minhash_verified"))
    assert(e.getMessage.contains("q137_khop"))
    assert(!e.getMessage.contains("q20_dedup_exact"))
  }
}
