package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Artifacts, ExtQueries}

/** The query surface is one list of (name, body, static oracle): each
  * name once, every oracle keyed by a query, and the data-derived
  * oracles never shadowing a static one. */
class RegistrySpec extends AnyFunSuite with SparkTestSession {

  private lazy val names = SparkEntry.registry.map(_._1)
  private lazy val static =
    SparkEntry.registry.collect { case (n, _, Some(_)) => n }.toSet

  /** The keys [[ExtQueries.dynamicOracles]] emits once every artifact
    * it reads is built — here from stand-in values of the real shapes
    * (16 centroids of 64 dims, 4×8 codebooks, a one-merge list). */
  private lazy val dynamic: Set[String] = {
    val dir = "registry-spec"
    Artifacts.clear()
    try {
      Artifacts.get("ivf_cents", spark, dir)(Array.fill(16, 64)(0.5))
      Seq("pq_books", "rpq_books").foreach(name =>
        Artifacts.get(name, spark, dir)(Array.fill(4, 8, 16)(0.25)))
      Seq("bpe_merges", "bpe_byte_merges", "bpe_pretok_merges").foreach(name =>
        Artifacts.get(name, spark, dir)(Seq(("a", "b"))))
      ExtQueries.dynamicOracles.keySet
    } finally Artifacts.clear()
  }

  test("query names are distinct") {
    assert(names.diff(names.distinct).isEmpty)
  }

  test("the query surface has 222 queries") {
    assert(names.length == 222)
    assert(SparkEntry.queries.size == 222)
  }

  test("every static oracle names a query") {
    assert(static.nonEmpty)
    assert(static.subsetOf(names.toSet))
  }

  test("every dynamic oracle names a query") {
    assert(dynamic.nonEmpty)
    assert(dynamic.subsetOf(names.toSet), dynamic -- names)
  }

  test("static and dynamic oracle keys are disjoint") {
    assert(static.intersect(dynamic).isEmpty)
    assert(static.size + dynamic.size == 209)
  }
}
