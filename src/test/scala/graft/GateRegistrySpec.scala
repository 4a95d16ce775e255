package graft

import graft.gates._
import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's shape: every gate is one record, declared once, in
  * the module its name prefix names. A duplicate name in a `Map(...)`
  * literal would silently replace the earlier gate; here it fails. */
class GateRegistrySpec extends AnyFunSuite {

  private val modules: Seq[(Set[String], Seq[Gate])] = Seq(
    Set("q") -> RelationalGates.all,
    Set("d") -> DocTextGates.all,
    Set("d") -> DocQualityGates.all,
    Set("d") -> DocDedupGates.all,
    Set("d") -> DocCurationGates.all,
    Set("x") -> DedupGates.all,
    Set("e") -> SimilarityGates.all,
    Set("k") -> TokenizeGates.all,
    Set("st") -> StreamingGates.all,
    Set("ev") -> EventGates.all,
    Set("m") -> MultimodalGates.all,
    Set("g") -> GraphGates.all,
    Set("w") -> SourceGates.all,
    Set("p") -> PrivacyGates.all,
    Set("a", "b", "h") -> JoinGates.all)

  private def prefix(name: String): String = name.takeWhile(_.isLetter)

  test("SparkEntry.gates is exactly the modules' gates") {
    assert(SparkEntry.gates === modules.flatMap(_._2))
  }

  test("gate names are unique across all modules") {
    val dups = SparkEntry.gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("every gate is declared in the module for its name prefix") {
    for ((prefixes, gates) <- modules; g <- gates)
      assert(prefixes(prefix(g.name)), s"${g.name} declared outside its family")
  }

  test("273 gates, 22 scale twins, per-family counts") {
    assert(SparkEntry.gates.size === 273)
    assert(SparkEntry.gates.count(_.scaleTwin.isDefined) === 22)
    val counts = SparkEntry.gates.groupBy(g => prefix(g.name)).map { case (p, gs) => p -> gs.size }
    assert(counts === Map("q" -> 45, "d" -> 81, "x" -> 17, "e" -> 17, "k" -> 16,
      "st" -> 32, "ev" -> 25, "m" -> 8, "g" -> 7, "w" -> 12, "p" -> 6,
      "a" -> 3, "b" -> 3, "h" -> 1))
  }

  test("queries, oracleSql and oracleSqlScale are keyed by the same gates") {
    val names = SparkEntry.gates.map(_.name).toSet
    assert(SparkEntry.queries.keySet === names)
    assert(SparkEntry.oracleSql.keySet === names)
    assert(SparkEntry.oracleSqlScale.keySet.subsetOf(names))
    assert(SparkEntry.oracleSqlScale.size === 22)
  }

  test("every oracle and twin is non-empty SQL") {
    for (g <- SparkEntry.gates) {
      assert(g.oracle != null && g.oracle.trim.nonEmpty, g.name)
      g.scaleTwin.foreach(t => assert(t != null && t.trim.nonEmpty, g.name))
    }
  }

  test("select: no list is every gate, a list is exactly those gates") {
    assert(SparkEntry.select(None).keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.select(Some("q01_pricing_summary, x03_ngram_jaccard_dedup")).keySet ===
      Set("q01_pricing_summary", "x03_ngram_jaccard_dedup"))
  }

  test("select fails and lists every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_pricing_summary,q99_typo,d35")))
    assert(e.getMessage.contains("d35, q99_typo"), e.getMessage)
  }
}
