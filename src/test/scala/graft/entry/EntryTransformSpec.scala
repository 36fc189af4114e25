package graft.entry

import graft.SparkSpec
import graft.model.Triple

/** Golden asserts mirrored from the reference's own tests
  * (tests/omim2obo/parsers/test_omim_entry_parser.py:8-79) over the 8
  * public entry_*.json fixtures. */
class EntryTransformSpec extends SparkSpec {

  private lazy val entries =
    EntryTransform.readEntries(spark, "src/test/resources/entries/entry_*.json")
  private lazy val triples = {
    import spark.implicits._
    entries.flatMap(EntryTransform.entryTriples).collect().toSet
  }

  test("reads all 8 fixture entries") {
    assert(entries.count() == 8)
  }

  test("ASTERISK 100660 emits owl:equivalentClass NCBIGENE:218 (ref :40)") {
    assert(triples.contains(
      Triple.uri("OMIM:100660", "owl:equivalentClass", "NCBIGENE:218")))
    assert(triples.contains(
      Triple.uri("OMIM:100660", "rdfs:subClassOf", "SO:0000704")))
    assert(triples.contains(Triple.lit("OMIM:100660", "rdfs:label", "ALDH3A1")))
  }

  test("NUMBER_SIGN 104500 emits biolink Disease category (ref :78)") {
    assert(triples.contains(
      Triple.uri("OMIM:104500", "biolink:category", "biolink:Disease")))
  }

  test("every entry gets a class declaration and an exact synonym") {
    val mims = Seq(100070L, 100660L, 104250L, 104500L, 104740L, 100050L, 193670L, 609300L)
    mims.foreach { m =>
      assert(triples.contains(Triple.uri(s"OMIM:$m", "rdf:type", "owl:Class")), s"mim $m")
      assert(triples.exists(t => t.s == s"OMIM:$m" && t.p == "oboInOwl:hasExactSynonym"),
        s"mim $m synonym")
    }
  }

  test("pubmed mentions and mapped ids flow through") {
    assert(triples.exists(t => t.p == "IAO:0000142" && t.o.startsWith("PMID:")))
    assert(triples.exists(t => t.p == "skos:exactMatch" &&
      (t.o.startsWith("UMLS:") || t.o.startsWith("ORPHANET:"))))
  }
}
