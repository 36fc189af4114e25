package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CurieMapSpec extends AnyFunSuite {

  test("parses quoted flat-YAML lines, dropping comments and blanks") {
    val lines = Seq(
      "# Monarch-specific",
      "'': 'https://monarchinitiative.org/'   # base IRI",
      "'OMIM': 'https://omim.org/entry/'",
      "'FALDO': 'http://biohackathon.org/resource/faldo#'  # hash inside quotes",
      "",
      "# 'Annotation': 'http://www.w3.org/ns/oa#Annotation'",
      "bare: http://example.org/x")
    val m = CurieMap.parse(lines.mkString("\n"))
    assert(m == Map(
      "" -> "https://monarchinitiative.org/",
      "OMIM" -> "https://omim.org/entry/",
      "FALDO" -> "http://biohackathon.org/resource/faldo#",
      "bare" -> "http://example.org/x"))
  }

  test("shipped dipper map has the reference's full 200+ binding set") {
    val m = CurieMap.dipper
    assert(m.size >= 200, s"only ${m.size} bindings parsed")
    // spot-check bindings across the file (data/dipper/curie_map.yaml)
    assert(m("OMIM") == "https://omim.org/entry/")
    assert(m("OMIMPS") == "https://omim.org/phenotypicSeries/PS")
    assert(m("MONDO") == "http://purl.obolibrary.org/obo/MONDO_")
    assert(m("MONDONS") == "http://purl.obolibrary.org/obo/mondo#")
    assert(m("skos") == "http://www.w3.org/2004/02/skos/core#")
    assert(m("UMLS") == "http://linkedlifedata.com/resource/umls/id/")
    assert(m("ZFIN") == "http://zfin.org/")
    assert(m("") == "https://monarchinitiative.org/")
  }

  test("default layers namespaces.py extras over the yaml without clobbering it") {
    val d = CurieMap.default
    assert(d("ORCID") == "https://orcid.org/")
    assert(d("ORPHANET") == "http://www.orpha.net/ORDO/Orphanet_")
    assert(d("NCBIGENE") == "https://www.ncbi.nlm.nih.gov/gene/")
    assert(d("NCBIGene") == "https://www.ncbi.nlm.nih.gov/gene/") // yaml casing kept too
    assert(d("OMIM") == CurieMap.dipper("OMIM"))
    // every prefix the pipeline emits resolves
    val emitted = Set("OMIM", "OMIMPS", "MONDO", "MONDONS", "RO", "SO", "IAO",
      "OMO", "NCBITaxon", "NCBIGENE", "HGNC", "HGNC_symbol", "CHR", "PMID",
      "UMLS", "ORPHANET", "ORCID", "biolink", "oboInOwl", "skos", "rdf",
      "rdfs", "owl")
    assert(emitted.subsetOf(d.keySet))
  }

  test("load reads a curie_map.yaml-shaped file from disk") {
    val f = Files.createTempFile("curie", ".yaml")
    Files.write(f, "'A': 'http://a/'\n'B': 'http://b#'\n".getBytes("UTF-8"))
    assert(CurieMap.parse(Files.readString(f)) == Map("A" -> "http://a/", "B" -> "http://b#"))
  }
}
