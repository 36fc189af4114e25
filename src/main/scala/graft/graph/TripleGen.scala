package graft.graph

import graft.model.Triple
import graft.model.Triple.{bnode, lit, uri}
import graft.text.{MimFields, Titles}

/** Triple (edge-row) generators — the reference's graph-construction
  * operators re-expressed as pure row→rows functions suitable for
  * `Dataset.flatMap` (SURVEY.md §2.8, G1-G16).
  *
  * All nodes are CURIE strings; blank nodes are deterministic md5 ids
  * (ref DeterministicBNode main.py:178-186, applied everywhere so triple
  * sets hash-compare stably — SURVEY.md §4 determinism constraints).
  */
object TripleGen {

  // Well-known CURIEs (ref: omim2obo/namespaces.py; main.py usages)
  val RdfType = "rdf:type"
  val RdfsLabel = "rdfs:label"
  val RdfsSubClassOf = "rdfs:subClassOf"
  val RdfsComment = "rdfs:comment"
  val OwlClass = "owl:Class"
  val OwlDeprecated = "owl:deprecated"
  val OwlAxiom = "owl:Axiom"
  val OwlRestriction = "owl:Restriction"
  val SkosExactMatch = "skos:exactMatch"
  val HasExactSynonym = "oboInOwl:hasExactSynonym"
  val HasRelatedSynonym = "oboInOwl:hasRelatedSynonym"
  val HasSynonymType = "oboInOwl:hasSynonymType"
  val OboSource = "oboInOwl:source"
  val Consider = "oboInOwl:consider"
  val Abbreviation = "OMO:0003000"
  val TermReplacedBy = "IAO:0100001"
  val Mentions = "IAO:0000142"
  val OmimIncluded = "MONDONS:omim_included"
  val BiolinkCategory = "biolink:category"
  val BiolinkDisease = "biolink:Disease"
  val BiolinkGene = "biolink:Gene"
  val BiolinkHasEvidence = "biolink:has_evidence"
  val GeneSO = "SO:0000704"
  val HasPhenotype = "RO:0002200"
  val IsSubsequenceOf = "RO:0002525"
  val CausesOrContributes = "RO:0003302"
  val HasMaterialBasisIn = "RO:0004003"
  val IsCausalGermlineMutationIn = "RO:0004013"
  val ExclusionReason = "MONDO:exclusionReason"
  val NonDisease = "MONDO:nonDisease"
  val ExcludeTrait = "MONDO:excludeTrait"

  def omim(mim: String) = s"OMIM:$mim"
  def omimPs(ps: String) = s"OMIMPS:$ps"

  /** Ref: add_subclassof_restriction (main.py:149-156): 4 rows, bnode id
    * derived from the full restriction content. Returns (bnodeId, rows). */
  def restriction(predicate: String, someValuesFrom: String, on: String)
      : (String, Seq[Triple]) = {
    val b = bnode(s"restriction|$on|$predicate|$someValuesFrom")
    (b, Seq(
      uri(b, RdfType, OwlRestriction),
      uri(b, "owl:onProperty", predicate),
      uri(b, "owl:someValuesFrom", someValuesFrom),
      uri(on, RdfsSubClassOf, b)))
  }

  /** Ref: add_axiom_annotations (main.py:120-134): reified axiom block +
    * annotation rows. */
  def axiomAnnotations(source: String, prop: String, target: String,
                       targetIsLiteral: Boolean,
                       annos: Seq[(String, String, Boolean)]): Seq[Triple] = {
    val ax = bnode(s"axiom|$source|$prop|$target")
    Seq(
      uri(ax, RdfType, OwlAxiom),
      uri(ax, "owl:annotatedSource", source),
      uri(ax, "owl:annotatedProperty", prop),
      Triple(ax, "owl:annotatedTarget", target, targetIsLiteral)) ++
      annos.map { case (p, v, isLit) => Triple(ax, p, v, isLit) }
  }

  /** Ref: add_triple_and_optional_annotations (main.py:137-146). */
  def tripleWithAnnotations(source: String, prop: String, target: String,
                            targetIsLiteral: Boolean,
                            annos: Seq[(String, String, Boolean)]): Seq[Triple] =
    Triple(source, prop, target, targetIsLiteral) +:
      (if (annos.nonEmpty) axiomAnnotations(source, prop, target, targetIsLiteral, annos)
       else Seq.empty)

  /** Ref: add_subclassof_restriction_with_evidence_and_source
    * (main.py:159-174): restriction + evidence/comment (+orcid) axiom on
    * the subClassOf edge. */
  def restrictionWithEvidence(predicate: String, someValuesFrom: String,
                              on: String, evidence: String,
                              orcid: Option[String]): Seq[Triple] = {
    val (b, rows) = restriction(predicate, someValuesFrom, on)
    val annos = Seq(
      (BiolinkHasEvidence, evidence, true),
      (RdfsComment, evidence, true)) ++
      orcid.map(o => (OboSource, o, false))
    rows ++ axiomAnnotations(on, RdfsSubClassOf, b, targetIsLiteral = false, annos)
  }

  /** Ref: add_gene_disease_associations (main.py:189-199): both causal
    * directions with the same evidence/source. */
  def geneDiseaseAssociations(geneMim: String, pMim: String, evidence: String,
                              orcid: Option[String]): Seq[Triple] =
    restrictionWithEvidence(HasMaterialBasisIn, omim(geneMim), omim(pMim), evidence, orcid) ++
      restrictionWithEvidence(IsCausalGermlineMutationIn, omim(pMim), omim(geneMim), evidence, orcid)

  /** Ontology header + annotation-property declarations + taxon class
    * (ref: main.py:252-268). `versionDate` is a parameter, not now(), for
    * reproducibility (SURVEY.md §4). */
  def ontologyHeader(versionDate: String): Seq[Triple] = {
    val ont = "<http://purl.obolibrary.org/obo/mondo/omim.owl>"
    val versionIri = s"<http://purl.obolibrary.org/obo/mondo/releases/$versionDate/omim.owl>"
    Seq(
      uri(ont, RdfType, "owl:Ontology"),
      uri(ont, "owl:versionIRI", versionIri),
      lit(ont, "owl:versionInfo", versionDate),
      uri(HasSynonymType, RdfType, "owl:AnnotationProperty"),
      uri(OboSource, RdfType, "owl:AnnotationProperty"),
      uri(OmimIncluded, RdfType, "owl:AnnotationProperty"),
      uri(Abbreviation, RdfType, "owl:AnnotationProperty"),
      uri(BiolinkHasEvidence, RdfType, "owl:AnnotationProperty"),
      uri("NCBITaxon:9606", RdfType, OwlClass),
      lit("NCBITaxon:9606", RdfsLabel, "Homo sapiens"))
  }

  /** Per-MIM entity triples: class decl, deprecation/replacement routing,
    * type-specific triples, label choice, synonyms with axiom annotations,
    * included-entry annotations (ref: main.py:271-374 — the whole per-MIM
    * loop body as one pure function, flatMapped over the parsed titles). */
  def entityTriples(omimType: String, mim: String, prefField: String,
                    altField: String, incField: String,
                    replacedBy: Seq[String],
                    caps: Map[String, String]): Seq[Triple] = {
    val u = omim(mim)
    val out = Seq.newBuilder[Triple]
    out += uri(u, RdfType, OwlClass)

    // Deprecated classes: replacement routing, then SKIP rest (main.py:276-286)
    if (omimType == "OBSOLETE") {
      out += lit(u, OwlDeprecated, "true")
      if (replacedBy.nonEmpty) {
        if (replacedBy.length == 1)
          out += uri(u, TermReplacedBy, omim(replacedBy.head))
        else replacedBy.foreach(r => out += uri(u, Consider, omim(r)))
        return out.result()
      }
      // fall through when an obsolete entry has no replacements (reference
      // `continue`s only inside the replaced-branch)
    }

    // Titles & symbols (main.py:289-307)
    val prefParts = prefField.split(";", -1).map(_.trim)
    val prefTitleRaw = Titles.cleanupTitle(prefParts.head, caps)
    val prefSymbols = prefParts.tail.toSeq
    val (altTitles0, altSymbols, formerAltTitles0, formerAltSymbols) =
      Titles.altAndIncludedTitlesAndSymbols(altField, caps)
    val (incTitles0, incSymbols, formerIncTitles0, formerIncSymbols) =
      Titles.altAndIncludedTitlesAndSymbols(incField, caps)
    val allAbbrevs: Set[String] =
      (prefSymbols ++ altSymbols ++ formerAltSymbols ++ incSymbols ++ formerIncSymbols).toSet
    val prefTitle = Titles.recapitalizeAcronyms(prefTitleRaw, allAbbrevs)
    val altTitles = altTitles0.map(Titles.recapitalizeAcronyms(_, allAbbrevs))
    val formerAltTitles = formerAltTitles0.map(Titles.recapitalizeAcronyms(_, allAbbrevs))
    val incTitles = incTitles0.map(Titles.recapitalizeAcronyms(_, allAbbrevs))
    val formerIncTitles = formerIncTitles0.map(Titles.recapitalizeAcronyms(_, allAbbrevs))

    // Type routing (main.py:309-321, F2)
    val isGene = omimType == "GENE" || omimType == "HAS_AFFECTED_FEATURE"
    omimType match {
      case "HERITABLE_PHENOTYPIC_MARKER" => // '%'
        out += uri(u, BiolinkCategory, BiolinkDisease)
      case _ if isGene => // '*' or '+'
        out += uri(u, RdfsSubClassOf, GeneSO)
        out += uri(u, ExclusionReason, NonDisease)
        out += uri(u, BiolinkCategory, BiolinkGene)
      case "PHENOTYPE" => // '#'
        out += uri(u, BiolinkCategory, BiolinkDisease)
      case "SUSPECTED" => // NULL
        out += uri(u, ExclusionReason, ExcludeTrait)
      case _ => ()
    }

    // Label choice (main.py:323-330, F9)
    if (isGene && prefSymbols.nonEmpty) out += lit(u, RdfsLabel, prefSymbols.head)
    else out += lit(u, RdfsLabel, prefTitle)

    // Synonyms (main.py:332-349, G5)
    out += lit(u, HasExactSynonym, prefTitle)
    altTitles.foreach(t => out += lit(u, HasExactSynonym, t))
    (prefSymbols ++ altSymbols).foreach { ab =>
      out ++= tripleWithAnnotations(u, HasExactSynonym, ab, targetIsLiteral = true,
        Seq((HasSynonymType, Abbreviation, false)))
    }
    formerAltTitles.foreach { t =>
      out ++= tripleWithAnnotations(u, HasRelatedSynonym, t, targetIsLiteral = true,
        Seq((OwlDeprecated, "true", true)))
    }
    formerAltSymbols.foreach { ab =>
      out ++= tripleWithAnnotations(u, HasRelatedSynonym, ab, targetIsLiteral = true,
        Seq((OwlDeprecated, "true", true), (HasSynonymType, Abbreviation, false)))
    }

    // Included entries (main.py:351-374, G6)
    val includedIsIncluded = incTitles.nonEmpty || incSymbols.nonEmpty
    if (includedIsIncluded)
      out += lit(u, RdfsComment, "This term has one or more labels that end with ', INCLUDED'.")
    incTitles.foreach(t => out += lit(u, OmimIncluded, t))
    incSymbols.foreach(sy => out += lit(u, OmimIncluded, sy))
    formerIncTitles.foreach { t =>
      out ++= tripleWithAnnotations(u, OmimIncluded, t, targetIsLiteral = true,
        Seq((OwlDeprecated, "true", true)))
    }
    formerIncSymbols.foreach { sy =>
      out ++= tripleWithAnnotations(u, OmimIncluded, sy, targetIsLiteral = true,
        Seq((OwlDeprecated, "true", true)))
    }
    out.result()
  }
}
