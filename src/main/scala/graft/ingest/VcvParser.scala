package graft.ingest

import scala.collection.mutable

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

/** Pure per-record parser for ClinVar VCV `<VariationArchive>` XML
  * fragments — the Spark map-task body (SURVEY §2.1 S5). The reference
  * parses the same structure with streaming XOM callbacks
  * (Parser.parseSubrecord, Parser.java:61-473); here each record is a
  * self-contained string (the splitter guarantees it), so a small DOM
  * per record is simplest and the function stays pure — ideal for
  * `flatMap` over a distributed text scan.
  *
  * Field-group extraction mirrors Parser.java (§2.9); merge semantics
  * during parse are the reference's `Record.merge` (Record.java:120-143):
  * TreeSet = dedup + lexicographic sort, pipe-joined.
  */
object VcvParser {

  def parse(xml: String): ParseResult =
    try parseInner(xml)
    catch { case _: Exception => ParseResult(ParseResult.ParseError, None) }

  // --- DOM helpers -----------------------------------------------------------

  private def children(e: Element, name: String): Seq[Element] = {
    val out = mutable.ArrayBuffer[Element]()
    var n = e.getFirstChild
    while (n != null) {
      n match {
        case el: Element if el.getTagName == name => out += el
        case _ =>
      }
      n = n.getNextSibling
    }
    out.toSeq
  }

  private def childElements(e: Element): Seq[Element] = {
    val out = mutable.ArrayBuffer[Element]()
    var n = e.getFirstChild
    while (n != null) {
      n match { case el: Element => out += el; case _ => }
      n = n.getNextSibling
    }
    out.toSeq
  }

  private def firstChild(e: Element, name: String): Option[Element] =
    children(e, name).headOption

  private def attr(e: Element, name: String): String = {
    val v = e.getAttribute(name)
    if (v == null) "" else v
  }

  private def optAttr(e: Element, name: String): Option[String] = {
    val v = e.getAttribute(name)
    if (v == null || v.isEmpty) None else Some(v)
  }

  private def text(e: Element): String = {
    val v = e.getTextContent
    if (v == null) "" else v
  }

  /** Record.merge (Record.java:120-143): TreeSet union of value into a
    * pipe-list; empty incoming is a no-op; null/empty list bootstraps.
    */
  private[ingest] def treeMerge(value: String, valueList: String): String = {
    val v = if (value == null) "" else value.trim
    if (v.isEmpty) return valueList
    if (valueList == null || valueList.isEmpty) return v
    val set = mutable.TreeSet[String](v)
    valueList.split("[\\|]").foreach(set += _)
    set.filter(_.nonEmpty).mkString("|")
  }

  // --- mutable per-record accumulator ----------------------------------------

  private final class Acc {
    var clinicalSignificance: String = ""
    var reviewStatus: String = ""
    var methodType: String = ""
    var submitter: String = ""
    var notes: String = ""
    var dateLastEvaluated: String = ""
    val xdbIds = mutable.LinkedHashSet[(Int, String)]() // distinct on (key, acc): XdbIds.java:31-34
    val counters = mutable.Map[String, Long]()
    def bump(name: String): Unit = counters(name) = counters.getOrElse(name, 0L) + 1
    var xdbNotes: String = ""
    val aliases = mutable.ArrayBuffer[AliasRec]()

    def mergeCS(v: String): Unit = clinicalSignificance = treeMerge(v, clinicalSignificance)
    def mergeReview(v: String): Unit = reviewStatus = treeMerge(v, reviewStatus)
    def mergeMethod(v: String): Unit = methodType = treeMerge(v, methodType)
    def mergeSubmitter(v: String): Unit = submitter = treeMerge(v, submitter)
    def mergeNotes(v: String): Unit = notes = treeMerge(v, notes)
    def addXdb(key: Int, acc: String): Unit =
      if (acc != null && acc.nonEmpty) xdbIds += ((key, acc))

    /** Aliases.addIncomingAlias (Aliases.java:28-49): reject null/empty,
      * 'not provided'/'not specified' (case-insens), alias whose
      * suffix-normalized form is inside traitName, case-insens dups.
      */
    def addAlias(aliasName: String, clinVarId: String, traitName: String): Boolean = {
      if (aliasName == null || aliasName.isEmpty) return false
      val a = aliasName.trim
      if (a.equalsIgnoreCase("not provided") || a.equalsIgnoreCase("not specified")) return false
      val normalized = a + " [" + clinVarId + "]"
      if (traitName != null && traitName.toLowerCase.contains(normalized.toLowerCase)) return false
      if (aliases.exists(_.value.equalsIgnoreCase(a))) return false
      aliases += AliasRec(a, clinVarId)
      true
    }
  }

  // --- the parser ------------------------------------------------------------

  private def parseInner(xml: String): ParseResult = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    // hostile input: no DOCTYPE, so no entity can reach a file or a host
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
    dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    val va = doc.getDocumentElement // <VariationArchive>

    // F3: record-status / species sanity. The reference WARNS and keeps
    // processing (Parser.java:449-457); the relational analog of its
    // warn log is a named counter. RecordStatus/Species precede
    // ClassifiedRecord in the stream, so the reference warns even for
    // records later skipped — these counters ride on skip results too.
    val f3 = scala.collection.mutable.Map[String, Long]()
    firstChild(va, "RecordStatus").map(text).filter(_ != "current")
      .foreach(_ => f3("NOT_CURRENT_RECORD") = 1L)
    firstChild(va, "Species").map(text).filter(_ != "Homo sapiens")
      .foreach(_ => f3("INVALID_SPECIES") = 1L)

    val classified = firstChild(va, "ClassifiedRecord").getOrElse {
      return ParseResult(ParseResult.NoSimpleAllele, None, f3.toMap)
    }

    // skip logic (Parser.java:66-94): >1 SimpleAllele, Genotype, Haplotype
    val simpleAlleles = children(classified, "SimpleAllele")
    if (simpleAlleles.size > 1)
      return ParseResult(ParseResult.MultiAlleleSkipped, None, f3.toMap)
    if (simpleAlleles.isEmpty) {
      if (children(classified, "Genotype").nonEmpty)
        return ParseResult(ParseResult.GenotypeSkipped, None, f3.toMap)
      if (children(classified, "Haplotype").nonEmpty)
        return ParseResult(ParseResult.HaplotypeSkipped, None, f3.toMap)
      return ParseResult(ParseResult.NoSimpleAllele, None, f3.toMap)
    }
    val sa = simpleAlleles.head
    val alleleId = attr(sa, "AlleleID")
    val variationId = attr(sa, "VariationID")
    val acc = new Acc

    // first RCVList/RCVAccession = legacy clinVarId (Parser.java:107-120)
    val clinVarId = firstChild(classified, "RCVList")
      .flatMap(firstChild(_, "RCVAccession"))
      .map(attr(_, "Accession"))
      .getOrElse("")
    if (clinVarId.nonEmpty) acc.addXdb(52, clinVarId)

    val name = firstChild(sa, "Name").map(text).getOrElse("")
    val objectType = firstChild(sa, "VariantType").map(text(_).toLowerCase).getOrElse("")
    val altName = firstChild(sa, "OtherNameList")
      .flatMap(firstChild(_, "Name")).map(text).getOrElse("")

    // genes -> associations + NCBI(3)/HGNC(21)-style xrefs (Parser.java:142-154)
    val genes = firstChild(sa, "GeneList").toSeq.flatMap(childElements).map { g =>
      val geneId = attr(g, "GeneID")
      acc.addXdb(XdbKeys.NcbiGene, geneId)
      acc.addXdb(XdbKeys.Hgnc, attr(g, "HGNC_ID"))
      GeneAssoc(geneId, attr(g, "Symbol"))
    }

    // locations: cyto + per-assembly sequence positions + VCF alleles
    // (Parser.java:156-184; MapPositions.addPos/addCytoPos)
    var refNuc = ""
    var varNuc = ""
    val mapPositions = mutable.ArrayBuffer[MapPosRec]()
    firstChild(sa, "Location").foreach { loc =>
      children(loc, "CytogeneticLocation").foreach { cy =>
        mapPositions += MapPosRec("", "", None, None, text(cy))
      }
      children(loc, "SequenceLocation").foreach { sl =>
        val start = optAttr(sl, "start").flatMap(_.toLongOption)
        val stop = optAttr(sl, "stop").flatMap(_.toLongOption)
        // swap-normalize start<=stop (MapPositions.java:39-47, X10)
        val (s1, s2) = (start, stop) match {
          case (Some(a), Some(b)) if a > b => (Some(b), Some(a))
          case other => other
        }
        mapPositions += MapPosRec(attr(sl, "Assembly"), attr(sl, "Chr"), s1, s2, "")
        optAttr(sl, "referenceAlleleVCF").foreach(refNuc = _)
        optAttr(sl, "alternateAlleleVCF").foreach(varNuc = _)
      }
    }

    // HGVS list: type canonicalization (X4), expressions, molecular
    // consequence + first SO id (Parser.java:186-231)
    var molecularConsequence = ""
    var soAccIdFromXml = ""
    val hgvsNames = mutable.ArrayBuffer[HgvsRec]()
    firstChild(sa, "HGVSlist").toSeq.flatMap(childElements).foreach { h =>
      val typeAttr = attr(h, "Type")
      if (typeAttr.nonEmpty) {
        val hgvsType = typeAttr.replace(", ", "_").replace(" ", "").toLowerCase.replace("hgvs_", "")
        Seq("NucleotideExpression", "ProteinExpression").foreach { kind =>
          firstChild(h, kind).flatMap(firstChild(_, "Expression")).map(text).foreach { v =>
            // F9: names longer than 4000 chars are dropped with a counter
            // (HgvsNames.addIncomingHgvsName, HgvsNames.java:24-29)
            if (v.length > 4000) acc.bump("HGVS_NAME_SKIPPED_LONGER_THAN_4000")
            else if (v.nonEmpty) hgvsNames += HgvsRec(hgvsType, v)
            // addRefSeqXref intentionally disabled (Parser.java:591)
          }
        }
        firstChild(h, "MolecularConsequence").foreach { mc =>
          val cons = attr(mc, "Type")
          if (cons.nonEmpty) molecularConsequence = cons
          val so = attr(mc, "ID")
          if (soAccIdFromXml.isEmpty && so.startsWith("SO:")) soAccIdFromXml = so
        }
      }
    }

    // xrefs on the allele (Parser.java:234-237)
    firstChild(sa, "XRefList").foreach(parseXRefs(_, acc))

    // per-RCV conditions; all RCV accessions become xdb 52 (Parser.java:239-263)
    var classifiedCondition: String = null
    children(classified, "RCVList").foreach { rcvList =>
      children(rcvList, "RCVAccession").foreach { rcv =>
        acc.addXdb(52, attr(rcv, "Accession"))
        childElements(rcv).filter(_.getTagName.endsWith("ConditionList")).foreach { cl =>
          childElements(cl).foreach { cond =>
            if (classifiedCondition == null) classifiedCondition = text(cond)
          }
        }
      }
    }

    // aggregate Classifications: per-type counters + trait xrefs
    // (Parser.java:266-284: CLASSIFICATION_AGGREGATE_<type>)
    firstChild(classified, "Classifications").toSeq.flatMap(childElements).foreach { cls =>
      acc.bump("CLASSIFICATION_AGGREGATE_" + cls.getTagName)
      firstChild(cls, "ConditionList").foreach { cl =>
        children(cl, "TraitSet").flatMap(children(_, "Trait")).foreach(parseXRefs(_, acc))
      }
    }

    // ClinicalAssertion loop (Parser.java:286-403)
    children(classified, "ClinicalAssertionList")
      .flatMap(children(_, "ClinicalAssertion")).foreach { ca =>
        childElements(ca).foreach { el =>
          el.getTagName match {
            case "ClinVarAccession" =>
              acc.mergeSubmitter(attr(el, "OrgAbbreviation"))
              acc.mergeSubmitter(attr(el, "SubmitterName"))
            case "AdditionalSubmitters" =>
              children(el, "SubmitterDescription")
                .foreach(s => acc.mergeSubmitter(attr(s, "SubmitterName")))
            case "Classification" =>
              val d = attr(el, "DateLastEvaluated")
              if (d.nonEmpty) acc.dateLastEvaluated = d
              childElements(el).foreach { el2 =>
                el2.getTagName match {
                  case "ReviewStatus" => acc.mergeReview(text(el2).toLowerCase)
                  case "GermlineClassification" | "NoClassification" |
                      "OncogenicityClassification" =>
                    acc.bump("CLASSIFICATION_PER_SUBMISSION_" + el2.getTagName)
                    acc.mergeCS(text(el2).toLowerCase)
                  case "SomaticClinicalImpact" =>
                    acc.bump("CLASSIFICATION_PER_SUBMISSION_SomaticClinicalImpact")
                    acc.mergeCS("somatic clinical impact: " + text(el2).toLowerCase)
                  case "Citation" => parseCitation(el2, acc)
                  case _ => // Comment/ExplanationOfClassification etc. skipped
                }
              }
            case "AttributeSet" =>
              children(el, "Citation").foreach(parseCitation(_, acc))
            case "ObservedInList" =>
              childElements(el).foreach { oi =>
                firstChild(oi, "Method").flatMap(firstChild(_, "MethodType"))
                  .foreach(mt => acc.mergeMethod(text(mt).toLowerCase))
              }
            case "Comment" => acc.mergeNotes(text(el))
            case "TraitSet" =>
              children(el, "Trait").foreach(parseXRefs(_, acc))
            case _ => // ignored / unhandled counters in the reference
          }
        }
      }

    // TraitMappingList -> preferred trait + MedGen xrefs + aliases
    // (Parser.java:405-429)
    var preferredTrait: String = null
    firstChild(classified, "TraitMappingList").toSeq.flatMap(childElements).foreach { tm =>
      if (attr(tm, "MappingRef") == "Preferred") preferredTrait = attr(tm, "MappingValue")
      children(tm, "MedGen").foreach { mg =>
        val cui = attr(mg, "CUI")
        if (cui.nonEmpty && cui != "None") acc.addXdb(54, cui)
        acc.addAlias(attr(mg, "Name"), clinVarId, classifiedCondition)
      }
    }

    // trait-name resolution + [RCV] suffix (Parser.java:431-447, X15)
    if (preferredTrait == null) preferredTrait = classifiedCondition
    val traitName =
      if (preferredTrait == null) ""
      else if (clinVarId.isEmpty) preferredTrait
      else s"$preferredTrait [$clinVarId]"

    val soAccId = inferSoAccId(soAccIdFromXml, objectType, molecularConsequence, altName)

    val rec = VcvRecord(
      symbol = "CV" + alleleId,
      variationId = variationId,
      rcvAcc = clinVarId,
      name = name,
      objectType = objectType,
      altName = altName,
      traitName = traitName,
      clinicalSignificance = acc.clinicalSignificance,
      reviewStatus = acc.reviewStatus,
      methodType = acc.methodType,
      submitter = acc.submitter,
      notes = acc.notes,
      molecularConsequence = molecularConsequence,
      soAccId = soAccId,
      refNuc = refNuc,
      varNuc = varNuc,
      dateLastEvaluated = acc.dateLastEvaluated,
      genes = genes,
      xdbIds = acc.xdbIds.toSeq.map { case (k, a) => XdbIdRec(k, a, clinVarId) },
      mapPositions = mapPositions.toSeq,
      hgvsNames = hgvsNames.toSeq,
      aliases = acc.aliases.toSeq)
    ParseResult(ParseResult.Ok, Some(rec), f3.toMap ++ acc.counters.toMap)
  }

  /** The explicit xref ignore list (Parser.java:567-578). */
  private val IgnoredXrefDbs: Set[String] = Set(
    "ADAM", "BRCA1-HCI",
    "Breast Cancer Information Core (BIC) (BRCA1)",
    "Breast Cancer Information Core (BIC) (BRCA2)",
    "ClinGen", "ClinPGx Clinical Annotation", "ClinVar",
    "dbRBC", "dbVar", "Decipher",
    "GeneReviews", "Genetic Alliance", "GeneTests",
    "Genetic Testing Registry (GTR)",
    "HBVAR", "LOVD 3",
    "MYBPC3 homepage - Leiden Muscular Dystrophy pages",
    "NCBI for submitter", "New Leaf Center",
    "PharmGKB Clinical Annotation", "RettBASE (CDKL5)",
    "Tuberous sclerosis database (TSC1)", "Tuberous sclerosis database (TSC2)",
    "UniProtKB", "UniProtKB/Swiss-Prot", "MESH")

  /** XRef DB routing (Parser.parseXRefs, Parser.java:485-585; F8/X5-X7):
    * descend into Name children; route by DB with the submitter-lab
    * ignore heuristics and the explicit ignore list.
    */
  private def parseXRefs(el: Element, acc: Acc): Unit = {
    children(el, "Name").foreach(parseXRefs(_, acc))
    children(el, "XRef").foreach { x =>
      val db = attr(x, "DB")
      val id = attr(x, "ID")
      val typ = attr(x, "Type")
      if (db.nonEmpty && id.nonEmpty &&
        !(db.contains(", ") || db.startsWith("Leiden Muscular Dystrophy (") ||
          db.contains(" @ LOVD") || db.startsWith("GenomeConnect"))) {
        db match {
          case "OMIM" =>
            if (id.contains(".")) { // OMIM allele id (X5)
              acc.addXdb(53, id)
              acc.addXdb(6, id.substring(0, id.indexOf('.')))
            } else acc.addXdb(6, id)
          case "OMIM phenotypic series" => acc.addXdb(66, "MIM:" + id)
          case "dbSNP" =>
            if (typ == "rs") acc.addXdb(48, id)
            else acc.bump("UNKNOWN_DBSNP_TYPE_" + typ)
          case "MedGen" => acc.addXdb(54, id)
          case "MONDO" => acc.addXdb(145, id)
          case "MeSH" | "MSH" => acc.addXdb(47, id)
          case "HP" | "HPO" | "Human Phenotype Ontology" => acc.addXdb(166, id)
          case "EFO" | "EFO: The Experimental Factor Ontology" => acc.addXdb(93, id)
          case "NCI" => acc.addXdb(74, id)
          case "Gene" => acc.addXdb(XdbKeys.NcbiGene, id)
          case "COSMIC" => acc.addXdb(45, id)
          case "Orphanet" => // strip ORPHA prefix (X6)
            acc.addXdb(62, if (id.startsWith("ORPHA")) id.substring(5) else id)
          case "SNOMED CT" => acc.addXdb(55, id)
          case db2 if IgnoredXrefDbs.contains(db2) => // intentionally ignored
          case db2 => acc.bump("UNKNOWN_XREF_DB_" + db2)
        }
      }
    }
  }

  /** PubMed citations -> xdb 11, digits only (Parser.parseCitation:475-483). */
  private def parseCitation(citation: Element, acc: Acc): Unit =
    children(citation, "ID").foreach { idEl =>
      if (attr(idEl, "Source") == "PubMed") {
        val digits = text(idEl).replaceAll("\\D", "")
        if (digits.nonEmpty) acc.addXdb(XdbKeys.PubMed, digits)
      }
    }

  /** SO accession inference (Parser.handleSoAccId, Parser.java:610-702;
    * X11): explicit XML id wins (obsolete SO:1000064 treated as absent),
    * else the 15-case variant-type switch with the `variation` special
    * case on molecular consequence / alt-name.
    */
  private[ingest] def inferSoAccId(
      fromXml: String,
      objectType: String,
      molecularConsequence: String,
      altName: String): String = {
    val xmlId = if (fromXml == "SO:1000064") "" else fromXml
    if (xmlId.nonEmpty) return xmlId
    objectType match {
      case "deletion" => "SO:0000159"
      case "duplication" => "SO:1000035"
      case "insertion" => "SO:0000667"
      case "indel" => "SO:1000032"
      case "single nucleotide variant" => "SO:0001483"
      case "copy number gain" => "SO:0001742"
      case "copy number loss" => "SO:0001743"
      case "inversion" => "SO:1000036"
      case "microsatellite" => "SO:0000289"
      case "structural variant" => "SO:0001537"
      case "fusion" => "SO:0000806"
      case "translocation" => "SO:0000199"
      case "complex" => "SO:0001784"
      case "tandem duplication" => "SO:1000173"
      case "variation" =>
        molecularConsequence.replace('_', ' ') match {
          case "synonymous variant" => "SO:0001819"
          case "missense variant" => "SO:0001583"
          case "exon loss" => "SO:0001572"
          case "" =>
            val an = altName.toLowerCase
            if (an.contains("duplication") && an.contains("exon")) "SO:1000035"
            else "SO:0001059" // sequence alteration
          case _ => "" // unknown variation (warned in the reference)
        }
      case "protein only" => "SO:0001816"
      case _ => ""
    }
  }
}

/** External-DB key constants observed in the reference (XdbIds.java,
  * Parser.parseXRefs).
  */
object XdbKeys {
  val NcbiGene = 3
  val Omim = 6
  val PubMed = 11
  val Hgnc = 21
  val Cosmic = 45
  val Mesh = 47
  val DbSnp = 48
  val ClinVar = 52
  val OmimAllele = 53
  val MedGen = 54
  val SnomedCt = 55
  val Orphanet = 62
  val OmimPs = 66
  val Nci = 74
  val Efo = 93
  val Mondo = 145
  val Hpo = 166
}
