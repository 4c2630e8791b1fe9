package graft.ingest

/** The reference's only test harness is DryRun (DryRun.java:20-141): a
  * stub-DB parse over real chunks that reports WHICH FIELDS the parser
  * populated — a coverage smoke for parser completeness. This spec is
  * its fixture-based analog: every extractable field group must be
  * populated by at least one fixture record, so a parser regression
  * that silently stops filling a field fails here.
  */
class ParserCoverageSpec extends graft.SparkSpec {

  private lazy val records = {
    val xml = java.nio.file.Files.readString(
      java.nio.file.Paths.get(graft.SparkEntry.fixturePath("data/fixtures/vcv_sample.xml")))
    xml.split("(?=<VariationArchive)").toSeq
      .filter(_.startsWith("<VariationArchive"))
      .map(frag => VcvParser.parse(
        frag.substring(0, frag.lastIndexOf("</VariationArchive>") + "</VariationArchive>".length)))
  }

  test("every VcvRecord field group is populated by some fixture record (DryRun coverage)") {
    val recs = records.flatMap(_.record)
    assert(recs.nonEmpty)
    val coverage: Seq[(String, Boolean)] = Seq(
      "symbol" -> recs.exists(_.symbol.nonEmpty),
      "variationId" -> recs.exists(_.variationId.nonEmpty),
      "rcvAcc" -> recs.exists(_.rcvAcc.nonEmpty),
      "name" -> recs.exists(_.name.nonEmpty),
      "objectType" -> recs.exists(_.objectType.nonEmpty),
      "altName" -> recs.exists(_.altName.nonEmpty),
      "traitName" -> recs.exists(_.traitName.nonEmpty),
      "clinicalSignificance" -> recs.exists(_.clinicalSignificance.nonEmpty),
      "reviewStatus" -> recs.exists(_.reviewStatus.nonEmpty),
      "methodType" -> recs.exists(_.methodType.nonEmpty),
      "submitter" -> recs.exists(_.submitter.nonEmpty),
      "notes" -> recs.exists(_.notes.nonEmpty),
      "molecularConsequence" -> recs.exists(_.molecularConsequence.nonEmpty),
      "soAccId" -> recs.exists(_.soAccId.nonEmpty),
      "refNuc" -> recs.exists(_.refNuc.nonEmpty),
      "varNuc" -> recs.exists(_.varNuc.nonEmpty),
      "dateLastEvaluated" -> recs.exists(_.dateLastEvaluated.nonEmpty),
      "genes" -> recs.exists(_.genes.nonEmpty),
      "xdbIds" -> recs.exists(_.xdbIds.nonEmpty),
      "mapPositions" -> recs.exists(_.mapPositions.nonEmpty),
      "hgvsNames" -> recs.exists(_.hgvsNames.nonEmpty),
      "aliases" -> recs.exists(_.aliases.nonEmpty))
    val missing = coverage.collect { case (f, false) => f }
    assert(missing.isEmpty, s"parser never populated: ${missing.mkString(", ")}")
  }

  test("haplotype records are skipped with their own counter (F2)") {
    val haplo =
      """<VariationArchive VariationID="300" VariationType="Haplotype">
        |  <ClassifiedRecord>
        |    <Haplotype VariationID="300">
        |      <SimpleAllele AlleleID="301"><Name>a</Name></SimpleAllele>
        |      <SimpleAllele AlleleID="302"><Name>b</Name></SimpleAllele>
        |    </Haplotype>
        |  </ClassifiedRecord>
        |</VariationArchive>""".stripMargin
    assert(VcvParser.parse(haplo).status === ParseResult.HaplotypeSkipped)
  }

  test("F9: HGVS name longer than 4000 chars is dropped with its counter") {
    val big = "N" * 4001
    val xml =
      s"""<VariationArchive VariationID="400" VariationType="Deletion">
         |  <ClassifiedRecord>
         |    <SimpleAllele AlleleID="401" VariationID="400">
         |      <Name>v</Name>
         |      <HGVSlist>
         |        <HGVS Type="coding">
         |          <NucleotideExpression><Expression>$big</Expression></NucleotideExpression>
         |        </HGVS>
         |        <HGVS Type="coding">
         |          <NucleotideExpression><Expression>NM_1:c.1A&gt;G</Expression></NucleotideExpression>
         |        </HGVS>
         |      </HGVSlist>
         |    </SimpleAllele>
         |  </ClassifiedRecord>
         |</VariationArchive>""".stripMargin
    val res = VcvParser.parse(xml)
    assert(res.status === ParseResult.Ok)
    assert(res.record.get.hgvsNames.map(_.name) === Seq("NM_1:c.1A>G"))
    assert(res.counters("HGVS_NAME_SKIPPED_LONGER_THAN_4000") === 1L)
  }

  test("a DOCTYPE with an external entity is a PARSE_ERROR and reads nothing") {
    val secret = java.nio.file.Files.createTempFile("xxe", ".txt")
    secret.toFile.deleteOnExit()
    val marker = "XXE-MARKER-7f3a"
    java.nio.file.Files.writeString(secret, marker)
    val xml =
      s"""<?xml version="1.0"?>
         |<!DOCTYPE VariationArchive [<!ENTITY leak SYSTEM "${secret.toUri}">]>
         |<VariationArchive VariationID="1">
         |  <ClassifiedRecord>
         |    <SimpleAllele AlleleID="1" VariationID="1"><Name>&leak;</Name></SimpleAllele>
         |  </ClassifiedRecord>
         |</VariationArchive>""".stripMargin
    val res = VcvParser.parse(xml)
    assert(res.status === ParseResult.ParseError)
    assert(!res.toString.contains(marker))
  }

  test("record with no ClassifiedRecord / no allele reports NO_SIMPLE_ALLELE") {
    assert(VcvParser.parse("<VariationArchive VariationID=\"1\"/>").status
      === ParseResult.NoSimpleAllele)
    assert(VcvParser.parse(
      "<VariationArchive><ClassifiedRecord/></VariationArchive>").status
      === ParseResult.NoSimpleAllele)
  }
}
