package graft

import org.scalatest.funsuite.AnyFunSuite

/** Diag's workload table: names resolve, typos fail fast. No Spark session. */
class DiagSpec extends AnyFunSuite {

  test("an unknown workload throws before any Spark work and lists the valid names") {
    val e = intercept[IllegalArgumentException](Diag.workload("metdata"))
    assert(e.getMessage.contains("metdata"))
    Diag.workloads.foreach(w => assert(e.getMessage.contains(w.name), e.getMessage))
    // through main too: the lookup precedes the session
    intercept[IllegalArgumentException](Diag.main(Array("point", "metdata", "1000", "1", "1")))
    intercept[IllegalArgumentException](Diag.main(Array("scalepoint")))
  }

  test("every workload name the earlier point, stage and scaling mains accepted still resolves") {
    val former = Seq(
      // point workloads (metadata is the default)
      "metadata", "embedding", "knnjoin", "text", "image", "cc", "ccstars", "contamination",
      "contamsparse", "contamsparsebloom", "streaming", "linededup", "spandedup", "imagecanonical",
      "packing", "packingnaive", "packedseq", "splitdocs", "hammingknn", "semdedup", "kmeans",
      "ksexact", "incremental", "exactincr", "bpe", "bpenaive", "pq", "pqbrute", "pqrecall",
      "tokenids", "dsir", "urldedup", "htmltext", "editdist", "bpeapply", "quantiles", "zipf",
      "entropysample", "alignment", "asof", "sessionize", "rolling", "funnel", "rangejoin",
      "zorder", "setsim", "outliers", "setsimdense", "zorderbrute",
      // scaling's validation workloads (its others, and the stage workloads, are above)
      "rowchecks", "full", "salted")
    former.foreach(name => assert(Diag.workload(name).name == name))
    assert(Diag.workloads.map(_.name).distinct.size == Diag.workloads.size, "duplicate workload name")
  }
}
