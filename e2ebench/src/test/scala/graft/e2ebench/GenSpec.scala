package graft.e2ebench

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {
  import Gen._

  private def tmp(): Path = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "gen-")
  }

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  test("one seed gives byte-identical files, another seed other files") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      val ia = generate(a.toString, 7L, 0.03, uploadMax = 3000)
      val ib = generate(b.toString, 7L, 0.03, uploadMax = 3000)
      generate(c.toString, 8L, 0.03, uploadMax = 3000)
      val (ca, cb, cc) = (contents(a), contents(b), contents(c))
      assert(ca.keySet.size >= 5 + ia.uploads.length)
      assert(ca == cb)
      assert(ia.requests == ib.requests && ia.expected == ib.expected)
      assert(ca("pchic.tsv") != cc("pchic.tsv"))
    } finally Seq(a, b, c).foreach(Workloads.deleteTree)
  }

  test("planted cases appear in the written PCHiC file as counted") {
    val d = tmp()
    try {
      val in = generate(d.toString, 3L, 0.05, nUploads = 0)
      val (_, planted) = model(3L, 0.05)
      val rows = Files.readAllLines(Paths.get(in.pchic)).asScala.tail.map(_.split("\t", -1))
      assert(rows.length == in.expected.rawRows)
      assert(rows.forall(_.length == 14))
      assert(rows.count(r => r(11) == "5.00") == planted.atThreshold)
      assert(rows.count(r => r(0) == "MT" || r(5) == "MT") == planted.mt)
      assert(rows.count(r => r(0) == r(5) && r(1) == r(6)) >= planted.selfLoops)
      assert(Seq(planted.subThreshold, planted.atThreshold, planted.mt,
        planted.duplicates, planted.selfLoops).forall(_ > 0))
      // the gene-name forms the build normalizes
      val names = rows.map(_(4))
      assert(names.exists(_.contains(";")) && names.exists(_.matches(".*-\\d+")) &&
        names.contains("."))
    } finally Workloads.deleteTree(d)
  }

  test("expected counts follow the build's filter and simplify rules") {
    val Seq(a, b, c, d, e) = (1 to 5).map(Fragment("1", _))
    val rows = Seq(
      Row(a, b, "6.00"),
      Row(b, a, "5.50"),               // reversed duplicate, lower score wins
      Row(a, c, "5.00"),               // on the threshold: dropped
      Row(a, a, "7.00"),               // self-loop: no edge, a still a vertex
      Row(Fragment("MT", 1), b, "9.00"), // MT: dropped
      Row(d, e, "4.00"),               // below the threshold
      Row(b, d, "9.00"),
      Row(d, b, "6.00"))               // lower score than b-d: d becomes the source
    val x = expected(rows)
    assert(x.rawRows == 8)
    assert(x.nodes == 3)      // a, b, d
    assert(x.promoters == 3)  // a, b, d appear as baits
    assert(x.edges == 2)      // b-a, d-b
    assert(x.ppEdges == 1)    // d-b: b is a source; b-a: a is not
  }

  test("the request sequence covers every dispatch form in the planned order") {
    val d = tmp()
    try {
      val rs = generate(d.toString, 5L, 0.05, nUploads = 0).requests
      assert(rs.length == SearchOrder.length)
      val keys = SearchOrder.distinct.sorted.map(i => rs(SearchOrder.indexOf(i)))
      assert(keys.map(_.key).distinct.length == SearchForms.length)
      assert(rs == SearchOrder.map(keys))
      val qs = keys.map(_.query)
      assert(qs.exists(_.matches(graft.core.Search.FragmentIdRe)))
      assert(qs.exists(_.toLowerCase.matches(graft.core.Search.EnsemblRe)))
      assert(qs.exists(_.matches(graft.core.Search.RangeRe)))
      assert(qs.exists(_.contains(",")))
      val none = noMatchRequest(rs).query
      assert(none.startsWith("Nohit") || none.startsWith("1_") || none.startsWith("ENSMUSG9"))
      assert(rs.forall(r => Request.parse(r.key) == r))
    } finally Workloads.deleteTree(d)
  }
}
