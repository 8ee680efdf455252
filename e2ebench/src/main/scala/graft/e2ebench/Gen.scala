package graft.e2ebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator for the end-to-end benchmark. Plain Scala, no
  * Spark: the same (seed, scale) writes byte-identical files.
  *
  * Genome model: mouse chromosomes 1-19, X, Y on a fixed HindIII-like
  * fragment grid (fragment i of a chromosome spans
  * [3 Mb + 5 kb·i, +2.5..4.5 kb)). Baited fragments (promoters) carry
  * gene names; every interaction row starts at a bait. Bait degrees are
  * Pareto-distributed, plus six planted hub genes of fixed degree that
  * own hundreds of edges and set the large-subnet tail of interactive
  * search.
  *
  * At `scale = 1` the post-filter graph is near the reference's Mouse
  * ESC dataset: ~72 k edges, ~56 k vertices, ~21 k P-P edges. Planted
  * rows cover every filter of the build: scores at and below the 5.0
  * threshold, MT rows, duplicate and reversed pairs and self-loops.
  */
object Gen {

  val Chromosomes: Vector[String] = (1 to 19).map(_.toString).toVector :+ "X" :+ "Y"
  private val ChrWeight: Vector[Double] =
    (1 to 19).map(i => 200.0 - 5.0 * i).toVector :+ 170.0 :+ 20.0
  val Threshold = 5.0
  val FeatureCols: Vector[String] =
    Vector("EZH2", "SUZ12", "H3K27me3", "H3K4me3", "CTCF", "RAD21", "H3K27ac", "RNAPII")
  private val Prefixes = Vector("Hox", "Sox", "Pax", "Klf", "Zfp", "Gata", "Tbx",
    "Foxa", "Nkx", "Lhx", "Irx", "Dlx", "Wnt", "Fgf", "Bmp", "Cdh", "Slc", "Tmem",
    "Ccdc", "Fam", "Rps", "Rpl", "Ptpr", "Kcn", "Atp", "Ube", "Usp", "Ppp", "Rab",
    "Arhgef")

  /** One interactive request; `key` is the memo key the benchmark sends. */
  final case class Request(query: String, expand: Long, nearest: Boolean) {
    def key: String = s"$query|$expand|$nearest"
  }
  object Request {
    def parse(key: String): Request = {
      val p = key.split("\\|", -1)
      Request(p(0), p(1).toLong, p(2).toBoolean)
    }
  }

  /** One uploaded feature file and the options it is merged with;
    * `features` are the feature names the file holds. */
  final case class Upload(path: String, option: String, auxfun: String,
                          proportion: Boolean, featureName: String,
                          features: Seq[String])

  /** Expected build counts, derived without Spark. */
  final case class Expected(nodes: Long, edges: Long, promoters: Long,
                            ppEdges: Long, rawRows: Long)

  final case class Inputs(dir: String, pchic: String, alias: String,
                          baitNames: String, intronic: String,
                          features: String, expected: Expected,
                          requests: Vector[Request], uploads: Vector[Upload])

  final case class Fragment(chr: String, idx: Int) {
    val start: Long = 3000000L + 5000L * idx
    val end: Long = start + 2500L + (idx * 7919L) % 2000L
    def id: String = s"${chr}_${start}_$end"
  }

  /** One raw PCHiC row as generated (score kept as its printed text so
    * the expected counts see exactly the value Spark parses). */
  final case class Row(bait: Fragment, oe: Fragment, score: String) {
    def scoreValue: Double = score.toDouble
  }

  private final case class Bait(frag: Fragment, gene: String, rawName: String,
                                annotated: Option[String], degree: Int)

  /** Degrees of the planted hubs, as shares of the hub cap. */
  private val HubShares = Vector(1.0, 0.85, 0.7, 0.6, 0.5, 0.4)

  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def fmt2(d: Double): String = String.format(Locale.ROOT, "%.2f", d)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Planted-case counters the tests check against the written file. */
  final case class Planted(subThreshold: Int, atThreshold: Int, mt: Int,
                           duplicates: Int, selfLoops: Int)

  private final case class Genome(baits: Vector[Bait],
                                  fragsPerChr: Map[String, Int],
                                  extraGenes: Vector[(Fragment, String)])

  private def genome(seed: Long, scale: Double): Genome = {
    val r = rng(seed, 1)
    val nBaits = math.max(40, math.round(16000 * scale).toInt)
    val wSum = ChrWeight.sum
    val perChr = Chromosomes.indices.map { i =>
      Chromosomes(i) -> math.max(2, math.round(nBaits * ChrWeight(i) / wSum).toInt)
    }
    val fragsPerChr = perChr.map { case (c, n) => c -> n * 14 }.toMap
    val baitIdxByChr = perChr.map { case (c, n) =>
      val f = fragsPerChr(c)
      val s = mutable.TreeSet.empty[Int]
      while (s.size < n) s += 1 + r.nextInt(f - 2)
      c -> s.toVector
    }.toMap
    var geneNo = 0
    def nextGene(): String = {
      val g = s"${Prefixes(geneNo % Prefixes.length)}${geneNo / Prefixes.length + 1}"
      geneNo += 1; g
    }
    val hubCap = math.max(30, math.round(900 * math.sqrt(scale)).toInt)
    val baits = Chromosomes.flatMap { c =>
      var prevGene = ""
      baitIdxByChr(c).map { idx =>
        // Hoxa-style: neighbouring promoters sometimes share a gene name
        val gene = if (prevGene.nonEmpty && r.nextDouble() < 0.08) prevGene else nextGene()
        prevGene = gene
        val u = r.nextDouble()
        val rawName =
          if (u < 0.60) gene
          else if (u < 0.75) s"$gene;${nextGene()}"
          else if (u < 0.85) s"$gene-${201 + r.nextInt(3)}"
          else "."
        val annotated =
          if (r.nextDouble() < 0.75) Some(s"$gene,$gene-201") else None
        val pareto = 1.7 * math.pow(1.0 - r.nextDouble(), -1.0 / 1.6)
        Bait(Fragment(c, idx), gene, rawName, annotated,
          math.min(hubCap * 3 / 10, math.max(1, pareto.toInt)))
      }
    }
    // six planted hub genes with fixed degrees: the largest subnets (and
    // so the search tail) have the same size under every seed
    val geneCount = baits.groupBy(_.gene).view.mapValues(_.length).toMap
    val hubIdx = mutable.LinkedHashSet.empty[Int]
    while (hubIdx.size < HubShares.length) {
      val i = r.nextInt(baits.length)
      if (geneCount(baits(i).gene) == 1 && !hubIdx.exists(j => baits(j).gene == baits(i).gene))
        hubIdx += i
    }
    val hubDegree = hubIdx.toVector.zip(HubShares)
      .map { case (i, share) => i -> math.max(2, (hubCap * share).toInt) }.toMap
    val planted = baits.indices.map(i =>
      hubDegree.get(i).fold(baits(i))(d => baits(i).copy(degree = d))).toVector
    // genes with no baited promoter: their ranges only annotate other ends
    val extra = (0 until math.max(4, nBaits / 10)).map { _ =>
      val c = pick(r, Chromosomes)
      (Fragment(c, r.nextInt(fragsPerChr(c))), nextGene())
    }.toVector
    Genome(planted, fragsPerChr, extra)
  }

  private def interactions(seed: Long, g: Genome): (Vector[Row], Planted) = {
    val r = rng(seed, 2)
    val baitsByChr = g.baits.groupBy(_.frag.chr)
    val rankOnChr = baitsByChr.valuesIterator
      .flatMap(_.iterator.zipWithIndex.map { case (b, i) => b.frag -> i }).toMap
    def score(): String = fmt2(5.01 + (-math.log(1.0 - r.nextDouble()) * 4.0))
    def oeFor(b: Bait): Fragment = {
      val c = b.frag.chr
      val u = r.nextDouble()
      if (u < 0.30) {
        // promoter-promoter: a nearby bait on the same chromosome, or a
        // random bait anywhere (trans)
        if (r.nextDouble() < 0.85) {
          val same = baitsByChr(c)
          val i = rankOnChr(b.frag)
          val j = math.min(same.length - 1, math.max(0, i + r.nextInt(51) - 25))
          same(j).frag
        } else pick(r, g.baits).frag
      } else if (u < 0.95) {
        val span = 25.0 + b.degree / 4.0
        val off = 1 + (-math.log(1.0 - r.nextDouble()) * span).toInt
        val idx = b.frag.idx + (if (r.nextBoolean()) off else -off)
        Fragment(c, math.min(g.fragsPerChr(c) - 1, math.max(0, idx)))
      } else {
        val c2 = pick(r, Chromosomes)
        Fragment(c2, r.nextInt(g.fragsPerChr(c2)))
      }
    }
    val rows = Vector.newBuilder[Row]
    var sub, at, mt, dup, self = 0
    val passing = mutable.ArrayBuffer.empty[Row]
    for (b <- g.baits; _ <- 0 until b.degree) {
      val row = Row(b.frag, oeFor(b), score())
      rows += row; passing += row
      val u = r.nextDouble()
      if (u < 0.18) {
        // below the threshold; one in ten sits exactly on it (the filter
        // is strict: score > 5.0)
        val s = if (r.nextDouble() < 0.1) { at += 1; "5.00" }
                else fmt2(r.nextDouble() * 4.99)
        rows += Row(b.frag, oeFor(b), s); sub += 1
      } else if (u < 0.184) {
        val m = Fragment("MT", r.nextInt(8))
        rows += (if (r.nextBoolean()) Row(m, row.oe, score()) else Row(b.frag, m, score()))
        mt += 1
      } else if (u < 0.214 && passing.nonEmpty) {
        // an earlier pair again, same or reversed orientation
        val p = passing(r.nextInt(passing.length))
        rows += (if (r.nextBoolean()) Row(p.bait, p.oe, score()) else Row(p.oe, p.bait, score()))
        dup += 1
      } else if (u < 0.219) {
        rows += Row(b.frag, b.frag, score()); self += 1
      }
    }
    // file order is unrelated to bait order
    val all = rows.result().toArray
    var i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t; i -= 1
    }
    (all.toVector, Planted(sub, at, mt, dup, self))
  }

  /** The generated raw rows and planted-case counts (no files). */
  def model(seed: Long, scale: Double): (Vector[Row], Planted) =
    interactions(seed, genome(seed, scale))

  /** Expected post-filter counts, mirroring the build's semantics in
    * plain Scala: strict score threshold, MT drop on either side,
    * vertices over every kept row, self-loops and duplicate undirected
    * pairs dropped with the first row by (score, src, dst) kept, and an
    * edge typed P-P when its target is the source of a kept edge. */
  def expected(rows: Seq[Row]): Expected = {
    val kept = rows.filter(r => r.scoreValue > Threshold &&
      !r.bait.chr.contains("MT") && !r.oe.chr.contains("MT"))
    val nodes = mutable.HashSet.empty[String]
    val promoters = mutable.HashSet.empty[String]
    kept.foreach { r => nodes += r.bait.id; nodes += r.oe.id; promoters += r.bait.id }
    val first = mutable.HashMap.empty[(String, String), (Double, String, String)]
    kept.foreach { r =>
      val (s, d) = (r.bait.id, r.oe.id)
      if (s != d) {
        val k = if (s < d) (s, d) else (d, s)
        val cand = (r.scoreValue, s, d)
        first.get(k) match {
          case Some(cur) if !less(cand, cur) =>
          case _ => first(k) = cand
        }
      }
    }
    val srcs = first.valuesIterator.map(_._2).toSet
    val pp = first.valuesIterator.count(e => srcs.contains(e._3))
    Expected(nodes.size.toLong, first.size.toLong, promoters.size.toLong,
      pp.toLong, rows.length.toLong)
  }

  private def less(a: (Double, String, String), b: (Double, String, String)): Boolean =
    if (a._1 != b._1) a._1 < b._1
    else if (a._2 != b._2) a._2 < b._2
    else a._3 < b._3

  // ---------------------------------------------------------------------
  // Writing
  // ---------------------------------------------------------------------

  private def write(p: Path)(body: java.io.Writer => Unit): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }

  private def line(w: java.io.Writer, fields: Any*): Unit = {
    w.write(fields.mkString("\t")); w.write('\n')
  }

  /** Write every input of one seed under `dir` and return their paths,
    * the expected counts, the request sequence and the upload plan. */
  def generate(dir: String, seed: Long, scale: Double,
               nUploads: Int = 12,
               uploadMin: Int = 2000, uploadMax: Int = 200000): Inputs = {
    val g = genome(seed, scale)
    val (rows, _) = interactions(seed, g)
    val base = Paths.get(dir)
    val pchic = base.resolve("pchic.tsv")
    val names = g.baits.map(b => b.frag -> b).toMap
    def name(f: Fragment): String = names.get(f).map(_.rawName).getOrElse(".")
    write(pchic) { w =>
      line(w, "baitChr", "baitStart", "baitEnd", "baitID", "baitName", "oeChr",
        "oeStart", "oeEnd", "oeID", "oeName", "dist", "mESC_wt",
        "mESC_Ring1A_KO", "mESC_Ring1A_1B_KO")
      rows.foreach { r =>
        val dist = if (r.bait.chr == r.oe.chr) (r.oe.start - r.bait.start).toString else "NA"
        val h = (r.bait.idx * 31 + r.oe.idx) & 0xff
        line(w, r.bait.chr, r.bait.start, r.bait.end, r.bait.idx, name(r.bait),
          r.oe.chr, r.oe.start, r.oe.end, r.oe.idx, name(r.oe), dist, r.score,
          fmt2(h / 40.0), fmt2((h * 7 % 256) / 40.0))
      }
    }

    // gene annotations: one body per gene (baited genes start at their
    // promoter), one or two alias rows each, MGI cross-references
    val r = rng(seed, 3)
    val geneBodies = mutable.LinkedHashMap.empty[String, (Fragment, Long, Long)]
    (g.baits.map(b => (b.frag, b.gene)) ++ g.extraGenes).foreach { case (f, gene) =>
      if (!geneBodies.contains(gene))
        geneBodies(gene) = (f, f.start - 2000L, f.end + 5000L + r.nextInt(75000))
    }
    val ensembl = geneBodies.keys.zipWithIndex.map { case (gene, i) =>
      gene -> String.format(Locale.ROOT, "ENSMUSG%011d", Long.box(10000L + 7L * i))
    }.toMap
    val alias = base.resolve("alias.tsv")
    write(alias) { w =>
      line(w, "chr", "start", "end", "Ensembl gene ID", "Gene name", "Gene type",
        "Alias", "MGI ID")
      geneBodies.zipWithIndex.foreach { case ((gene, (f, s, e)), i) =>
        val tpe = if (i % 5 == 0) "lncRNA" else "protein_coding"
        line(w, f.chr, s, e, ensembl(gene), gene, tpe, s"${gene}a", s"MGI:${100000 + i}")
        // the alias scrub drops non-ASCII aliases; plant one
        if (i == 3) line(w, f.chr, s, e, ensembl(gene), gene, tpe, "PKCβ", s"MGI:${100000 + i}")
        else if (i % 4 == 0)
          line(w, f.chr, s, e, ensembl(gene), gene, tpe, s"${gene}l${i % 7}", s"MGI:${100000 + i}")
      }
    }
    val baitNames = base.resolve("bait_names.tsv")
    write(baitNames) { w =>
      line(w, "Chr", "Start", "End", "gene_id", "ensembl_id", "region")
      g.baits.foreach { b =>
        b.annotated.foreach { a =>
          line(w, b.frag.chr, b.frag.start, b.frag.end, a, ensembl(b.gene), "promoter")
        }
      }
    }
    val intronic = base.resolve("intronic.tsv")
    write(intronic) { w =>
      line(w, "chr", "start", "end")
      geneBodies.valuesIterator.foreach { case (f, s, e) =>
        if (e - s > 20000) line(w, f.chr, s + 8000, s + 14000)
        if (e - s > 50000) line(w, f.chr, s + 30000, s + 41000)
      }
    }

    // features_on_nodes: most graph fragments plus a few off-graph ones,
    // keyed by the `chr`-prefixed fragment form the loader strips
    val fr = rng(seed, 4)
    val frags = rows.iterator.flatMap(x => Iterator(x.bait, x.oe))
      .filter(_.chr != "MT").distinct.toVector
    val features = base.resolve("features_on_nodes.tsv")
    write(features) { w =>
      line(w, ("fragment" +: FeatureCols): _*)
      val offGraph = (0 until frags.length / 20).map { _ =>
        val c = pick(fr, Chromosomes); Fragment(c, fr.nextInt(g.fragsPerChr(c)))
      }
      (frags.filter(_ => fr.nextDouble() < 0.7) ++ offGraph).foreach { f =>
        val vals = FeatureCols.indices.map { k =>
          if (fr.nextDouble() < 0.55 + 0.04 * k) "0" else fmt2(fr.nextDouble() * 10.0)
        }
        line(w, ("chr" + f.id) +: vals: _*)
      }
    }

    val keptNodes = {
      val kept = rows.filter(x => x.scoreValue > Threshold &&
        !x.bait.chr.contains("MT") && !x.oe.chr.contains("MT"))
      kept.flatMap(x => Seq(x.bait, x.oe)).distinct
    }
    Inputs(dir, pchic.toString, alias.toString, baitNames.toString,
      intronic.toString, features.toString, expected(rows),
      requestSequence(seed, g, keptNodes, ensembl),
      uploadPlan(base.resolve("uploads"), seed, g, nUploads, uploadMin, uploadMax))
  }

  // ---------------------------------------------------------------------
  // Search request sequence
  // ---------------------------------------------------------------------

  /** The distinct keys a search run asks, by form: a gene list (the
    * regex path), the largest hub gene (the name-index path and the
    * largest subnet), a range with `expand` and maybe `nearest`, an
    * Ensembl id, a fragment id, and a key that matches nothing. */
  val SearchForms: Vector[String] = Vector("list", "hub", "range", "ensembl", "fragment", "miss")

  /** The request sequence of a search run, as indices into
    * `SearchForms`. The first request for a key is a memo miss, a repeat
    * is a memo hit: 6 misses and 10 hits, with the hub gene and the gene
    * list repeated most. The forms and the order are fixed; the seed
    * only picks the keys. This mix is an assumption: neither the
    * reference backend nor the GARDEN-NET publications give figures on
    * real traffic. */
  val SearchOrder: Vector[Int] = Vector(0, 1, 0, 2, 1, 3, 0, 4, 1, 5, 2, 1, 0, 3, 1, 4)

  /** The seed's keys, one per form of `SearchForms`, in `SearchOrder`. */
  private def requestSequence(seed: Long, g: Genome, nodes: Vector[Fragment],
                              ensembl: Map[String, String]): Vector[Request] = {
    val r = rng(seed, 5)
    val genes = g.baits.map(_.gene).distinct
    val hub = g.baits.maxBy(b => (b.degree, b.frag.id)).gene
    val keys = SearchForms.map {
      case "hub" => Request(hub, 0L, false)
      case "list" =>
        Request((0 until 2 + r.nextInt(2)).map(_ => pick(r, genes)).mkString(","), 0L, false)
      case "range" =>
        val b = pick(r, g.baits).frag
        val s = b.start - r.nextInt(20000)
        Request(s"${b.chr}:$s-${s + 5000 + r.nextInt(40000)}", 20000L, r.nextBoolean())
      case "ensembl" =>
        val e = ensembl(pick(r, genes))
        Request(if (r.nextBoolean()) e.toLowerCase else e, 0L, false)
      case "fragment" => Request(pick(r, nodes).id, 0L, false)
      case _ => noMatch(r)
    }
    SearchOrder.map(keys)
  }

  /** A key that matches nothing: an unknown gene name, a fragment id off
    * the grid, or an Ensembl id no gene has. */
  private def noMatch(r: SplittableRandom): Request = r.nextInt(3) match {
    case 0 => Request(s"Nohit${r.nextInt(100000)}", 0L, false)
    case 1 => Request(s"1_${1 + r.nextInt(1000)}_${2000 + r.nextInt(1000)}", 0L, false)
    case _ => Request(String.format(Locale.ROOT, "ENSMUSG%011d",
      Long.box(90000000000L + r.nextInt(1000000))), 0L, false)
  }

  /** The request of `SearchOrder` that matches nothing. */
  def noMatchRequest(requests: Vector[Request]): Request =
    requests(SearchOrder.indexOf(SearchForms.indexOf("miss")))

  // ---------------------------------------------------------------------
  // Upload files
  // ---------------------------------------------------------------------

  val UploadFormats: Vector[String] = Vector("bed3", "bed6", "macs2", "chromhmm", "features_table")
  val UploadAggs: Vector[String] = Vector("mean", "min", "max", "proportion")

  /** A seeded sequence of uploads cycling the five formats and the four
    * aggregations; sizes log-uniform in [min, max] intervals, placed
    * densely over the fragment grid. */
  private def uploadPlan(dir: Path, seed: Long, g: Genome, n: Int,
                         minN: Int, maxN: Int): Vector[Upload] = {
    val r = rng(seed, 6)
    (0 until n).map { i =>
      val format = UploadFormats(i % UploadFormats.length)
      val agg = UploadAggs(i % UploadAggs.length)
      val size = math.round(math.exp(math.log(minN) +
        r.nextDouble() * (math.log(maxN) - math.log(minN)))).toInt
      val feature = s"${Vector("CTCF", "H3K4me1", "Nanog", "Oct4", "Pol2S5")(i % 5)}_u$i"
      val (ext, option) = format match {
        case "bed3" => ("bed", "proportion_on_nodes")
        case "bed6" => ("bed", "match_nodes")
        case "macs2" => ("narrowPeak", "proportion_on_nodes")
        case "chromhmm" => ("bed", "chromHMM")
        case _ => ("tsv", "match_nodes")
      }
      val p = dir.resolve(s"$feature.$ext")
      def place(): (String, Long, Long) = {
        val c = pick(r, Chromosomes)
        val s = 3000000L + (r.nextDouble() * g.fragsPerChr(c) * 5000L).toLong
        (c, s, s + 150L + r.nextInt(3000))
      }
      val feats = mutable.LinkedHashSet.empty[String]
      write(p) { w =>
        format match {
          case "features_table" =>
            line(w, "chr", "start", "end", "RT", "H3K9me3")
            feats ++= Seq("RT", "H3K9me3")
          case _ =>
        }
        for (k <- 0 until size) {
          val (c, s, e) = place()
          val v = fmt2(r.nextDouble() * 100.0)
          format match {
            case "bed3" => line(w, c, s, e, v)
            case "bed6" => line(w, c, s, e, s"peak$k", v, if (r.nextBoolean()) "+" else "-")
            case "macs2" => line(w, c, s, e, s"peak$k", (r.nextInt(1000)).toString, ".", v,
              fmt2(r.nextDouble() * 20), fmt2(r.nextDouble() * 20), (r.nextInt((e - s).toInt)).toString)
            case "chromhmm" =>
              val st = s"E${1 + r.nextInt(6)}"; feats += st; line(w, c, s, e, st)
            case _ => line(w, c, s, e, v, fmt2(r.nextDouble() * 3.0 - 1.5))
          }
        }
      }
      if (format != "features_table" && format != "chromhmm") feats += feature
      Upload(p.toString, option, if (agg == "proportion") "mean" else agg,
        agg == "proportion", feature, feats.toSeq.sorted)
    }.toVector
  }
}
