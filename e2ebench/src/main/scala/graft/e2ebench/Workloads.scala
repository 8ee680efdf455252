package graft.e2ebench

import java.nio.file.{Files, Path}
import graft.core.{Annotate, Chas, GraphOps, Interactions, Intervals, Layout, Pipeline, Serving}
import graft.io.{CytoscapeJson, MetadataJson, Readers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Outcome of one op: `failure` is the output check's complaint, if any. */
final case class OpResult(failure: Option[String], miss: Boolean = true)

/** One workload: set-up (repeated and timed), ops (closed loop) and the
  * output checks that run after the measured window. */
trait Workload {
  def setup(): Unit
  def op(i: Int): OpResult
  /** Warm-up on the set-up's own dataset, after the timed set-ups. */
  def warmup(): Unit = ()
  /** Checks that need work outside the timed window; returns failures. */
  def verify(): Seq[String] = Nil
  /** Extra named figures for the report (name → (value, unit)). */
  def report: Seq[(String, Double, String)] = Nil
}

object Workloads {
  val TreeReplicates = 10
  val UploadReplicates = 1
  val ChasSeed = 42L

  def apply(name: String, spark: SparkSession, in: Gen.Inputs, work: Path,
            tr: Trace, seed: Long): Workload = name match {
    case "build" => new BuildWorkload(spark, in, work, tr)
    case "search" => new SearchWorkload(spark, in, work, tr, seed)
    case "upload" => new UploadWorkload(spark, in, work, tr)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** SHA-256 over every regular file of a tree: relative path + bytes,
    * in path order. */
  def treeHash(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try {
      s.filter(Files.isRegularFile(_)).sorted().forEach { f =>
        val name = root.relativize(f).toString
        // Spark's own bookkeeping files carry no dataset content
        if (!name.endsWith(".crc") && !name.endsWith("_SUCCESS")) {
          md.update(name.getBytes("UTF-8")); md.update(Files.readAllBytes(f))
        }
      }
    } finally s.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Traced run only: the overlap join the caller makes, forced on its
    * own, plus the bucketed join's candidate pairs per left row (the
    * pairs sharing a chromosome bucket of the engine's default width). */
  def probeIntervals(left: DataFrame, right: DataFrame, tr: Trace): Unit = {
    val w = Intervals.DefaultBucketWidth
    tr.force(Intervals.overlapJoin(left, right))
    def perBucket(df: DataFrame, name: String) = df
      .select(col("chr"), explode(sequence(floor(col("start") / w).cast("long"),
        floor(col("end") / w).cast("long"))).as("b"))
      .groupBy("chr", "b").agg(count(lit(1)).as(name))
    val cand = perBucket(left, "l").join(perBucket(right, "r"), Seq("chr", "b"))
      .agg(sum(col("l") * col("r"))).collect()(0)
    val nLeft = left.count()
    tr.add("intervals.candidates", if (cand.isNullAt(0)) 0.0 else cand.getLong(0).toDouble)
    tr.add("intervals.left_rows", nLeft.toDouble)
  }

  /** Total bytes of the regular files under `root`. */
  def bytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  private val NumField = "\"%s\":(-?[0-9.eE+-]+)"
  def jsonLong(doc: String, field: String): Option[Long] =
    NumField.format(field).r.findFirstMatchIn(doc).map(_.group(1).toLong)
}

/** The inputs opened through the engine's readers, and the
  * features_on_nodes matrix in the long form the tree takes. */
final class Opened(spark: SparkSession, in: Gen.Inputs, tr: Trace) {
  val raw: DataFrame = Readers.loadPCHiC(spark, in.pchic)
  val alias: DataFrame = Readers.loadAlias(spark, in.alias)
  val baitNames: DataFrame = Readers.loadBaitNames(spark, in.baitNames)
  val intronic: DataFrame = Readers.loadIntronic(spark, in.intronic)
  val featuresWide: DataFrame = Readers.loadFeaturesOnNodes(spark, in.features)

  def annotations: Pipeline.Annotations = Pipeline.Annotations(
    baitNames = Some(baitNames),
    aliasRanges = Some(alias.select("chr", "start", "end", "gene_name")),
    aliasNames = Some(alias.select("gene_name", "ensembl_gene_id", "alias")),
    intronic = Some(intronic))

  /** features_on_nodes as (fragment, feature, value), binarized as the
    * reference's build does by default. */
  def featuresLong: DataFrame = Chas.binarize(featuresWide.unpivot(
    Array(col("fragment")),
    featuresWide.columns.filter(_ != "fragment").map(col),
    "feature", "value"))

  def ensembl2name: DataFrame = Annotate.ensembl2name(alias)

  /** Pipeline.build; in the traced run the same composition is made
    * module by module so each layer's frame is forced at its boundary,
    * and its plans are checked against Pipeline.build's. */
  def build(): Pipeline.BuiltDataset =
    if (!tr.enabled) Pipeline.build(raw, Gen.Threshold, annotations)
    else {
      val a = annotations
      tr("readers") {
        Seq(raw, alias, baitNames, intronic, featuresWide).foreach { df =>
          tr.add("readers.rows", tr.force(df).toDouble)
        }
        tr.add("readers.mb_in", Seq(in.pchic, in.alias, in.baitNames, in.intronic,
          in.features).map(p => Files.size(java.nio.file.Paths.get(p))).sum / 1e6)
      }
      val (working, typed, v0) = tr("interactions") {
        val working = Interactions.dropMT(Interactions.filterByThreshold(raw, Gen.Threshold))
        val rawEdges = Interactions.edges(working, Some(working.columns(11)))
          .select(col("src"), col("dst"), col("score"))
        val typed = Interactions.addTypes(Interactions.simplifyBy(rawEdges,
          Seq(col("score"), col("src"), col("dst"))))
        val v0 = Interactions.vertices(working, hasNames = true)
        tr.add("interactions.edges_out", tr.force(typed).toDouble)
        tr.add("interactions.nodes_out", tr.force(v0).toDouble)
        (working, typed, v0)
      }
      val nodes = tr("annotate") {
        val v1 = Annotate.overwriteBaitNames(v0, a.baitNames.get)
        val v2 = Annotate.annotateOtherEnds(v1, a.aliasRanges.get)
        val v3 = Annotate.annotatePromoters(v2, a.aliasNames.get)
        val n = Annotate.flagIntronic(v3, a.intronic.get)
        tr.force(n)
        // the overlap join annotateOtherEnds makes, probed on its own
        val oes = v0.filter(col("type") === "O").select("fragment", "chr", "start", "end")
        tr("intervals") { Workloads.probeIntervals(oes, a.aliasRanges.get, tr) }
        n
      }
      val composed = Pipeline.BuiltDataset(working, nodes, typed, GraphOps.degrees(typed),
        GraphOps.graphMetadata(nodes, typed),
        graft.core.Metadata.suggestions(nodes), graft.core.Metadata.chromosomes(nodes))
      tr.planFailures ++= Opened.planMismatches(composed,
        Pipeline.build(raw, Gen.Threshold, a))
      composed
    }

  /** Build + snapshot write + open: the set-up of a served dataset. */
  def serve(dir: Path): (Pipeline.BuiltDataset, Serving.ServedDataset) = {
    val ds = build()
    tr("serving") {
      val t0 = System.nanoTime()
      Serving.buildSnapshot(ds.nodes, ds.edges, dir.toString)
      val t1 = System.nanoTime()
      val sd = Serving.open(spark, dir.toString)
      tr.add("serving.snapshot_build_s", (t1 - t0) / 1e9)
      tr.add("serving.open_s", (System.nanoTime() - t1) / 1e9)
      tr.add("serving.opens", 1)
      (ds, sd)
    }
  }
}

object Opened {
  /** The frames of `composed` whose analyzed plan does not give the same
    * result as that of the program's own build. */
  def planMismatches(composed: Pipeline.BuiltDataset,
                     program: Pipeline.BuiltDataset): Seq[String] = {
    def frames(d: Pipeline.BuiltDataset) = Seq("interactions" -> d.interactions,
      "nodes" -> d.nodes, "edges" -> d.edges, "degrees" -> d.degrees,
      "graphMetadata" -> d.graphMetadata, "suggestions" -> d.suggestions,
      "chromosomes" -> d.chromosomes)
    frames(composed).zip(frames(program)).collect {
      case ((name, c), (_, p)) if !c.queryExecution.analyzed.sameResult(p.queryExecution.analyzed) =>
        s"traced build's $name plan differs from Pipeline.build's"
    }
  }
}

final class BuildWorkload(spark: SparkSession, in: Gen.Inputs, work: Path,
                          tr: Trace) extends Workload {
  private var firstHash: String = _

  /** Set-up: open the six input readers (one header-sniff job each). */
  def setup(): Unit = new Opened(spark, in, tr)

  def op(i: Int): OpResult = {
    val o = new Opened(spark, in, tr)
    val ds = o.build()
    val snap = work.resolve(s"build-snapshot-$i")
    val tree = work.resolve(s"build-tree-$i")
    tr("serving.snapshot") {
      val t0 = System.nanoTime()
      Serving.buildSnapshot(ds.nodes, ds.edges, snap.toString)
      tr.add("serving.snapshot_build_s", (System.nanoTime() - t0) / 1e9)
    }
    val features = o.featuresLong
    tr(Trace.TreeLayer) {
      val t0 = System.nanoTime()
      Pipeline.writeDatasetTree(ds, tree.toString, features = Some(features),
        nReplicates = Workloads.TreeReplicates, seed = Workloads.ChasSeed)
      tr.add("pipeline.tree_s", (System.nanoTime() - t0) / 1e9)
      if (tr.enabled) tr.laneSeconds += Pipeline.lastTreeTimings
    }
    tr.endOp()
    val meta = new String(Files.readAllBytes(tree.resolve("metadata.json")), "UTF-8")
    val hash = Workloads.treeHash(tree)
    if (tr.enabled) {
      tr.add("cytoscapejson.mb_out", Workloads.bytes(tree.resolve("chromosomes")) / 1e6)
      tr.add("metadatajson.mb_out",
        (Workloads.bytes(tree) - Workloads.bytes(tree.resolve("chromosomes"))) / 1e6)
    }
    Workloads.deleteTree(snap); Workloads.deleteTree(tree)
    val e = in.expected
    def count(field: String, want: Long) =
      Option.when(!Workloads.jsonLong(meta, field).contains(want))(
        s"metadata $field ${Workloads.jsonLong(meta, field)} != expected $want")
    val failures = Seq(count("nodes", e.nodes), count("edges", e.edges),
      count("pp_edges", e.ppEdges), count("promoters", e.promoters),
      if (firstHash == null) { firstHash = hash; None }
      else Option.when(hash != firstHash)(s"tree hash $hash != first $firstHash"))
      .flatten
    OpResult(failures.headOption)
  }

  def treeHash: String = Option(firstHash).getOrElse("")
}

final class SearchWorkload(spark: SparkSession, in: Gen.Inputs, work: Path,
                           tr: Trace, seed: Long) extends Workload {
  import spark.implicits._
  private var ds: Pipeline.BuiltDataset = _
  private var sd: Serving.ServedDataset = _
  private var e2n: DataFrame = _
  private var setups = 0
  private val memo = work.resolve("memo")
  private val first = mutable.HashMap.empty[String, String]
  private var hits = 0
  private var misses = 0
  private val missMs = mutable.ArrayBuffer.empty[Double]
  private val served = mutable.LinkedHashSet.empty[String]
  private val noMatch = Gen.noMatchRequest(in.requests)

  def setup(): Unit = {
    if (sd != null) Seq(sd.nodes, sd.edges, sd.index, e2n).foreach(_.unpersist(blocking = true))
    val o = new Opened(spark, in, tr)
    val (d, s) = o.serve(work.resolve(s"snapshot-$setups"))
    setups += 1
    ds = d; sd = s
    e2n = o.ensembl2name.persist(StorageLevel.MEMORY_AND_DISK)
    e2n.count()
    // a fresh memo for the measured requests
    Workloads.deleteTree(memo)
    first.clear(); served.clear(); hits = 0; misses = 0; missMs.clear()
  }

  /** A few requests against a scratch memo: warms the serve path on
    * the measured dataset, then leaves a cold memo for the window. */
  override def warmup(): Unit = {
    (0 until SearchWorkload.WarmRequests).foreach(op)
    Workloads.deleteTree(memo)
    first.clear(); served.clear(); hits = 0; misses = 0; missMs.clear()
  }

  /** The served response for one memo miss: search, CoSE layout, then
    * the positioned Cytoscape document ("{}" for at most one node). */
  private def compute(missing: DataFrame): DataFrame = {
    val keys = missing.collect().map(_.getString(0))
    val docs = keys.map(k => k -> SearchWorkload.respond(sd, e2n, k, tr))
    docs.toSeq.toDF("key", "response")
  }

  def op(i: Int): OpResult = {
    val req = in.requests(i % in.requests.length)
    val t0 = System.nanoTime()
    val rows = tr("serving") {
      Serving.serveCachedDir(Seq((i.toLong, req.key)).toDF("request_id", "key"),
        memo.toString, compute).collect()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    tr.endOp()
    if (rows.length != 1) return OpResult(Some(s"${rows.length} rows for one request"))
    val response = rows(0).getString(2)
    val cached = rows(0).getBoolean(3)
    served += req.key
    if (cached) hits += 1 else { misses += 1; missMs += ms }
    val failure = first.get(req.key) match {
      case None =>
        first(req.key) = response
        if (cached) Some(s"memo hit for unseen key ${req.key}")
        else Option.when(req == noMatch && response != "{}")(
          s"no-match key ${req.key} answered ${response.take(80)}")
      case Some(prev) =>
        if (!cached) Some(s"memo miss for served key ${req.key}")
        else Option.when(prev != response)(s"memo hit differs for ${req.key}")
    }
    OpResult(failure, miss = !cached)
  }

  /** A seeded sample of served keys, searched again through
    * Pipeline.searchDataset (the regex dispatch, no name index) over the
    * built dataset as the snapshot holds it: node and edge id sets must
    * equal those in the served document. */
  override def verify(): Seq[String] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5EA4C8L)
    val keys = served.toVector
    val sample = Iterator.continually(keys(r.nextInt(keys.length))).take(2).toVector.distinct
    val built = ds.copy(nodes = sd.nodes, edges = sd.edges)
    sample.flatMap { k =>
      val q = Gen.Request.parse(k)
      val sub = Pipeline.searchDataset(built, q.query, Some(e2n), q.expand, q.nearest)
      val nodes = sub.nodes.select("fragment").collect().map(_.getString(0)).toSet
      val edges = sub.edges.select("src", "dst").collect()
        .map(x => s"${x.getString(0)}~${x.getString(1)}").toSet
      val (gotN, gotE) = SearchWorkload.ids(first(k))
      val (wantN, wantE) = if (nodes.size <= 1) (Set.empty[String], Set.empty[String])
                           else (nodes, edges)
      Option.when(gotN != wantN || gotE != wantE)(
        s"search $k: served ${gotN.size}/${gotE.size} nodes/edges, " +
          s"searchDataset ${wantN.size}/${wantE.size}")
    }
  }

  override def report: Seq[(String, Double, String)] = Seq(
    ("search_miss_p50_ms", if (missMs.isEmpty) 0.0 else Stats.quantile(missMs.toVector, 0.5), "ms"),
    ("search_misses", misses.toDouble, "count"),
    ("serving.memo_hit_ratio", hits.toDouble / math.max(1, hits + misses), "ratio"),
    ("serving.memo_requests", (hits + misses).toDouble, "count"),
    ("serving.memo_files", SearchWorkload.parquetFiles(memo).toDouble, "count"))
}

object SearchWorkload {
  val WarmRequests = 2

  def respond(sd: Serving.ServedDataset, e2n: DataFrame, key: String,
              tr: Trace): String = {
    val q = Gen.Request.parse(key)
    tr.add("search.computes", 1)
    val sub = tr("search", key) {
      val s = Serving.search(sd, q.query, Some(e2n), q.expand, q.nearest)
      tr.add("search.subnet_nodes", tr.force(s.nodes).max(0L).toDouble)
      tr.add("search.subnet_edges", tr.force(s.edges).max(0L).toDouble)
      s
    }
    val pos = tr("layout") {
      val p = Layout.cose(sub.nodes.select(col("fragment").as("id")),
        sub.edges.select("src", "dst"))
      tr.add("layout.nodes", tr.force(p).max(0L).toDouble)
      p
    }
    tr("cytoscapejson") {
      val nodeEls = CytoscapeJson.positionedNodeElements(sub.nodes, pos)
        .collect().map(_.getString(0)).sorted
      if (nodeEls.length <= 1) "{}"
      else {
        val edgeEls = CytoscapeJson.edgeElements(sub.edges).collect().map(_.getString(0)).sorted
        val doc = (nodeEls ++ edgeEls).mkString("[", ",", "]")
        tr.add("cytoscapejson.mb_out", doc.length / 1e6)
        doc
      }
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Node ids and edge ids ("source~target") of a served document. */
  def ids(doc: String): (Set[String], Set[String]) =
    if (doc == "{}") (Set.empty, Set.empty)
    else {
      import scala.jdk.CollectionConverters._
      val els = mapper.readTree(doc).elements().asScala.toVector
      val (ns, es) = els.partition(_.get("group").asText() == "nodes")
      (ns.map(_.get("data").get("id").asText()).toSet,
        es.map(e => e.get("data").get("source").asText() + "~" +
          e.get("data").get("target").asText()).toSet)
    }

  def parquetFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.list(dir)
      try s.filter(_.toString.endsWith(".parquet")).count().toInt finally s.close()
    }
}

final class UploadWorkload(spark: SparkSession, in: Gen.Inputs, work: Path,
                           tr: Trace) extends Workload {
  private var sd: Serving.ServedDataset = _
  private var setups = 0

  def setup(): Unit = {
    if (sd != null) Seq(sd.nodes, sd.edges, sd.index).foreach(_.unpersist(blocking = true))
    sd = new Opened(spark, in, tr).serve(work.resolve(s"snapshot-$setups"))._2
    setups += 1
  }

  def op(i: Int): OpResult = {
    val u = in.uploads(i % in.uploads.length)
    val out = work.resolve(s"upload-$i")
    Files.createDirectories(out)
    val frags = sd.nodes.select("fragment", "chr", "start", "end")
    val long = tr("readers") {
      val l = Readers.loadFeatureFile(spark, u.path, u.option, u.featureName)
      tr.add("readers.rows", tr.force(l).max(0L).toDouble)
      tr.add("readers.mb_in", Files.size(java.nio.file.Paths.get(u.path)) / 1e6)
      l
    }
    if (tr.enabled) tr("intervals") { Workloads.probeIntervals(frags, long, tr) }
    val agg = tr("chas") {
      Chas.aggregateOntoFragments(frags, long, u.auxfun, 0.0, u.proportion)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val metaJson = try {
      val meta = tr("chas") {
        val m = Chas.featuresMetadataSubnets(sd.edges, agg, Workloads.UploadReplicates,
          Workloads.ChasSeed)
        tr.force(m)
        m
      }
      tr("metadatajson") {
        val fj = MetadataJson.featuresJson(agg)
        val mj = MetadataJson.featuresMetadataJson(meta)
        MetadataJson.write(out.resolve("features.json").toString, fj)
        MetadataJson.write(out.resolve("features_metadata.json").toString, mj)
        tr.add("metadatajson.mb_out", (fj.length + mj.length) / 1e6)
        mj
      }
    } finally agg.unpersist(blocking = false)
    tr.endOp()
    Workloads.deleteTree(out)
    OpResult(Upload.check(metaJson, u.features))
  }
}

object Upload {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One features-metadata entry per {net, pp, po} × feature, every ChAs
    * a number in [-1, 1]. */
  def check(metaJson: String, features: Seq[String]): Option[String] = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(metaJson)
    val got = root.fieldNames().asScala.toVector.sorted
    if (got != features.sorted) Some(s"features ${got.mkString(",")} != ${features.mkString(",")}")
    else features.iterator.flatMap { f =>
      val subs = root.get(f)
      val names = subs.fieldNames().asScala.toVector.sorted
      if (names != Vector("net", "po", "pp")) Some(s"$f subnets ${names.mkString(",")}")
      else names.iterator.flatMap { s =>
        val c = subs.get(s).get("ChAs")
        if (c == null || !c.isNumber) Some(s"$f/$s ChAs is not a number")
        else Option.when(c.asDouble() < -1.0 || c.asDouble() > 1.0)(
          s"$f/$s ChAs ${c.asDouble()} outside [-1, 1]")
      }.nextOption()
    }.nextOption()
  }
}
