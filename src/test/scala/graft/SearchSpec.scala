package graft

import org.apache.spark.sql.functions._
import graft.core.Search

/** Q1-Q6 dispatcher semantics, mirroring the reference's EZH2-style
  * end-to-end search tests (tests/test_network_generator.R:87-135):
  * seed resolution per query form, ego vs induced expansion, `searched`
  * flags, per-subnet degree recompute. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  // star around EZH2 bait + a detached edge
  private def nodes = Seq(
    ("1_100_199", "EZH2", "1", 100L, 199L, "P"),
    ("1_500_599", "TP53 EZH2L", "1", 500L, 599L, "O"),
    ("1_900_999", "", "1", 900L, 999L, "O"),
    ("2_100_199", "KRAS", "2", 100L, 199L, "P"),
    ("2_500_599", "BRAF", "2", 500L, 599L, "O"))
    .toDF("fragment", "gene_names", "chr", "start", "end", "type")

  private def edges = Seq(
    ("1_100_199", "1_500_599", 6.0), ("1_100_199", "1_900_999", 7.0),
    ("2_100_199", "2_500_599", 8.0))
    .toDF("src", "dst", "score")

  test("Q1 fragment-id lookup is exact and case-insensitive") {
    assert(Search.byFragmentId(nodes, "1_100_199").count() == 1)
    assert(Search.byFragmentId(nodes, "x_1_2").count() == 0)
  }

  test("Q2 gene search is word-boundary: EZH2 does not match EZH2L") {
    val ids = Search.byGeneName(nodes, "EZH2").collect().map(_.getString(0))
    assert(ids.toSet == Set("1_100_199"))
    assert(Search.byGeneName(nodes, "ezh").count() == 0)
  }

  test("Q3 ensembl search translates then name-searches") {
    val e2n = Seq(("ensg00000106462", "EZH2")).toDF("ensembl_id", "gene_name")
    val ids = Search.byEnsemblId(nodes, e2n, "ENSG00000106462")
      .collect().map(_.getString(0))
    assert(ids.toSet == Set("1_100_199"))
    assert(Search.byEnsemblId(nodes, e2n, "ENSG00000000000").count() == 0)
  }

  test("Q4 gene-list search unions matches in one scan") {
    val ids = Search.byGeneList(nodes, Seq("KRAS", "TP53"))
      .collect().map(_.getString(0))
    assert(ids.toSet == Set("1_500_599", "2_100_199"))
  }

  test("Q2/Q4 inverted index returns exactly the regex-scan rows") {
    val idx = Search.buildNameIndex(nodes)
    for (term <- Seq("EZH2", "ezh", "TP53", "nope")) {
      val regex = Search.byGeneName(nodes, term)
        .collect().map(_.getString(0)).toSet
      val viaIdx = Search.byGeneNameIndexed(idx, nodes, term)
        .collect().map(_.getString(0)).toSet
      assert(viaIdx == regex, s"term=$term")
    }
    val listRegex = Search.byGeneList(nodes, Seq("KRAS", "TP53"))
      .collect().map(_.getString(0)).toSet
    val listIdx = Search.byGeneListIndexed(idx, nodes, Seq("KRAS", "TP53"))
      .collect().map(_.getString(0)).toSet
    assert(listIdx == listRegex)
  }

  test("Q5 range search overlaps without ego expansion; nearest fallback") {
    val hit = Search.byRange(nodes, "1:150-550", expand = 0, nearest = false)
    assert(hit.collect().map(_.getString(0)).toSet ==
      Set("1_100_199", "1_500_599"))
    // no overlap -> nearest single fragment
    val near = Search.byRange(nodes, "1:700-750", expand = 0, nearest = false)
    assert(near.collect().map(_.getString(0)).toSet == Set("1_500_599"))
  }

  test("full dispatcher: gene search expands ego, flags seeds, degrees") {
    val sub = Search.search(nodes, edges, None, "EZH2")
    val n = sub.nodes.collect().map(r => r.getString(0) ->
      (r.getBoolean(r.fieldIndex("searched")),
       r.getLong(r.fieldIndex("degree")))).toMap
    // EZH2's ego: the star of 1_100_199 — chromosome-2 edge excluded
    assert(n.keySet == Set("1_100_199", "1_500_599", "1_900_999"))
    assert(n("1_100_199") == ((true, 2L)))
    assert(n("1_500_599") == ((false, 1L)))
    assert(sub.edges.count() == 2)
  }

  test("range dispatch: induced subgraph only (no ego), degree recomputed") {
    val sub = Search.search(nodes, edges, None, "1:150-550")
    // induced on {1_100_199, 1_500_599}: single edge between them
    assert(sub.edges.count() == 1)
    val deg = sub.nodes.collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("degree"))).toMap
    assert(deg == Map("1_100_199" -> 1L, "1_500_599" -> 1L))
  }

  test("miss returns an empty subnet, not an error") {
    val sub = Search.search(nodes, edges, None, "NOSUCHGENE")
    assert(sub.nodes.count() == 0 && sub.edges.count() == 0)
  }

  test("short two-part form dispatches to NAME search, not id-exact") {
    // reference regex (network_generator_lib.R:78) requires BOTH
    // coordinates — "1_100" must reach the gene-name branch, where a
    // literal name can still match; an exact-id filter never could
    val withLiteral = nodes.withColumn("gene_names",
      when(col("fragment") === "2_100_199", lit("1_100"))
        .otherwise(col("gene_names")))
    val sub = Search.search(withLiteral, edges, None, "1_100")
    assert(sub.nodes.filter(col("searched")).count() == 1)
    // and the full 3-part form still routes to the exact id filter
    val full = Search.search(nodes, edges, None, "1_100_199")
    assert(full.nodes.filter(col("searched"))
      .collect().map(_.getString(0)).toSeq == Seq("1_100_199"))
  }

  test("snapshot-served search is row-identical to rebuilt search") {
    val dir = java.nio.file.Files.createTempDirectory("serving_spec").toString
    graft.core.Serving.buildSnapshot(nodes, edges, dir)
    val sd = graft.core.Serving.open(spark, dir)
    val served = graft.core.Serving.geneSearch(sd, "EZH2").nodes
      .orderBy("fragment").collect().map(_.toSeq)
    val rebuilt = Search.subnetFromSeeds(nodes, edges,
        Search.byGeneName(nodes, "EZH2"), ego = true).nodes
      .orderBy("fragment").collect().map(_.toSeq)
    assert(served.toSeq == rebuilt.toSeq)
    assert(served.nonEmpty)
    Seq(sd.nodes, sd.edges, sd.index).foreach(_.unpersist(blocking = false))
  }

  test("served dispatcher routes every query form like the rebuild path") {
    val dir = java.nio.file.Files.createTempDirectory("serving_disp").toString
    graft.core.Serving.buildSnapshot(nodes, edges, dir)
    val sd = graft.core.Serving.open(spark, dir)
    def ids(s: Search.Subnet): Set[String] =
      s.nodes.select("fragment").collect().map(_.getString(0)).toSet
    // fragment-id, range, list, and plain-name forms
    assert(ids(graft.core.Serving.search(sd, "2_100_199")) ==
      ids(Search.search(nodes, edges, None, "2_100_199")))
    assert(ids(graft.core.Serving.search(sd, "1:100-600")) ==
      ids(Search.search(nodes, edges, None, "1:100-600")))
    assert(ids(graft.core.Serving.search(sd, "KRAS,BRAF")) ==
      ids(Search.search(nodes, edges, None, "KRAS,BRAF")))
    assert(ids(graft.core.Serving.search(sd, "EZH2")) ==
      ids(Search.search(nodes, edges, None, "EZH2")))
    Seq(sd.nodes, sd.edges, sd.index).foreach(_.unpersist(blocking = false))
  }

  test("partitioned snapshot prunes to the query chromosome and " +
      "serves rows identical to the full scan") {
    val dir = java.nio.file.Files.createTempDirectory("serving_part").toString
    graft.core.Serving.buildSnapshotPartitioned(nodes, edges, dir)
    val ps = graft.core.Serving.openPartitioned(spark, dir)
    // the layout on disk is chr=<c>/ and src_chr=<c>/ directories
    assert(new java.io.File(s"$dir/nodes/chr=1").isDirectory)
    assert(new java.io.File(s"$dir/edges/src_chr=2").isDirectory)
    // PRUNING: the physical scan must classify the chr predicate as a
    // PARTITION filter (pruned at the file-index listing, before any
    // IO) — and that listing must return only the query chromosome's
    // files. This drives the scan's own pruning path
    // (FileSourceScanExec.partitionFilters → FileIndex.listFiles),
    // not a string match on explain output.
    def prunedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val scan = df.queryExecution.sparkPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no file scan in plan"))
      assert(scan.partitionFilters.nonEmpty,
        "chr predicate was not classified as a partition filter")
      scan.relation.location.listFiles(scan.partitionFilters, Nil)
        .flatMap(_.files).map(_.getPath.toString)
    }
    val nFiles = prunedFiles(ps.nodes.filter(col("chr") === "1"))
    assert(nFiles.nonEmpty && nFiles.forall(_.contains("chr=1")))
    assert(nFiles.size < ps.nodes.inputFiles.length)
    val eFiles = prunedFiles(ps.edges.filter(col("src_chr") === "2"))
    assert(eFiles.nonEmpty && eFiles.forall(_.contains("src_chr=2")))
    // the served range plan itself carries the pruning on BOTH scans
    val sub = graft.core.Serving.rangeSearch(ps, "1:100-600")
    val scans = sub.nodes.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "served range plan has an unpruned file scan")
    // SEMANTICS: the pruned served range equals the full-scan Q5 path,
    // overlap and nearest-fallback forms both
    def ids(s: Search.Subnet): Set[String] =
      s.nodes.select("fragment").collect().map(_.getString(0)).toSet
    assert(ids(graft.core.Serving.rangeSearch(ps, "1:100-600")) ==
      ids(Search.search(nodes, edges, None, "1:100-600")))
    assert(ids(graft.core.Serving.rangeSearch(ps, "1:100-600")).nonEmpty)
    assert(ids(graft.core.Serving.rangeSearch(ps, "2:90000-90001")) ==
      ids(Search.search(nodes, edges, None, "2:90000-90001")))
  }

  test("pruned gene search serves the full-scan ego subnet, keeping " +
      "trans-chromosome neighbors, from partition-filtered scans") {
    val dir = java.nio.file.Files.createTempDirectory("serving_ego").toString
    // EZH2's bait (chr1) gets a trans edge to chr2 — the hop must reach
    // across chromosomes even though the seeds all live on chr1
    val trans = edges.unionAll(
      Seq(("1_100_199", "2_500_599", 9.0)).toDF("src", "dst", "score"))
    graft.core.Serving.buildSnapshotPartitioned(nodes, trans, dir)
    val ps = graft.core.Serving.openPartitioned(spark, dir)
    // the symmetric copy shards each edge into BOTH endpoints' partitions
    assert(new java.io.File(s"$dir/edges_sym/src_chr=1").isDirectory)
    assert(new java.io.File(s"$dir/edges_sym/src_chr=2").isDirectory)
    val served = graft.core.Serving.geneSearchPruned(ps, "EZH2")
    val rebuilt = Search.subnetFromSeeds(nodes, trans,
      Search.byGeneName(nodes, "EZH2"), ego = true)
    def rows(s: Search.Subnet): Set[Seq[Any]] =
      s.nodes.select("fragment", "searched", "degree")
        .collect().map(_.toSeq).toSet
    assert(rows(served) == rows(rebuilt))
    assert(served.nodes.collect().map(_.getString(0)).toSet
      .contains("2_500_599"), "trans-chromosome neighbor missing")
    // every file scan in the served plan is partition-pruned
    val scans = served.nodes.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "pruned gene-search plan has an unpruned file scan")
    // a miss term yields an empty subnet without error
    assert(graft.core.Serving.geneSearchPruned(ps, "NOSUCH").nodes
      .count() == 0)
  }

  test("batched served documents are byte-identical to per-key render") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("serving_docs").toString
    graft.core.Serving.buildSnapshot(nodes, edges, dir)
    val sd = graft.core.Serving.open(spark, dir)
    val keys = Seq("EZH2", "KRAS", "NOSUCHGENE").toDF("key")
    val batch = graft.core.Serving.geneSearchDocs(sd, keys)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(batch.keySet == Set("EZH2", "KRAS", "NOSUCHGENE"))
    // each batched document == the single-request serve + render bytes
    // (render in document order — nodes by fragment, edges by
    // (src, dst), the writeDocument/renderPerKey canonical order)
    for (k <- Seq("EZH2", "KRAS")) {
      val single = graft.core.Serving.geneSearch(sd, k)
      assert(batch(k) == graft.io.CytoscapeJson.render(
        single.nodes.orderBy("fragment"),
        single.edges.orderBy("src", "dst")), s"doc mismatch for $k")
    }
    // a key matching nothing gets the empty-result guard
    assert(batch("NOSUCHGENE") == "{}")
    Seq(sd.nodes, sd.edges, sd.index).foreach(_.unpersist(blocking = false))
  }

  test("S12 response cache: hits served from memo, one compute per key") {
    import spark.implicits._
    val reqs = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"))
      .toDF("request_id", "key")
    val memo = Seq(("a", "memo:a")).toDF("key", "response")
    val computedKeys = new java.util.concurrent.atomic.AtomicReference[Set[String]](Set())
    val (resp, fresh) = graft.core.Serving.serveCached(reqs, memo, { keys =>
      computedKeys.set(keys.collect().map(_.getString(0)).toSet)
      keys.withColumn("response",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("fresh:"),
          org.apache.spark.sql.functions.col("key")))
    })
    val rows = resp.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    // cached key served from memo (never recomputed), misses computed
    assert(computedKeys.get() == Set("b", "c"))
    assert(rows(1L) == ("memo:a", true) && rows(3L) == ("memo:a", true))
    assert(rows(2L) == ("fresh:b", false) && rows(4L) == ("fresh:c", false))
    assert(fresh.collect().map(_.getString(0)).toSet == Set("b", "c"))
  }

  test("S12 parquet memo dir: a second batch skips every stored key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s12_memo").toString +
      "/memo"
    def compute(tag: String)(keys: org.apache.spark.sql.DataFrame) =
      keys.withColumn("response",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(tag + ":"),
          org.apache.spark.sql.functions.col("key")))
    val b1 = graft.core.Serving.serveCachedDir(
      Seq((1L, "x"), (2L, "y")).toDF("request_id", "key"), dir, compute("b1"))
    assert(b1.collect().map(r => r.getString(2)).toSet ==
      Set("b1:x", "b1:y"))
    // batch 2 reuses x and y from the parquet memo; only z computes
    val b2 = graft.core.Serving.serveCachedDir(
      Seq((3L, "x"), (4L, "z")).toDF("request_id", "key"), dir, compute("b2"))
    val m = b2.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(m(3L) == ("b1:x", true), "restart-durable hit")
    assert(m(4L) == ("b2:z", false))
  }

  private def memoDir(): String =
    java.nio.file.Files.createTempDirectory("s12_memo").toString + "/memo"

  private def memoFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Set.empty
    else d.list().filter(_.endsWith(".parquet")).toSet
  }

  /** A compute tagging each response, recording every key it sees. */
  private def recording(tag: String,
                        seen: collection.mutable.Buffer[String])
                       (keys: org.apache.spark.sql.DataFrame) = {
    seen ++= keys.collect().map(_.getString(0))
    keys.withColumn("response", concat(lit(tag + ":"), col("key")))
  }

  private def served(out: org.apache.spark.sql.DataFrame) =
    out.collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3)))
      .toMap

  test("S12 memo dir hit: a local batch is a LocalTableScan, no append") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    val dir = memoDir()
    val seen = collection.mutable.Buffer[String]()
    served(graft.core.Serving.serveCachedDir(
      Seq((1L, "x"), (2L, "y")).toDF("request_id", "key"), dir,
      recording("b1", seen)))
    val files = memoFiles(dir)
    assert(files.size == 1, "one file per batch with misses")
    val hit = graft.core.Serving.serveCachedDir(
      Seq((3L, "x")).toDF("request_id", "key"), dir, recording("b2", seen))
    // folded on the driver: collecting it runs no Spark job
    assert(hit.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      hit.queryExecution.executedPlan.toString)
    assert(served(hit) == Map(3L -> ("b1:x", true)))
    assert(seen.toList.sorted == List("x", "y"), "a hit never computes")
    assert(memoFiles(dir) == files, "no append for an all-hit batch")
  }

  test("S12 memo dir: duplicate keys and a hit/miss mix compute each novel key once") {
    val dir = memoDir()
    val seen = collection.mutable.Buffer[String]()
    graft.core.Serving.serveCachedDir(Seq((0L, "a")).toDF("request_id", "key"),
      dir, recording("b1", seen)).collect()
    seen.clear()
    // a distributed batch (no local relation): a a b c b c
    val reqs = spark.range(6).select(col("id").as("request_id"),
      element_at(array(Seq("a", "a", "b", "c", "b", "c").map(lit): _*),
        (col("id") + 1).cast("int")).as("key"))
    val out = graft.core.Serving.serveCachedDir(reqs, dir, recording("b2", seen))
    assert(seen.toList.sorted == List("b", "c"))
    assert(out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "the answer is a projection of the requests, not a join")
    assert(served(out) == Map(
      0L -> ("b1:a", true), 1L -> ("b1:a", true), 2L -> ("b2:b", false),
      3L -> ("b2:c", false), 4L -> ("b2:b", false), 5L -> ("b2:c", false)))
  }

  test("S12 memo dir: the index follows the directory") {
    val dir = memoDir()
    val seen = collection.mutable.Buffer[String]()
    def serve(id: Long, key: String, tag: String) = served(
      graft.core.Serving.serveCachedDir(Seq((id, key)).toDF("request_id", "key"),
        dir, recording(tag, seen)))(id)
    assert(serve(1L, "x", "b1") == ("b1:x", false))
    assert(serve(2L, "x", "b2") == ("b1:x", true))
    // deleting the memo makes a stored key a miss again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(serve(3L, "x", "b3") == ("b3:x", false))
    // a file another writer adds is served as a hit, with its bytes
    Seq(("ext", "ext-bytes")).toDF("key", "response")
      .write.mode("append").parquet(dir)
    assert(serve(4L, "ext", "b4") == ("ext-bytes", true))
    assert(seen.toList == List("x", "x"))
  }

  test("S12 memo dir: a relative and an absolute spelling share one memo") {
    val rel = s"target/s12_memo_${java.util.UUID.randomUUID}"
    val abs = new java.io.File(rel).getAbsolutePath
    val seen = collection.mutable.Buffer[String]()
    try {
      val b1 = graft.core.Serving.serveCachedDir(
        Seq((1L, "x")).toDF("request_id", "key"), rel, recording("rel", seen))
      assert(served(b1) == Map(1L -> ("rel:x", false)))
      val b2 = graft.core.Serving.serveCachedDir(
        Seq((2L, "x"), (3L, "y")).toDF("request_id", "key"), abs,
        recording("abs", seen))
      assert(served(b2) == Map(2L -> ("rel:x", true), 3L -> ("abs:y", false)))
      val b3 = graft.core.Serving.serveCachedDir(
        Seq((4L, "y")).toDF("request_id", "key"), rel, recording("rel", seen))
      assert(served(b3) == Map(4L -> ("abs:y", true)))
      assert(seen.toList == List("x", "y"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(abs))
  }

  test("S12 memo dir: serving batches leave no cached or checkpointed blocks") {
    val dir = memoDir()
    val seen = collection.mutable.Buffer[String]()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the answers stay referenced, so no block they pin can be
    // garbage-collected away before the check
    val answers = (1 to 4).map { i =>
      val out = graft.core.Serving.serveCachedDir(
        Seq((i.toLong, s"k${i % 2}"), (10L + i, s"n$i")).toDF("request_id", "key"),
        dir, recording(s"b$i", seen))
      out.collect()
      out
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    java.lang.ref.Reference.reachabilityFence(answers)
  }

  test("subnetFromSeeds leaves a caller-owned edge cache in place") {
    import org.apache.spark.storage.StorageLevel
    // caller persists at a NON-default level: an unconditional persist
    // inside would throw "cannot change storage level", and an
    // unconditional unpersist would evict the caller's cache
    val cached = edges.persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      val seeds = Search.byGeneName(nodes, "EZH2")
      val sub = Search.subnetFromSeeds(nodes, cached, seeds, ego = true)
      assert(sub.edges.count() == 2)
      assert(cached.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally cached.unpersist()
  }
}
