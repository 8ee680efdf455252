package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** S9-backed interactive serving — the reference's hot search path is
  * served from a pre-built per-dataset cache (search_query.R:14 loads
  * a saved .Rdata network per request; network_generator.R:282-284
  * writes it at build time). Here the snapshot is columnar parquet
  * ([[graft.io.Readers.snapshot]]) of the annotated nodes + simplified
  * edges PLUS the Q2/Q4 token inverted index ([[Search.buildNameIndex]]),
  * opened once and pinned in executor memory: an interactive gene
  * search is then an index equi-lookup + bounded ego joins over cached
  * frames — no re-run of the TSV scan / annotation / simplify
  * pipeline per request. At 100 TB the same layout holds: the
  * snapshot is partition-prunable parquet, the index is bucketable by
  * token, and nothing in the serve path scans the raw input.
  */
object Serving {

  /** An opened snapshot: all three frames persisted and materialized
    * (the open cost is paid once, not on the first query). */
  case class ServedDataset(nodes: DataFrame, edges: DataFrame,
                           index: DataFrame)

  /** Build-time: write the serving snapshot (nodes, edges, name index)
    * under `dir`. One-off cost per dataset build, amortized over every
    * interactive query served from it. */
  def buildSnapshot(vertices: DataFrame, edges: DataFrame,
                    dir: String): Unit = {
    // vertices feed TWO writes (nodes + the name index) — pin them for
    // the build so the annotation/vertex lineage runs once, not twice
    val v = vertices.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      graft.io.Readers.snapshot(v, s"$dir/nodes")
      graft.io.Readers.snapshot(edges, s"$dir/edges")
      graft.io.Readers.snapshot(Search.buildNameIndex(v),
        s"$dir/name_index")
    } finally v.unpersist(blocking = false)
  }

  /** Serve-time: open a snapshot, pin all three frames, and force
    * materialization so the first user query is already warm. */
  def open(spark: SparkSession, dir: String): ServedDataset = {
    def pin(path: String) = {
      val df = graft.io.Readers.loadSnapshot(spark, path)
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    ServedDataset(pin(s"$dir/nodes"), pin(s"$dir/edges"),
      pin(s"$dir/name_index"))
  }

  // -------------------------------------------------------------------
  // Chromosome-partitioned snapshot — the pruned 100 TB serving layout
  // -------------------------------------------------------------------

  /** A chromosome-partitioned snapshot opened LAZILY: the frames are
    * bare parquet scans, NOT pinned caches — the at-scale serving
    * shape, where a request's IO is its pruned partitions, never the
    * dataset. nodes lay under `chr=<c>/`, directed edges under
    * `src_chr=<c>/` (with `dst_chr` a pushed data filter), and `sym`
    * is the adjacency-sharded SYMMETRIC copy (every edge stored in
    * BOTH endpoints' partitions — 2x edge storage buys file-level
    * pruning for either-direction incidence lookups, the ego hop). */
  case class PartitionedSnapshot(nodes: DataFrame, edges: DataFrame,
                                 sym: DataFrame, index: DataFrame)

  /** Build-time: the header's "partition-prunable parquet" made
    * literal. Nodes partition by their existing `chr` column; edges by
    * the DERIVED bait-side chromosome (`src_chr`), carrying the
    * other-end chromosome as a plain `dst_chr` column so an
    * intra-chromosome predicate pushes to the row groups the pruning
    * left. Both derived columns use the id prefix (fragment ids are
    * "chr_start_end", TestMapping.frag / the reference's
    * `<chr>_<start>_<end>` naming — network_generator_lib.R:27-33), so
    * the layout needs nothing beyond the edge list itself. The name
    * index is unchanged (token lookups are equi-joins; at scale the
    * index would bucket by token, not partition by chromosome). */
  def buildSnapshotPartitioned(vertices: DataFrame, edges: DataFrame,
                               dir: String): Unit = {
    import org.apache.spark.sql.functions._
    // vertices feed two writes, edges feed two (directed + symmetric
    // copy): pin both for the build — one lineage run each
    val v = vertices.persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      graft.io.Readers.snapshot(v, s"$dir/nodes", Seq("chr"))
      graft.io.Readers.snapshot(
        e.withColumn("src_chr", split(col("src"), "_").getItem(0))
          .withColumn("dst_chr", split(col("dst"), "_").getItem(0)),
        s"$dir/edges", Seq("src_chr"))
      // the adjacency-sharded symmetric copy: each undirected edge lands
      // in both endpoints' src_chr partitions, so "edges incident to X"
      // is a pruned scan of X's chromosome regardless of orientation
      // (symmetrize = one explode pass, not a cache-scan-twice union)
      graft.io.Readers.snapshot(
        GraphOps.symmetrize(e.select(col("src"), col("dst")))
          .withColumn("src_chr", split(col("src"), "_").getItem(0)),
        s"$dir/edges_sym", Seq("src_chr"))
      graft.io.Readers.snapshot(Search.buildNameIndex(v),
        s"$dir/name_index")
    } finally {
      v.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  /** Open the partitioned layout without pinning anything. Partition
    * columns read back through directory-name inference — cast to
    * string so an all-numeric chromosome subset (a small fixture
    * without X/Y/MT) cannot flip the column to int. */
  def openPartitioned(spark: SparkSession, dir: String)
      : PartitionedSnapshot = {
    import org.apache.spark.sql.functions._
    PartitionedSnapshot(
      graft.io.Readers.loadSnapshot(spark, s"$dir/nodes")
        .withColumn("chr", col("chr").cast("string")),
      graft.io.Readers.loadSnapshot(spark, s"$dir/edges")
        .withColumn("src_chr", col("src_chr").cast("string"))
        .withColumn("dst_chr", col("dst_chr").cast("string")),
      graft.io.Readers.loadSnapshot(spark, s"$dir/edges_sym")
        .withColumn("src_chr", col("src_chr").cast("string")),
      graft.io.Readers.loadSnapshot(spark, s"$dir/name_index"))
  }

  /** The served Q5 range form over the pruned layout: the node scan
    * prunes to `chr=<c>/` at the file index (before any IO), the edge
    * scan to `src_chr=<c>/` plus a pushed `dst_chr = c` predicate.
    * Row-identical to the full-scan path (Search.byRange +
    * subnetFromSeeds(ego = false)): range seeds all live on the query
    * chromosome, and an induced edge needs BOTH endpoints in the seed
    * set, so every qualifying node and edge lies inside the pruned
    * partitions — the q5_range_served_part gate entry pins this
    * against the same oracle as the full-scan q5_range_search. */
  def rangeSearch(ps: PartitionedSnapshot, range: String,
                  expand: Long = 0L, nearest: Boolean = false)
      : Search.Subnet = {
    import org.apache.spark.sql.functions._
    val chr = range.split("[:\\-]")(0).toUpperCase
    val nodes = ps.nodes.filter(col("chr") === lit(chr))
    val edges = ps.edges
      .filter(col("src_chr") === lit(chr) && col("dst_chr") === lit(chr))
      .drop("src_chr", "dst_chr")
    Search.subnetFromSeeds(nodes, edges,
      Search.byRange(nodes, range, expand, nearest), ego = false)
  }

  /** The served Q2→J10→Q6 gene path with FILE-LEVEL pruning: seeds
    * resolve through the name index (an equi-lookup, no node scan for
    * single-token terms), their chromosomes bound the symmetric copy's
    * 1-hop scan, and the hop set's chromosomes bound the induced-edge
    * and node-attribute scans. The two chromosome lists are bounded
    * dimension collects (≤ |chromosomes| rows ≈ 25 at any SF — the
    * a10 dimension, never data rows). Trans-chromosome neighbors are
    * kept: the hop derives from the symmetric copy, which stores each
    * edge in BOTH endpoints' partitions, so every incident edge is in
    * the pruned scan regardless of its other end's chromosome.
    * Row-identical to the full-scan Q2 path — every edge with an
    * endpoint among the seeds has both endpoint chromosomes in the
    * hop's list, so the pruned frames contain the subnet's whole
    * closure; pinned against the q6_search_subnet oracle by the
    * q6_search_served_pruned gate entry. */
  def geneSearchPruned(ps: PartitionedSnapshot, term: String)
      : Search.Subnet = {
    import org.apache.spark.sql.functions._
    val seeds = Search.byGeneNameIndexed(ps.index, ps.nodes, term)
      .localCheckpoint(eager = true)
    def chrsOf(ids: DataFrame): Seq[String] =
      ids.select(split(col("id"), "_").getItem(0).as("c"))
        .distinct().collect().map(_.getString(0)).toSeq
    val seedChrs = chrsOf(seeds)
    val hop = ps.sym.filter(col("src_chr").isin(seedChrs: _*))
      .join(seeds.withColumnRenamed("id", "src"), Seq("src"))
      .select(col("dst").as("id"))
      .unionAll(seeds).distinct()
    val hopChrs = chrsOf(hop)
    val edgesP = ps.edges
      .filter(col("src_chr").isin(hopChrs: _*) &&
              col("dst_chr").isin(hopChrs: _*))
      .drop("src_chr", "dst_chr")
    val nodesP = ps.nodes.filter(col("chr").isin(hopChrs: _*))
    Search.subnetFromSeeds(nodesP, edgesP, seeds, ego = true)
  }

  /** The interactive Q2→J10→Q6 path over an opened snapshot: indexed
    * gene-name lookup, ego expansion, per-subnet degree recompute —
    * row-identical to the rebuild-everything path
    * ([[Search.subnetFromSeeds]] over freshly derived frames), which
    * the q6_search_served gate entry pins against the same oracle as
    * q6_search_subnet. */
  def geneSearch(sd: ServedDataset, term: String): Search.Subnet =
    Search.subnetFromSeeds(sd.nodes, sd.edges,
      Search.byGeneNameIndexed(sd.index, sd.nodes, term), ego = true)

  /** The FULL reference dispatcher served from a snapshot: fragment-id
    * / ensembl / range / gene-list / gene-name forms all route over
    * the pinned frames ([[Search.search]] semantics verbatim); the
    * single-term name form additionally takes the inverted-index fast
    * path. One entry point = the reference's per-request API
    * (search_query.R:19-27) minus the rebuild. */
  def search(sd: ServedDataset, query: String,
             ensembl2name: Option[DataFrame] = None,
             expand: Long = 0L, nearest: Boolean = false): Search.Subnet = {
    val q = query.trim
    val isPlainName = !q.matches(Search.FragmentIdRe) &&
      !q.toLowerCase.matches(Search.EnsemblRe) &&
      !q.matches(Search.RangeRe) &&
      q.split(Search.ListSplitRe).length == 1
    if (isPlainName) geneSearch(sd, q)
    else Search.search(sd.nodes, sd.edges, ensembl2name, q, expand, nearest)
  }

  /** A BATCH of gene-name searches served end-to-end as ONE relational
    * plan: every key (a single-token gene name) resolves through the
    * inverted index to its seed set, per-key ego subnets derive in one
    * keyed pass over the pinned edges, and each key's Cytoscape
    * document renders distributedly
    * ([[graft.io.CytoscapeJson.renderPerKey]]) — the reference's
    * per-request R-pipeline + JSON response (search_query.R:19-30),
    * but N requests cost one plan, not N processes. Keys matching
    * nothing get the "{}" empty-result guard, exactly like a served
    * single search. Output: DF(key, response). */
  def geneSearchDocs(sd: ServedDataset, keys: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val ks = keys.select("key").distinct().localCheckpoint(eager = true)
    val seeds = ks.join(sd.index, lower(ks("key")) === sd.index("token"))
      .select(col("key"), col("fragment").as("id")).distinct()
      .localCheckpoint(eager = true) // read 4x below (hop/induced/flag)
    val edges = sd.edges.select("src", "dst")
    // one scan of the pinned edges, not a self-union of two
    // (GraphOps.symmetrize rationale: the union branch plans — and for
    // a cached frame, scans — the input once per direction)
    val sym = GraphOps.symmetrize(edges)
    // per-key 1-hop closure, then the induced edge set on it — the
    // subnetFromSeeds(ego = true) semantics with `key` riding along
    val hop = sym.join(seeds.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("key"), col("dst").as("id"))
      .unionAll(seeds)
      .distinct()
    val sedges = edges
      .join(hop.select(col("key"), col("id").as("src")), Seq("src"))
      .join(hop.select(col("key"), col("id").as("dst")), Seq("key", "dst"))
      .select(col("key"), col("src"), col("dst"))
      .localCheckpoint(eager = true) // endpoints read 2x (ids + degree)
    val ends = sedges.select(col("key"), col("src").as("id"))
      .unionAll(sedges.select(col("key"), col("dst").as("id")))
    val nodeIds = ends.unionAll(seeds).distinct()
    val deg = ends.groupBy("key", "id").agg(count(lit(1)).as("degree"))
    val nodes = sd.nodes
      .join(nodeIds.withColumnRenamed("id", "fragment"), Seq("fragment"))
      .join(seeds.select(col("key"), col("id").as("fragment"),
        lit(true).as("__seed")), Seq("key", "fragment"), "left")
      .withColumn("searched", coalesce(col("__seed"), lit(false)))
      .drop("__seed")
      .join(deg.withColumnRenamed("id", "fragment"),
        Seq("key", "fragment"), "left")
      .na.fill(0L, Seq("degree"))
    // every requested key gets a response — "{}" when nothing matched
    ks.join(graft.io.CytoscapeJson.renderPerKey(nodes, sedges, "key"),
        Seq("key"), "left")
      .select(col("key"), coalesce(col("doc"), lit("{}")).as("response"))
  }

  // -------------------------------------------------------------------
  // S12: response memo-cache
  // -------------------------------------------------------------------

  /** S12 — the reference's HTTP response cache (backend.py:51-99: a
    * shelve keyed `search|organism|cell_type`; a miss runs the whole
    * R-pipeline command and stores its output, a hit serves the stored
    * bytes) re-expressed relationally for BATCHES of requests:
    * distinct request keys are anti-joined against the memo, `compute`
    * runs over ONLY the novel key set (one compute per key — cache
    * hits never re-enter the pipeline, the exact semantics of the
    * reference's `if key not in shelve_cache`), and responses join
    * back to every request.
    *
    * @param requests DF(request_id, key) — duplicates expected
    * @param memo     DF(key, response) — prior responses
    * @param compute  missing-keys DF(key) → DF(key, response)
    * @return (DF(request_id, key, response, cached), fresh entries) —
    *         append the fresh frame to the memo store for the next batch
    */
  def serveCached(requests: DataFrame, memo: DataFrame,
                  compute: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val misses = requests.select("key").distinct()
      .join(memo.select("key"), Seq("key"), "left_anti")
    val fresh = compute(misses)
    val responses = requests
      .join(memo.select(col("key"), col("response"),
        lit(true).as("__hit")), Seq("key"), "left")
      .join(fresh.select(col("key"),
        col("response").as("__fresh")), Seq("key"), "left")
      .select(col("request_id"), col("key"),
        coalesce(col("response"), col("__fresh")).as("response"),
        coalesce(col("__hit"), lit(false)).as("cached"))
    (responses, fresh)
  }

  /** Bucketed symmetric-edge snapshot — the CO-LOCATED join layout
    * for src-keyed workloads: `bucketBy(src)` + `sortBy(src)` via
    * saveAsTable, so every src-keyed equi-join (incl. the edge⋈edge
    * self-join of triangle/2-hop queries) and every src-keyed
    * aggregation over the standing edges reads pre-shuffled,
    * pre-sorted buckets and plans with ZERO Exchange on the bucketed
    * side(s) — BucketedJoinSpec pins the plan property and the
    * result equality. At cluster scale this is the difference
    * between re-shuffling the full edge list on every query and
    * never shuffling it again after ingest (the same reasoning as
    * the chromosome-partitioned snapshot, applied to join KEYS
    * instead of scan PRUNING). */
  def writeBucketedEdges(sym: DataFrame, tableName: String,
                         buckets: Int = 8): Unit =
    sym.select("src", "dst")
      .write.format("parquet")
      .bucketBy(buckets, "src").sortBy("src")
      .mode("overwrite").saveAsTable(tableName)

  /** One serve-and-remember round against a parquet memo dir — the
    * durable, cluster-shared analogue of the reference's `.shelve_cache`
    * file (a missing or empty dir is a cold cache). A driver-side index
    * per qualified dir answers the lookup: each call lists the dir,
    * drops the index if a file it has read is gone (the memo was deleted
    * or replaced) and reads only the files not seen yet, so the index
    * always equals what is on disk. `compute` runs once over the batch's
    * novel keys; its rows are collected once, and that one copy is both
    * appended to the dir (as one file, only when there are rows) and
    * served, so a nondeterministic compute cannot store a response that
    * differs from the one served. The answer is a projection of
    * `requests` over two map literals (hits, fresh): a local batch folds
    * to a LocalTableScan on the driver — a memo hit runs no Spark job —
    * and a distributed batch stays distributed with no shuffle. Nothing
    * is cached or checkpointed.
    *
    * Driver memory: the index holds the memo dir's decoded entries for
    * the life of the process; a batch's literals hold only the responses
    * for that batch's distinct keys.
    *
    * @param requests DF(request_id, key STRING)
    * @param dir      the memo dir of (key STRING, response STRING) parquet
    * @param compute  novel-keys DF(key) → DF(key, response)
    * @return DF(request_id, key, response, cached)
    */
  def serveCachedDir(requests: DataFrame, dir: String,
                     compute: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = requests.sparkSession
    import spark.implicits._
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(path)
    val ix = memoIndexes.computeIfAbsent(root.toString,
      _ => new MemoIndex(fs, root))
    // bounded by distinct keys; a 1-row local batch plans no job here. A
    // map literal holds no null key: a null key is served null, uncached.
    val keys = requests.select("key").distinct().as[String].collect()
      .filter(_ != null)
    val hits = ix.synchronized {
      ix.refresh(spark)
      keys.flatMap(k => ix.entries.get(k).map(k -> _)).toMap
    }
    val novel = keys.filterNot(hits.contains)
    val fresh =
      if (novel.isEmpty) Map.empty[String, String]
      else {
        val rows = compute(novel.toSeq.toDF("key"))
          .select("key", "response").as[(String, String)].collect()
        if (rows.nonEmpty) ix.synchronized { ix.append(spark, rows.toSeq) }
        rows.toMap
      }
    // A left join against a broadcast answers frame was tried instead of
    // the literals: op_p50_ms 92 ms (literals: 39-43 ms) but live_heap_mb
    // 135.6 MB (literals: 102 MB; +31%), the per-request broadcast hash
    // relation — e2ebench search, seed 3, 4 cores.
    val key = col("key")
    requests.select(col("request_id"), key,
      coalesce(element_at(typedLit(hits), key),
        element_at(typedLit(fresh), key)).as("response"),
      coalesce(map_contains_key(typedLit(hits), key), lit(false))
        .as("cached"))
  }

  private val MemoSchema = StructType(Seq(
    StructField("key", StringType), StructField("response", StringType)))

  /** One index per qualified memo dir, process-wide (the role Spark's
    * FileStatusCache plays for file listings). */
  private val memoIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, MemoIndex]()

  /** The data files of the memo dir `root` read so far, and their
    * entries. Callers hold the instance's monitor. */
  private final class MemoIndex(fs: FileSystem, root: Path) {
    private var files = Set.empty[String]
    var entries = Map.empty[String, String]

    /** Level the index with the dir's data files. Entries already
      * indexed win over a duplicate key in a new file, so a key keeps
      * serving the bytes it was first served. */
    def refresh(spark: SparkSession): Unit = {
      val onDisk =
        try dataFiles(root).map(_.toString).toSet
        catch { case _: java.io.FileNotFoundException => Set.empty[String] }
      if (!files.subsetOf(onDisk)) { files = Set.empty; entries = Map.empty }
      val unseen = (onDisk -- files).toSeq
      if (unseen.nonEmpty) {
        val read = spark.read.schema(MemoSchema).parquet(unseen: _*)
          .collect().map(r => r.getString(0) -> r.getString(1))
        entries = read.toMap ++ entries
        files ++= unseen
      }
    }

    /** Write `rows` as one parquet file under a staging dir and rename it
      * into `root`, so the index knows exactly which file holds them (a
      * file another writer adds meanwhile stays unseen until read). */
    def append(spark: SparkSession, rows: Seq[(String, String)]): Unit = {
      val stage = new Path(root, s"_staging-${java.util.UUID.randomUUID}")
      spark.createDataFrame(rows).toDF("key", "response").coalesce(1)
        .write.parquet(stage.toString)
      try dataFiles(stage).foreach { f =>
        val to = new Path(root, f.getName)
        if (!fs.rename(f, to))
          throw new java.io.IOException(s"cannot move $f to $to")
        files += to.toString
      } finally fs.delete(stage, true)
      entries = rows.toMap ++ entries
    }

    /** A dir's data files: Spark's reader skips `_`- and `.`-prefixed
      * names (`_SUCCESS`, checksums, staging dirs), and so does this. */
    private def dataFiles(dir: Path): Iterator[Path] =
      fs.listStatus(dir).iterator
        .filter(st => st.isFile && !st.getPath.getName.matches("[_.].*"))
        .map(_.getPath)
  }
}
