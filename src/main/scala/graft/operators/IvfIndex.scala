package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour index: k-means
  * centroids partition the corpus into cells; a query scores only the
  * `nprobe` cells whose centroids are closest to it. The standard
  * billion-scale ANN layout — at 100 TB the assignment column is just
  * another partition key (write the corpus bucketed by `cell` and a probe
  * reads nprobe/k of the data; Catalyst prunes the rest).
  *
  * Complements the sign-block LSH path (Similarity.knnLsh): LSH needs no
  * training and gives fixed buckets; IVF adapts cells to the data
  * distribution at the cost of a (seeded, deterministic) training pass.
  */
object IvfIndex {

  /** Corpus with an assigned `cell` column + the fitted centroids.
    * Deterministic for a fixed seed and input. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            k: Int, seed: Long = 42L): (DataFrame, Array[Array[Float]]) = {
    val withFeatures = emb.withColumn("features", array_to_vector(col(vecCol)))
    // cosine distance so the training metric matches the probe/scoring
    // metric (Euclidean cells mis-place high-magnitude clusters for cosine
    // search); few iterations suffice for cell assignment (cells need to be
    // balanced, not optimal); deterministic for a fixed seed + input
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(8)
      .setDistanceMeasure("cosine")
      .setFeaturesCol("features")
      .fit(withFeatures)
    val assigned = model.transform(withFeatures)
      .select(col(idCol), col(vecCol), col("prediction").as("cell"))
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    (assigned, centroids)
  }

  /** Deterministic IVF with SAMPLED centroids — the Faiss `niter=0`
    * construction (centroids are corpus rows, no Lloyd iterations): cell
    * `i` is seeded by the embedding of `idCol = i` for `i < nCells`. Every
    * stage — centroid assignment (per-row argmax of decimal-exact cosines),
    * probe selection (an nCells-row sort), candidate pruning, exact
    * rerank — is a relational op, so the driver's SQL oracle replays the
    * WHOLE index bit-for-bit. The trained-KMeans variant (build/knn above)
    * adapts cells to the data but its trainer is not SQL-expressible; it
    * stays spec-gated (OperatorsSpec recall assertions) while this variant
    * carries the driver-visible correctness gate.
    *
    * Scale shape is identical to trained IVF: assignment is the relational
    * argmax — corpus × broadcast(nCells seed rows), ONE decimal cosine per
    * pair, map-side-combined `max(struct(cos, -cell))` (partial aggregation
    * collapses each vector's nCells candidates before the exchange, so the
    * shuffle is corpus-sized, not corpus×nCells) — at write time the result
    * is the bucketing column; probe selection is an nCells-row broadcast,
    * and only nprobe cells' rows are exactly scored.
    *
    * The pair-join formulation replaced a per-row expression holding
    * 2·nCells inlined decimal cosines (array_position(cc, array_max(cc))
    * evaluates the array twice and CollapseProject re-inlines any attempt
    * to bind it): at sf0.1 that expression's codegen+eval made v_knn_ivf
    * the slowest declared query (6.3 s); the join form is the oracle's own
    * shape and measured 1.5× faster (4.3 s, still decimal-bound — the
    * remaining cost is the exact-arithmetic contract itself, which the
    * FloatCosine/knnLsh paths trade away for throughput). */
  /** Sampled-centroid cell assignment: (idCol, vecCol, cell) — the
    * relational argmax over corpus × broadcast(seed) exact cosines; ties →
    * smallest cell. Shared by [[knnSampled]] and [[PqIndex.knnIvfPq]]. */
  def assignSampled(emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int): DataFrame =
    assignSampledWith(emb, emb, idCol, vecCol, nCells)

  /** [[assignSampled]] with the seed table drawn from a SEPARATE frame —
    * the incremental-maintenance entry point: an appended batch assigns
    * against the EXISTING index's centroids (`seedSrc` = the original
    * corpus), so index maintenance costs one batch-sized argmax pass, never
    * a rebuild. Because sampled-centroid assignment is per-row independent,
    * append-then-probe is bit-identical to rebuild-then-probe (the
    * v_knn_ivf_append gate proves it under the oracle hash). */
  def assignSampledWith(corpus: DataFrame, seedSrc: DataFrame, idCol: String,
                        vecCol: String, nCells: Int): DataFrame = {
    // BOUNDED driver materialization: exactly nCells centroid rows (the
    // same class as the k-means model collect) — the index's trained
    // parameters, not corpus data. cn2 is collected from the SAME
    // decNorm2 expression the former broadcast carried, so the per-cell
    // norm doubles are bit-identical.
    val seedRows = seedSrc.filter(col(idCol) < nCells)
      .select(col(idCol).cast("int").as("cell"), col(vecCol).as("ce"),
        Similarity.decNorm2(col(vecCol)).as("cn2"))
      .orderBy("cell").collect()
    require(seedRows.length == nCells &&
      seedRows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"need ids 0..${nCells - 1} as seeds, found ${seedRows.length}")
    val cents: Array[Array[Double]] = seedRows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val cn2s: Array[Double] = seedRows.map(_.getDouble(2))
    // assignment is now ONE per-row codegen'd expression (double
    // prefilter + decimal rerank, provably the same argmax — see
    // AssignCellExpr): the corpus is scanned once and NOTHING shuffles;
    // the former corpus × broadcast(seeds) explosion (N×k rows through a
    // shuffled max(struct) agg) no longer exists. Same (idCol, vecCol,
    // cell) output, same doubles, same ties, same hashes.
    import org.apache.spark.sql.GraftPlanBridge
    corpus.select(col(idCol), col(vecCol),
      GraftPlanBridge.exprColumn(graft.functions.AssignCellExpr(
        GraftPlanBridge.columnExpr(col(vecCol)), cents, cn2s, 1e-6))
        .cast("int").as("cell"))
  }

  /** Content fingerprint for persisted-index cache keys, in ONE narrow
    * aggregation: (row count, bit_xor of xxhash64(id, whole vector)).
    * Order-independent, per-row independent, and a mutation of ANY
    * component of any vector at FIXED cardinality changes it — the
    * round-11 stale-cache hazard (a regenerated same-row-count corpus
    * silently served the old index when the key was dir+count alone).
    * bit_xor, not sum: a Long sum of 64-bit hashes overflows under ANSI.
    * Cost: one scan of two columns, amortized over the index lifetime. */
  def corpusFingerprint(emb: DataFrame, idCol: String,
                        vecCol: String): (Long, String) = {
    val r = emb.agg(
      count(lit(1)),
      expr(s"bit_xor(xxhash64($idCol, $vecCol))")).first()
    val fp = if (r.isNullAt(1)) 0L else r.getLong(1)
    (r.getLong(0), java.lang.Long.toHexString(fp).take(12))
  }

  /** Build-once publication with an ATOMIC rename: builders write into a
    * private tmp sibling and rename it to the final path, so a concurrent
    * reader never observes a half-written index and a concurrent builder
    * race resolves to whichever rename wins (both artifacts are equivalent
    * — the path embeds the content fingerprint). The tmp sibling never
    * outlives the call: it is deleted when the rename loses and when the
    * build throws (the exception reaches the caller, and the next call
    * builds afresh). */
  def publishOnce(path: java.io.File)(build: String => Unit): Unit = {
    if (new java.io.File(path, "_SUCCESS").exists()) return
    val tmp = new java.io.File(path.getParentFile,
      path.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    try { build(tmp.toString); tmp.renameTo(path) }
    finally deleteRecursively(tmp)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }

  /** The one persisted-artifact key and lifecycle: the artifact of `kind`
    * lives under java.io.tmpdir at a path keyed by the source tag (MD5),
    * the build `params` and the corpus content ([[corpusFingerprint]]: row
    * count + content xor), so a changed corpus rebuilds rather than
    * serving a stale artifact even at identical cardinality. It is built
    * once through [[publishOnce]] (the build must leave a root `_SUCCESS`
    * marker, as a parquet write does) and its path returned. The
    * fingerprint is memoized ([[memoFingerprint]]), so a later call on an
    * unchanged corpus costs no job before the caller's own read. */
  def artifact(kind: String, srcTag: String, emb: DataFrame, idCol: String,
               vecCol: String, params: Any*)(build: String => Unit): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(srcTag.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val (n, fp) = memoFingerprint(emb, idCol, vecCol)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      (Seq("graft", kind, digest) ++ params ++ Seq(n, fp)).mkString("-"))
    publishOnce(path)(build)
    path.toString
  }

  /** [[corpusFingerprint]] once per JVM for a corpus whose content is
    * pinned by its plan and files: the key is the canonicalized analyzed
    * plan (what `sameResult` compares, so two loads of one table match)
    * plus the name, length and mtime of every input file, so rewriting a
    * source file at the same path misses. Only a deterministic plan whose
    * leaves are all file scans or local relations is memoized; any other
    * leaf (a checkpoint, an RDD, a stream) has content the key cannot
    * see, and such a corpus is scanned on every call as before. */
  private def memoFingerprint(emb: DataFrame, idCol: String,
                              vecCol: String): (Long, String) = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = emb.queryExecution.analyzed
    val pinned = plan.deterministic && plan.collectLeaves().forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation => true
      case _ => false
    }
    val key = if (!pinned) None
      else graft.Tables.stamp(emb.sparkSession, emb.inputFiles.toSeq)
        .map((plan.canonicalized, _, idCol, vecCol))
    key.flatMap(k => Option(fingerprints.get(k))).getOrElse {
      val r = corpusFingerprint(emb, idCol, vecCol)
      key.foreach(fingerprints.putIfAbsent(_, r))
      r
    }
  }

  private val fingerprints = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Seq[(String, Long, Long)], String, String), (Long, String)]()

  /** Persisted-index lifecycle: load the sampled-centroid assignment from a
    * parquet index table, building it ONCE if absent — the production
    * serving path, where the IVF build is an offline indexing job and a
    * query pays only the probe. Keyed and published by [[artifact]]
    * (source dir + nCells + corpus content); within a session/benchmark,
    * every call after the first is a plain parquet scan.
    * At scale the same artifact is the corpus's bucketing column (write
    * the corpus bucketed by `cell`; a probe reads nprobe/nCells of it). */
  def loadOrBuildSampled(spark: SparkSession, emb: DataFrame, srcTag: String,
                         idCol: String, vecCol: String, nCells: Int): DataFrame =
    graft.Tables.parquet(spark, artifact("ivf-index", srcTag, emb, idCol, vecCol,
        nCells) { tmp =>
      assignSampled(emb, idCol, vecCol, nCells)
        .write.mode("overwrite").parquet(tmp)
    })

  /** The nprobe cells nearest the query, IN-PLAN with the same
    * decimal-exact cosine as the oracle — a driver-side double-math sort
    * could flip near-tied centroids and silently probe different cells
    * than the oracle. */
  def probeCells(emb: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], nCells: Int, nprobe: Int): DataFrame =
    emb.filter(col(idCol) < nCells)
      .select(col(idCol).cast("int").as("cell"),
        Similarity.cosineToQuery(col(vecCol), query).as("qc"))
      .orderBy(col("qc").desc, col("cell").asc)
      .limit(nprobe)
      .select("cell")

  /** Steady-state probe phase over a prebuilt assignment: probe-cell
    * selection (nCells-row broadcast) + key-equality join + exact rerank.
    * Split out so a deployment — which builds the assignment once and
    * stores it as the corpus's bucketing column — and the bench's
    * build/probe split both pay exactly this and nothing else. */
  def probeSampled(assigned: DataFrame, emb: DataFrame, idCol: String,
                   vecCol: String, query: Seq[Float], queryId: Long,
                   k: Int, nCells: Int, nprobe: Int): DataFrame = {
    val probeDf = probeCells(emb, idCol, vecCol, query, nCells, nprobe)
    assigned.join(broadcast(probeDf), "cell")
      .filter(col(idCol) =!= queryId)
      .select(col(idCol).as("vec_id"),
        Similarity.cosineToQuery(col(vecCol), query).as("c_raw"))
      .orderBy(col("c_raw").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
  }

  def knnSampled(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, nCells: Int, nprobe: Int): DataFrame = {
    val queryRows = emb.filter(col(idCol) === queryId).select(col(vecCol)).take(1)
    require(queryRows.nonEmpty, s"query vector not found: $idCol = $queryId")
    val query: Seq[Float] = queryRows.head.getSeq[Float](0)
    val assigned = assignSampled(emb, idCol, vecCol, nCells)
    probeSampled(assigned, emb, idCol, vecCol, query, queryId, k, nCells, nprobe)
  }

  /** Top-k by exact cosine among the nprobe nearest cells to the query. */
  def knn(assigned: DataFrame, centroids: Array[Array[Float]],
          idCol: String, vecCol: String,
          query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    // driver-side: pick the nprobe closest centroids (k entries, trivial)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / math.max(na * nb, 1e-12) // zero-norm guard: never NaN
    }
    val probeCells = centroids.zipWithIndex
      .sortBy { case (c, i) => (-cos(query, c.toSeq), i) }
      .take(nprobe).map(_._2)
    assigned
      .filter(col("cell").isin(probeCells.map(Integer.valueOf(_)): _*))
      .select(col(idCol).as("vec_id"),
        Similarity.cosineToQuery(col(vecCol), query).as("c_raw"))
      .orderBy(col("c_raw").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
  }
}
