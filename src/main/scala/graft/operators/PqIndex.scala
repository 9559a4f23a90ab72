package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization ANN (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
  * subvectors, quantize each against a per-subspace codebook, answer
  * queries with asymmetric distance computation (ADC) — the query stays
  * exact, every corpus vector costs one m-byte code lookup. The fourth
  * member of the ANN family (brute / sign-LSH / IVF / PQ): where IVF
  * prunes WHICH vectors are scored, PQ compresses HOW each is scored —
  * production systems compose them (IVF-PQ).
  *
  * Codebooks here are SAMPLED (codewords = sub-slices of the first
  * `nCodes` corpus rows — the same deterministic Faiss-niter=0
  * construction as IvfIndex.knnSampled), so every stage is relational and
  * the driver's SQL oracle replays encode, LUT, and ADC bit-for-bit.
  *
  * Scale shape: encoding is corpus×(m·nCodes broadcast rows) with
  * map-side-combined argmin — the code table (m small ints per vector) is
  * the only corpus-sized artifact, ~dim·4/m× smaller than the embeddings;
  * the ADC LUT is m·nCodes rows broadcast; the estimate is one
  * key-equality join + per-vector decimal sum. Nothing shuffles at
  * embedding width.
  */
object PqIndex {

  private val dec = DecimalType(28, 16)

  /** Exact decimal sum of squared per-position differences (squared L2) —
    * associative-exact like Similarity's decDot, so the oracle's
    * unnest+group sum matches bit for bit. */
  private def decL2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        (d * d).cast(dec)
      }),
      lit(java.math.BigDecimal.ZERO).cast(dec),
      (acc, v) => (acc + v).cast(dec))
      .cast("double")

  private def queryVec(emb: DataFrame, idCol: String, vecCol: String,
                       queryId: Long): Seq[Float] = {
    val rows = emb.filter(col(idCol) === queryId).select(col(vecCol)).take(1)
    require(rows.nonEmpty, s"query vector not found: $idCol = $queryId")
    rows.head.getSeq[Float](0)
  }

  private def slices(df: DataFrame, idCol: String, vecCol: String,
                     idAs: String, m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as(idAs),
        explode(array((0 until m).map(i => struct(
          lit(i).as("sub"),
          slice(col(vecCol), i * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col(idAs), col("s.sub").as("sub"), col("s.sv").as("sv"))

  /** Per-subspace sampled codebooks: (code, sub, cv) from the sub-slices
    * of rows idCol < nCodes. */
  def codebook(emb: DataFrame, idCol: String, vecCol: String,
               m: Int, subDim: Int, nCodes: Int): DataFrame =
    slices(emb.filter(col(idCol) < nCodes), idCol, vecCol, "code", m, subDim)
      .select(col("code").cast("int").as("code"), col("sub"),
        col("sv").as("cv"))

  /** PQ code table: (vid, sub, code) — per (vector, subspace) the nearest
    * codeword by decimal squared L2; min(struct(d, code)) → ties take the
    * smallest code. The only corpus-sized PQ artifact. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: DataFrame, m: Int, subDim: Int): DataFrame =
    slices(emb, idCol, vecCol, "vid", m, subDim).join(broadcast(cb), "sub")
      .groupBy(col("vid"), col("sub"))
      .agg(min(struct(decL2(col("sv"), col("cv")).as("d"),
        col("code").as("code"))).as("mn"))
      .select(col("vid"), col("sub"), col("mn.code").as("code"))

  /** ADC lookup table: exact query-subvector ↔ codeword distances. */
  def adcLut(cb: DataFrame, query: Seq[Float], subDim: Int): DataFrame = {
    val qslices = typedLit(query.grouped(subDim).map(_.toSeq).toSeq)
    cb.select(col("sub"), col("code"),
      decL2(col("cv"), element_at(qslices, col("sub") + 1)).as("qd"))
  }

  /** (vid, est): ADC-estimated squared L2 per encoded vector. */
  private def adcEstimates(enc: DataFrame, lut: DataFrame,
                           queryId: Long): DataFrame =
    enc.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vid") =!= queryId)
      .groupBy(col("vid"))
      .agg(sum(col("qd").cast(dec)).as("est"))

  private def topK(est: DataFrame, k: Int): DataFrame =
    est.orderBy(col("est").asc, col("vid").asc)
      .limit(k)
      .select(col("vid").as("vec_id"),
        round(col("est").cast("double"), 6).as("dist_est"))

  /** Steady-state PQ probe over a prebuilt code table + codebook: LUT
    * (m·nCodes broadcast rows) + one key-equality join + per-vector decimal
    * sum + top-k. The phase a deployment pays per query once codes are
    * stored; the bench's build/probe split times exactly this. */
  def probePq(enc: DataFrame, cb: DataFrame, query: Seq[Float],
              subDim: Int, queryId: Long, k: Int): DataFrame =
    topK(adcEstimates(enc, adcLut(cb, query, subDim), queryId), k)

  /** Top-k by ADC-estimated squared L2 (ascending; ties → smaller id).
    * `m` subspaces × `nCodes` codewords; embedding length must divide
    * evenly by `m`. */
  def knnPq(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
            k: Int, m: Int, nCodes: Int): DataFrame = {
    val query = queryVec(emb, idCol, vecCol, queryId)
    require(query.length % m == 0, s"dim ${query.length} not divisible by m=$m")
    val subDim = query.length / m
    val cb = codebook(emb, idCol, vecCol, m, subDim, nCodes)
    val enc = encode(emb, idCol, vecCol, cb, m, subDim)
    probePq(enc, cb, query, subDim, queryId, k)
  }

  /** Steady-state IVF-PQ probe over prebuilt artifacts (cell assignment,
    * FULL-corpus code table, codebook): probe-cell selection prunes the
    * assignment, a semi join restricts the code table to probed cells, and
    * ADC scores the survivors. This is the deployment phase — unlike
    * [[knnIvfPq]], which (to stay bit-replayable by a single oracle query)
    * encodes only the probed vectors per call. */
  def probeIvfPq(assigned: DataFrame, enc: DataFrame, cb: DataFrame,
                 emb: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], queryId: Long, k: Int,
                 nCells: Int, nprobe: Int, subDim: Int): DataFrame = {
    val probedIds = assigned
      .join(broadcast(
        IvfIndex.probeCells(emb, idCol, vecCol, query, nCells, nprobe)), "cell")
      .select(col(idCol).as("vid"))
    topK(adcEstimates(enc.join(probedIds, Seq("vid"), "left_semi"),
      adcLut(cb, query, subDim), queryId), k)
  }

  /** Persisted-index lifecycle for PQ (the IvfIndex.loadOrBuildSampled
    * pattern): codebook + FULL-corpus code table built once into
    * fingerprint-keyed parquet, loaded as plain scans afterwards. Encoding
    * is per-vector independent, so probing a full-corpus persisted code
    * table gives bit-identical results to the per-call probed-only encode
    * ([[knnIvfPq]]) — which is why the serving query shares its oracle.
    * At deployment scale the code table is written bucketed by the IVF
    * `cell` so a probe scans nprobe/nCells of the m-byte codes. */
  def loadOrBuildPq(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
                    srcTag: String, idCol: String, vecCol: String,
                    m: Int, subDim: Int, nCodes: Int): (DataFrame, DataFrame) = {
    val base = IvfIndex.artifact("pq-index", srcTag, emb, idCol, vecCol,
        m, nCodes) { tmp =>
      val cb = codebook(emb, idCol, vecCol, m, subDim, nCodes)
      cb.write.mode("overwrite").parquet(s"$tmp/codebook")
      encode(emb, idCol, vecCol, cb, m, subDim)
        .write.mode("overwrite").parquet(s"$tmp/codes")
      new java.io.File(tmp, "_SUCCESS").createNewFile()
    }
    (graft.Tables.parquet(spark, s"$base/codebook"),
      graft.Tables.parquet(spark, s"$base/codes"))
  }

  /** IVF-PQ composition — the production billion-scale layout: IVF cells
    * prune WHICH vectors are scored (only the nprobe cells nearest the
    * query), PQ codes compress HOW each survivor is scored (ADC lookups,
    * never the raw embedding). At write time the corpus is bucketed by
    * `cell` carrying only its m-byte code — a probe touches nprobe/nCells
    * of the data and never shuffles at embedding width. */
  def knnIvfPq(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
               k: Int, nCells: Int, nprobe: Int, m: Int,
               nCodes: Int): DataFrame = {
    val query = queryVec(emb, idCol, vecCol, queryId)
    require(query.length % m == 0, s"dim ${query.length} not divisible by m=$m")
    val subDim = query.length / m
    val probed = IvfIndex.assignSampled(emb, idCol, vecCol, nCells)
      .join(broadcast(
        IvfIndex.probeCells(emb, idCol, vecCol, query, nCells, nprobe)), "cell")
      .select(col(idCol), col(vecCol))
    val cb = codebook(emb, idCol, vecCol, m, subDim, nCodes)
    val enc = encode(probed, idCol, vecCol, cb, m, subDim)
    topK(adcEstimates(enc, adcLut(cb, query, subDim), queryId), k)
  }

  /** RESIDUAL IVF-PQ — the production detail [[knnIvfPq]] leaves out
    * (Jégou et al. TPAMI 2011 §IV.A, "IVFADC"; what Faiss's IndexIVFPQ
    * actually encodes): PQ codes quantize the residual x − centroid(cell),
    * not x itself. Residuals concentrate near zero once the coarse
    * quantizer has removed the cell's mean, so the same codebook budget
    * spends its resolution on the part of the vector the IVF has NOT
    * already explained — the reason every production IVF-PQ defaults to
    * residual encoding. Consequences carried faithfully here: the ADC
    * lookup table becomes PER-PROBED-CELL (the query's residual differs
    * per cell), costing nprobe·m·nCodes broadcast rows instead of
    * m·nCodes — still serving constants; codes join their estimate on
    * (cell, sub, code). All residual arithmetic is exact IEEE
    * subtraction on doubles, so the oracle replays the full chain
    * (assign → residual → codebook → encode → per-cell LUT → ADC)
    * bit-for-bit. Scale shape unchanged from knnIvfPq: the code table is
    * the only corpus-sized artifact, bucketed by cell at write time. */
  def knnIvfPqResidual(emb: DataFrame, idCol: String, vecCol: String,
                       queryId: Long, k: Int, nCells: Int, nprobe: Int,
                       m: Int, nCodes: Int): DataFrame = {
    val query = queryVec(emb, idCol, vecCol, queryId)
    require(query.length % m == 0, s"dim ${query.length} not divisible by m=$m")
    val subDim = query.length / m
    val assigned = IvfIndex.assignSampled(emb, idCol, vecCol, nCells)
    val cents = emb.filter(col(idCol) < nCells)
      .select(col(idCol).cast("int").as("cell"),
        transform(col(vecCol), x => x.cast("double")).as("cd"))
    val probeC = IvfIndex.probeCells(emb, idCol, vecCol, query, nCells, nprobe)
    def residual(vec: Column): Column =
      zip_with(vec, col("cd"), (x, c) => x.cast("double") - c)
    // probed vectors' residuals (the knnIvfPq probed-only-encode pattern,
    // which is what keeps the whole chain single-oracle-replayable)
    val res = assigned.join(broadcast(probeC), "cell")
      .join(broadcast(cents), "cell")
      .select(col(idCol), col("cell"), residual(col(vecCol)).as("rv"))
    // residual codebook: the first nCodes rows' residuals w.r.t. their
    // OWN cells (the sampled-codebook construction, applied post-coarse)
    val seedRes = assigned.filter(col(idCol) < nCodes)
      .join(broadcast(cents), "cell")
      .select(col(idCol), residual(col(vecCol)).as("rv"))
    val cb = codebook(seedRes, idCol, "rv", m, subDim, nCodes)
    val enc = encode(res, idCol, "rv", cb, m, subDim)
    // per-probed-cell query-residual ADC LUT
    val qlit = typedLit(query.map(_.toDouble))
    val lut = cents.join(broadcast(probeC), "cell")
      .select(col("cell"),
        zip_with(qlit, col("cd"), (x, c) => x - c).as("qr"))
      .crossJoin(broadcast(cb))
      .select(col("cell"), col("sub"), col("code"),
        decL2(col("cv"),
          slice(col("qr"), col("sub") * subDim + 1, lit(subDim))).as("qd"))
    val est = enc
      .join(res.select(col(idCol).as("vid"), col("cell")), "vid")
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .filter(col("vid") =!= queryId)
      .groupBy(col("vid"))
      .agg(sum(col("qd").cast(dec)).as("est"))
    topK(est, k)
  }
}
