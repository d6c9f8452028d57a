package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

import graft.functions.{VectorExpressions => V}

/** Embedding-vector similarity operators.
  *
  * Arithmetic design: components are quantized to integers
  * (`round(x * 1000)` held in doubles). Sums of small integers are EXACT in
  * IEEE double regardless of association order, so dot products and norms
  * are bit-identical between Spark's partial aggregation and any oracle —
  * cosine = dot / sqrt(na*nb) then differs by zero, making similarity
  * thresholds and top-k orderings deterministic.
  *
  * Every search entry point (the `knn*` family, [[hardNegatives]] and
  * their standing-index variants) is a preset over ONE retrieval
  * skeleton, the FAISS index-factory decomposition (Douze et al.,
  * arXiv:2401.08281), after the probe/corpus projection step
  * ([[probeSide]] / [[corpusSide]]):
  *  - candidate source: all rows (a cross join against the broadcast
  *    probes), IVF probed lists ([[probedLists]]) or LSH buckets
  *    ([[candidatePairs]]);
  *  - code: exact cosine ([[exactCos]]), PQ lookup tables + ADC sum
  *    ([[withLuts]] / [[adcSum]]) or SQ8 bytes ([[withSq8Terms]] /
  *    [[sq8Approx]]), all scored by [[scorePairs]] with the self-pair
  *    filter;
  *  - selector: the exact top-k window ([[topK]]) or, for approximate
  *    codes, the refine selector ([[refineSet]]: bounded heaps in query
  *    mode, the finite-filtered window in batch mode);
  *  - exact re-rank of the refine set ([[rerank]]).
  * Catalyst plans the same DataFrame whichever helper builds it, so the
  * presets cost nothing over hand-written plans.
  *
  * All expressions are codegen'd column functions (zip_with/aggregate);
  * no UDFs.
  */
object VectorOps {

  /** Quantize a float-array embedding to integer-valued doubles. */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale))

  /** Exact dot product of two quantized vectors (order-independent —
    * integer-valued doubles sum exactly). Custom codegen'd expression:
    * the zip_with/aggregate equivalent is CodegenFallback and ~100x
    * slower on the pairwise hot path.
    */
  def dot(a: Column, b: Column): Column =
    V.dot(a, b)

  /** Squared L2 norm of a quantized vector. */
  def norm2(v: Column): Column = dot(v, v)

  /** Spread rows across the session's shuffle parallelism ONLY when the
    * source scans narrower than it: a single small parquet file (one scan
    * partition) would serialize all per-row vector math onto one core,
    * while a cluster-scale table is already partitioned and must NOT pay
    * a full-vector exchange here (Tables.spreadIfNarrow).
    */
  private def spread(df: DataFrame): DataFrame =
    graft.Tables.spreadIfNarrow(df)

  /** Cosine similarity from quantized vectors + precomputed squared norms. */
  def cosine(dotAb: Column, n2a: Column, n2b: Column): Column =
    dotAb / sqrt(n2a * n2b)

  /** Projection step: `idCol` as `id`, an optional (label, renamed) column,
    * and the quantized vector as `q`.
    */
  private def quantizedAs(
      df: DataFrame, idCol: String, vecCol: String, id: String, q: String,
      label: Option[(String, String)] = None): DataFrame =
    df.select(col(idCol).as(id) +:
      label.map { case (l, as) => col(l).as(as) }.toSeq :+
      quantize(col(vecCol)).as(q): _*)

  /** [[quantizedAs]] plus the squared norm as `n2`. */
  private def vectors(
      df: DataFrame, idCol: String, vecCol: String, id: String, q: String,
      n2: String, label: Option[(String, String)] = None): DataFrame =
    quantizedAs(df, idCol, vecCol, id, q, label).withColumn(n2, norm2(col(q)))

  /** Probe side of every search: (probe_id, [p_label], pq, pn2). The
    * caller decides whether to [[spread]] the frame first.
    */
  private def probeSide(df: DataFrame, idCol: String, vecCol: String,
      label: Option[String] = None): DataFrame =
    vectors(df, idCol, vecCol, "probe_id", "pq", "pn2",
      label.map(_ -> "p_label"))

  /** (corpus_id, [c_label], cq) — the internal projection the index
    * trainers sample and the index encoders assign.
    */
  private def corpusCodes(df: DataFrame, idCol: String, vecCol: String,
      label: Option[String] = None): DataFrame =
    quantizedAs(df, idCol, vecCol, "corpus_id", "cq", label.map(_ -> "c_label"))

  /** Corpus side of every search: (corpus_id, [c_label], cq, cn2). */
  private def corpusSide(df: DataFrame, idCol: String, vecCol: String,
      label: Option[String] = None): DataFrame =
    corpusCodes(df, idCol, vecCol, label).withColumn("cn2", norm2(col("cq")))

  /** Candidate-source step: corpus rows paired with probe rows — all of
    * them (no `key`: a cross join against the broadcast probes), or those
    * sharing an IVF list / LSH bucket `key` (an equi-join whose probe side
    * broadcasts in query mode and shuffles in batch mode).
    */
  private def candidatePairs(c: DataFrame, p: DataFrame,
      key: Option[String] = None, broadcastProbes: Boolean = true): DataFrame =
    key.fold(c.crossJoin(broadcast(p)))(k =>
      c.join(if (broadcastProbes) broadcast(p) else p, k))

  /** The IVF candidate source's probe rows: the `keep` columns once per
    * probed list (`list`, the probe's `nProbe` nearest unit centroids —
    * one fused argmin map per probe).
    */
  private def probedLists(p: DataFrame, keep: Seq[String],
      mat: Array[Array[Double]], nProbe: Int): DataFrame =
    p.select(keep.map(col) :+
      explode(V.nearestCentroids(col("pq"), mat, nProbe)).as("list"): _*)

  /** Scoring step: (probe_id, corpus_id, [keep], score) over candidate
    * pairs; self-pairs — and with `labels`, same-label pairs, the
    * hard-negative JOIN predicate — are dropped before scoring.
    */
  private def scorePairs(pairs: DataFrame, score: Column,
      labels: Boolean = false, keep: Seq[String] = Nil): DataFrame = {
    val kept = pairs.filter(col("probe_id") =!= col("corpus_id"))
    (if (labels) kept.filter(!(col("p_label") <=> col("c_label"))) else kept)
      .select(Seq(col("probe_id"), col("corpus_id")) ++ keep.map(col) :+
        score: _*)
  }

  /** Exact code: the cosine of the quantized probe and corpus vectors. */
  private def exactCos: Column =
    cosine(dot(col("pq"), col("cq")), col("pn2"), col("cn2")).as("cos")

  /** Finite-score predicate of the ANN paths. A zero-norm corpus vector
    * makes its score non-finite (NaN sorts as LARGEST in Spark, so it
    * would squat at the top of every probed list); one predicate excludes
    * NaN, NULL and both infinities. The brute paths do not apply it.
    */
  private def finite(score: String): Column =
    abs(col(score)) < lit(Double.PositiveInfinity)

  /** PQ code: per-subspace codebooks, Lloyd's over the sample's subvectors
    * (`m` slices of dim/m).
    */
  private def trainCodebooks(rows: Array[Array[Double]], m: Int,
      codebookSize: Int): Array[Array[Array[Double]]] = {
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m)(j => lloydLocal(
      rows.map(_.slice(j * sub, (j + 1) * sub)), codebookSize, TrainIters))
  }

  /** PQ encode: code0..code{m-1}, one fused argmin map per subspace over
    * the sliced `src` vector.
    */
  private def pqEncode(df: DataFrame, src: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val sub = codebooks.head.head.length
    codebooks.indices.foldLeft(df) { (d, j) =>
      d.withColumn(s"code$j",
        V.nearestCentroid(slice(col(src), j * sub + 1, sub), codebooks(j)))
    }
  }

  /** PQ probe lookup tables: lut0..lut{m-1}, dot(probe subvector,
    * codeword) for every codeword of each subspace.
    */
  private def withLuts(
      p: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val sub = codebooks.head.head.length
    codebooks.indices.foldLeft(p) { (df, j) =>
      df.withColumn(s"lut$j", array(codebooks(j).map(cw =>
        dot(slice(col("pq"), j * sub + 1, sub), typedlit(cw.toSeq))): _*))
    }
  }

  /** PQ ADC: the sum of m table lookups on a corpus row's codes — the
    * approximate dot product, no vector math per pair.
    */
  private def adcSum(m: Int): Column =
    (0 until m).map(j => element_at(col(s"lut$j"), col(s"code$j") + 1))
      .reduce(_ + _)

  /** SQ8 probe precompute: the scalar base term dot(p, mins) and the
    * delta-scaled probe vector `sp` (zip_with is CodegenFallback but runs
    * once per PROBE, not per pair).
    */
  private def withSq8Terms(p: DataFrame, m: Sq8Model): DataFrame =
    p.withColumn("base", dot(col("pq"), typedlit(m.mins.toSeq)))
      .withColumn("sp",
        zip_with(col("pq"), typedlit(m.deltas.toSeq), (a, b) => a * b))

  /** SQ8 code: dot(p, decode(codes)) over the corpus norm — base plus the
    * fused byte-unpack multiply-add per pair.
    */
  private def sq8Approx: Column =
    ((col("base") + V.sq8Dot(col("sp"), col("codes"))) / sqrt(col("cn2")))
      .as("approx")

  /** The selector's order: per `key`, `score` descending, ties to the
    * lowest `tie`.
    */
  private def ranked(key: String = "probe_id", score: String = "cos",
      tie: String = "corpus_id"): WindowSpec =
    Window.partitionBy(key).orderBy(col(score).desc, col(tie).asc)

  /** Exact top-`n` selector: the rows ranked 1..n per key in [[ranked]]
    * order, the rank kept in `rk`.
    */
  private def topK(df: DataFrame, n: Int, rk: String = "rk",
      key: String = "probe_id", score: String = "cos",
      tie: String = "corpus_id"): DataFrame =
    df.withColumn(rk, row_number().over(ranked(key, score, tie)))
      .filter(col(rk) <= n)

  /** Refine selector: the top-`refine` (probe_id, corpus_id) pairs per
    * probe by `approx`. Query mode (`broadcastProbes`): partition-local
    * bounded heaps ([[topNPerKey]]; few keys, heap state keys×refine rows
    * per task). Batch mode: probes are a large relation, so selection is
    * the finite-filtered window, which distributes because rows-per-probe
    * is bounded by the probed list sizes while heap state would be
    * millions of keys per task.
    */
  private def refineSet(
      scored: DataFrame, refine: Int, broadcastProbes: Boolean): DataFrame =
    (if (broadcastProbes)
      topNPerKey(scored, "probe_id", "approx", "corpus_id", refine)
    else topK(scored.filter(finite("approx")), refine, "__rk",
      score = "approx")).select("probe_id", "corpus_id")

  /** Global top-`n` rows per `key` by (`score` desc, `tie` asc) WITHOUT
    * window-sorting the full input: phase 1 keeps each partition's top-n
    * per key in a bounded heap (mapPartitions, no shuffle — every global
    * winner is necessarily one of its partition's local winners), phase 2
    * ranks only the ≤ partitions×n survivors per key. The p06
    * quota-sampling argument applied to scored candidates: the ADC scan's
    * output is (probes × corpus) rows, and a plain `row_number` window
    * here was exactly the one-task-per-probe full sort the ScaleProbe
    * caught (100×1M rows: 25 → 12 s). Callers must project the input to
    * the scalar (key, score, tie) triple first — mapPartitions
    * deserializes every column it is given, and feeding the fat
    * vector/LUT rows through the heaps cost more than the window sort it
    * replaced (30 s). Heap memory per task is keys×n rows.
    */
  private def topNPerKey(
      df: DataFrame, key: String, score: String, tie: String, n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    val ki = df.schema.fieldIndex(key)
    val si = df.schema.fieldIndex(score)
    val ti = df.schema.fieldIndex(tie)
    // max-heap on (-score, tie): root = smallest score / largest tie =
    // the worst kept row, replaced when a better one arrives
    val ord = Ordering.by[(Double, Long, Row), (Double, Long)] {
      case (s, t, _) => (-s, t)
    }
    // non-finite scores break heap ordering — NaN fails both `s > ws` and
    // `s == ws`, so such a row would squat in an underfull heap forever
    val local = df.filter(finite(score)).mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long, Row)]]
      it.foreach { r =>
        val k = r.getLong(ki)
        val s = r.getDouble(si)
        val t = r.getLong(ti)
        val h = heaps.getOrElseUpdate(k,
          scala.collection.mutable.PriorityQueue.empty(ord))
        if (h.size < n) h.enqueue((s, t, r))
        else {
          val (ws, wt, _) = h.head
          if (s > ws || (s == ws && t < wt)) { h.dequeue(); h.enqueue((s, t, r)) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }(enc)
    topK(local, n, "__rk", key, score, tie).drop("__rk")
  }

  /** Re-rank step: exact cosine top-`k` over a small (probe_id,
    * corpus_id) candidate set — vectors re-attach via one narrow corpus
    * join + a probe join (broadcast in query mode, shuffled when the probe
    * set is a large relation), then a window over ≤ refine rows per probe.
    */
  private def rerank(
      candidates: DataFrame, c: DataFrame, p: DataFrame, k: Int,
      broadcastProbes: Boolean = true): DataFrame =
    topK(candidates.join(c, "corpus_id")
      .join(if (broadcastProbes) broadcast(p) else p, "probe_id")
      .select(col("probe_id"), col("corpus_id"), exactCos), k)

  /** The IVF search core: exact cosine top-k over each probe's `nProbe`
    * probed lists of an assigned corpus (corpus_id, [c_label], cq, cn2,
    * list). Non-finite cosines are dropped in both physical modes, which
    * keeps batch/query equivalence.
    */
  private def ivfSearch(p: DataFrame, assigned: DataFrame,
      mat: Array[Array[Double]], k: Int, nProbe: Int,
      broadcastProbes: Boolean, labels: Boolean): DataFrame = {
    val lists = probedLists(p,
      Seq("probe_id", "pq", "pn2") ++ Option.when(labels)("p_label"),
      mat, nProbe)
    topK(scorePairs(
      candidatePairs(assigned, lists, Some("list"), broadcastProbes),
      exactCos, labels).filter(finite("cos")), k)
  }

  /** Rows the ANN model-training sample is drawn from / the cap on
    * driver-held training data: the FAISS `train()` shape — centroids and
    * codebooks are fit on a bounded deterministic sample, never the
    * corpus, so driver model state stays ≤ TrainSample × dim doubles at
    * any corpus size.
    */
  private val TrainSample = 4096
  private val TrainIters = 5

  /** Training-sample size for a model with `modelSizes` centroids /
    * codewords: at least [[TrainSample]], and at least 64 points per
    * fitted centroid (FAISS warns below ~39 points/centroid — a 4096-row
    * sample is far too thin for a 1024-centroid model, and silently
    * DROPPING centroids when the sample is smaller than the model, as a
    * bare `min(k, sample)` does, is worse still). Still driver-bounded:
    * the largest realistic model (1024 centroids) collects 64k rows.
    */
  private def trainSampleSize(modelSizes: Int*): Int =
    math.max(TrainSample, 64 * modelSizes.max)

  /** Deterministic training sample: up to `n` quantized vectors in
    * xxhash64-order (then id-sorted, so downstream index ties are
    * lowest-id ties). Expects the internal (corpus_id, cq) projection.
    */
  private def sampleVecs(c: DataFrame, n: Int): Array[Array[Double]] = {
    val rows = c.orderBy(xxhash64(col("corpus_id")), col("corpus_id"))
      .limit(n)
      .select(col("corpus_id"), col("cq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map(_._2)
    require(rows.nonEmpty,
      "ANN index training needs a non-empty corpus (0 sample vectors)")
    rows
  }

  /** Driver-side Lloyd's k-means over a bounded sample — the trainer
    * behind IVF centroids and PQ codebooks (r6; previously both used raw
    * hash-order sample rows, which cost recall). Plain sequential Scala:
    * deterministic (no partial-aggregation order, no RNG), zero Spark
    * jobs per iteration, and legitimate driver state because the input is
    * already capped at [[TrainSample]] rows. Same semantics as the
    * distributed kmeansCore: squared-L2 argmin with lowest-index ties,
    * mean = sum/count, empty clusters keep their previous centroid. `k`
    * silently shrinks to the sample size when the corpus is smaller than
    * the requested codebook/centroid count (the small-corpus case — every
    * vector becomes its own centroid and the index is exact).
    */
  private def lloydLocal(
      samples: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val kEff = math.min(k, samples.length)
    val dim = samples.head.length
    var cents = samples.take(kEff).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      samples.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < kEff) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - cents(i)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kEff) { i =>
        if (counts(i) == 0L) cents(i)
        else {
          val mean = new Array[Double](dim)
          var j = 0
          while (j < dim) { mean(j) = sums(i)(j) / counts(i); j += 1 }
          mean
        }
      }
    }
    cents
  }

  /** L2-normalize trained centroids so squared-L2 argmin over them equals
    * cosine argmax (the knnIvf list-assignment trick).
    */
  private def normalized(cents: Array[Array[Double]]): Array[Array[Double]] =
    cents.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }

  /** A trained IVF index model: the normalized list centroids. At 100 TB
    * index BUILD is its own job — train once over the standing corpus,
    * persist, and let every query/batch job reload instead of re-sampling
    * and re-running Lloyd's per call ([[knnIvf]]'s `model` parameter).
    * Stored as plain parquet (list_id, centroid) — no custom format, any
    * engine can read it, and saving N×dim doubles is trivially cheap next
    * to the corpus scan it saves.
    */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid")
        .repartition(1).write.mode("overwrite").parquet(path)
    }
  }

  object IvfModel {
    def load(spark: SparkSession, path: String): IvfModel =
      IvfModel(spark.read.parquet(path)
        .orderBy("list_id")
        .collect()
        .map(_.getSeq[Double](1).toArray))
  }

  /** Train an [[IvfModel]] exactly as [[knnIvf]] would inline: bounded
    * deterministic sample → driver Lloyd's → L2 normalization.
    */
  def trainIvfModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 32): IvfModel =
    trainIvfFrom(corpusCodes(spread(corpus), idCol, vecCol), nCentroids)

  /** [[trainIvfModel]] over the internal (corpus_id, cq) projection —
    * what index MAINTENANCE retrains from: the standing assigned table
    * already stores quantized vectors, and re-quantizing them would
    * re-scale (tools.AnnMaintain).
    */
  private[graft] def trainIvfFrom(
      c: DataFrame, nCentroids: Int): IvfModel =
    IvfModel(normalized(lloydLocal(
      sampleVecs(c, trainSampleSize(nCentroids)), nCentroids, TrainIters)))

  /** Materialized IVF assignment — the standing INVERTED LISTS table
    * (corpus_id, cq, cn2, list, resid) an incrementally-maintained index
    * persists: at 100 TB each corpus vector is assigned ONCE when it is
    * admitted, not once per query ([[knnIvfPreAssigned]] reads this table
    * directly). `resid` = 1 − cos(vector, assigned unit centroid) — a
    * scale-free per-row coverage residual whose corpus mean is the drift
    * baseline maintenance compares incoming batches against
    * (tools.AnnMaintain; zero-norm vectors yield non-finite resid and are
    * excluded from the stat, the knnIvf degenerate-vector convention).
    */
  def assignLists(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfModel): DataFrame =
    assignQuantized(corpusCodes(spread(corpus), idCol, vecCol), model)

  /** [[assignLists]] over the internal (corpus_id, cq) projection. */
  private[graft] def assignQuantized(
      c: DataFrame, model: IvfModel): DataFrame = {
    val mat = model.centroids
    c.withColumn("cn2", norm2(col("cq")))
      .withColumn("list", V.nearestCentroid(col("cq"), mat))
      .withColumn("resid", lit(1.0) -
        V.centroidDot(col("cq"), col("list"), mat) / sqrt(col("cn2")))
  }

  /** [[knnIvf]] over a PRE-ASSIGNED corpus ([[assignLists]] output): the
    * production query path for a standing index — no training and no
    * corpus-side assignment per query; the per-query work is probe-side
    * only (nProbe fused argmins + the list equi-join over the probed
    * lists). Row-identical to [[knnIvf]] under the same model
    * (spec-asserted); `broadcastProbes` mirrors knnIvf's physical switch.
    */
  def knnIvfPreAssigned(
      probes: DataFrame,
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfModel,
      nProbe: Int = 8,
      broadcastProbes: Boolean = true): DataFrame =
    ivfSearch(probeSide(spread(probes), idCol, vecCol), assigned,
      model.centroids, k, nProbe, broadcastProbes, labels = false)

  /** A trained IVFPQ index model: the UN-normalized Lloyd list centroids
    * (assignment normalizes, residuals subtract the data-scale mean —
    * see [[knnIvfPq]]) plus the `m` shared sub-space codebooks. Same
    * build-once/query-many role as [[IvfModel]]; persists as two plain
    * parquet tables under one root.
    */
  final case class IvfPqModel(
      rawCentroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      residual: Boolean = true) {
    /** Subspace count — the codes' geometry, derivable from the saved
      * codebooks, so a loaded model can never be mis-sliced.
      */
    def m: Int = codebooks.length
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      rawCentroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid")
        .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, ci) => (j, ci, cw.toSeq) }
      }.toSeq
        .toDF("subspace", "code_id", "codeword")
        .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
      // the one train-time setting the tables can't encode: whether codes
      // are residuals vs the list centroid. Scoring with the wrong flag
      // degrades recall SILENTLY, so it persists with the model
      Seq(Tuple1(residual)).toDF("residual")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  object IvfPqModel {
    def load(spark: SparkSession, path: String): IvfPqModel = {
      val cents = spark.read.parquet(s"$path/centroids")
        .orderBy("list_id").collect()
        .map(_.getSeq[Double](1).toArray)
      val cbs = spark.read.parquet(s"$path/codebooks")
        .orderBy("subspace", "code_id").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2)).toArray
      val res = spark.read.parquet(s"$path/meta")
        .collect().head.getBoolean(0)
      IvfPqModel(cents, cbs, res)
    }
  }

  /** The [[knnIvfPq]] training step as a standalone index-build job. */
  def trainIvfPqModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 32, m: Int = 8, codebookSize: Int = 32,
      residual: Boolean = true): IvfPqModel =
    trainIvfPqFrom(corpusCodes(spread(corpus), idCol, vecCol), nCentroids, m,
      codebookSize, residual)

  /** Shared trainer behind [[knnIvfPq]] and [[trainIvfPqModel]]; `c` is
    * the internal (corpus_id, cq) projection (index MAINTENANCE retrains
    * from the standing coded table's already-quantized vectors —
    * tools.AnnMaintain.foldPq).
    */
  private[graft] def trainIvfPqFrom(
      c: DataFrame, nCentroids: Int, m: Int, codebookSize: Int,
      residual: Boolean): IvfPqModel = {
    val sampleRows = sampleVecs(c, trainSampleSize(nCentroids, codebookSize))
    // IVF centroids: k-means-trained. Assignment uses the NORMALIZED
    // matrix (L2-argmin over unit centroids = cosine-argmax, knnIvf);
    // residuals subtract the UN-normalized Lloyd mean — the centroid at
    // the DATA's scale. (Subtracting the unit-normalized centroid would
    // be a no-op: quantized vectors have ~1000× its magnitude, so
    // v − ĉ ≈ v and the "residual" codebooks would just re-learn the raw
    // ones — measured: bit-identical recall.)
    val rawCents: Array[Array[Double]] =
      lloydLocal(sampleRows, nCentroids, TrainIters)
    val ivfMat: Array[Array[Double]] = normalized(rawCents)
    // codebook training input: raw subvectors, or residuals vs the
    // trained means — assignment replicated with the same
    // lowest-index-tie semantics as the NearestCentroid expression
    val pqTrainRows: Array[Array[Double]] =
      if (!residual) sampleRows
      else sampleRows.map { v =>
        var best = 0; var bestScore = Double.PositiveInfinity
        var ci = 0
        while (ci < ivfMat.length) {
          val cv = ivfMat(ci)
          var dotpc = 0.0; var n2c = 0.0; var i = 0
          while (i < cv.length) {
            dotpc += v(i) * cv(i); n2c += cv(i) * cv(i); i += 1
          }
          val score = n2c - 2.0 * dotpc
          if (score < bestScore) { bestScore = score; best = ci }
          ci += 1
        }
        val cv = rawCents(best)
        Array.tabulate(v.length)(i => v(i) - cv(i))
      }
    IvfPqModel(rawCents, trainCodebooks(pqTrainRows, m, codebookSize),
      residual)
  }

  /** Mean-pooled group embedding in long form (group, dim, mean): the
    * chunk→document bridge of the embedding pipeline — chunk vectors
    * (t22's windows, embedded externally) collapse to one document
    * vector by per-dimension average, the standard pooling for
    * retrieval/dedup at document granularity. Emitted long (one row
    * per (group, dim)) so the result is oracle-comparable and feeds
    * a pivot/collect at the caller's discretion.
    *
    * Exactness: dimensions pool as integer-QUANTIZED sums (the d05
    * convention — order-free exact longs) with ONE final division per
    * (group, dim), so any engine agrees bit-for-bit. Scale shape:
    * posexplode to (group, dim, q) narrow rows, then a partial-agg
    * hash-agg — rows = vectors × dim, the same explode budget every
    * oracle-checked vector op pays; no window, no collect.
    */
  def meanPool(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    spread(df)
      .select(col(groupCol), posexplode(quantize(col(vecCol))))
      .groupBy(col(groupCol), (col("pos") + 1).cast("long").as("dim"))
      .agg((sum("col").cast("double") / count(lit(1)).cast("double"))
        .as("mean_q"))

  /** Per-dimension embedding DRIFT between two release halves — the
    * monitor a retrieval/training stack runs when the embedder, the
    * crawler mix, or the dedup policy changes between corpus releases:
    * a systematic per-dimension mean shift means downstream ANN indexes
    * (IVF centroids, PQ codebooks, SQ8 ranges) were trained on a
    * different distribution than they now serve. Split = deterministic
    * md5 halves of the id space (the e31 variant convention), so the
    * expected drift is 0 and any signal is distributional, not
    * assignment bias.
    *
    * Exactness: values quantize to milli-units (the s12 convention),
    * per-(side, dim) sums are exact longs, means and the shift are a
    * fixed IEEE tree over them — hash-exact. Shape: one posexplode +
    * ONE dim-keyed hash-agg with conditional partial sums (map-side
    * combine; rows after the agg = dimensions, not vectors).
    */
  def embedDrift(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val side = when(substring(md5(col(idCol).cast("string")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L).otherwise(1L)
    spread(df)
      .select(side.as("side"), posexplode(quantize(col(vecCol))))
      .withColumn("q", col("col").cast("long"))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(
        sum(when(col("side") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("side") === 0L, col("q")).otherwise(0L))
          .as("sum_a"),
        sum(when(col("side") === 1L, col("q")).otherwise(0L))
          .as("sum_b"))
      .select(col("dim"), col("n_a"), col("n_b"), col("sum_a"),
        col("sum_b"),
        expr("CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)" +
          " - CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)")
          .as("mean_shift_q"))
  }

  /** IVF index BALANCE audit: per-list occupancy plus the imbalance
    * summary an index operator watches — `imbalance = nLists·max/N` (a
    * perfectly balanced index reads 1.0; FAISS prints the equivalent
    * `nlist·Σp²` factor) and the mean coverage residual per list. Skewed
    * lists are the ANN tail-latency story: a probe landing on a hot list
    * scans its whole occupancy, so p99 query cost tracks MAX list size
    * while recall tracks nProbe — the s22 tuning curve and this audit
    * together are the index-health page of a release card. Shape: one
    * assignment pass (fused nearest-centroid scan) + ONE list-keyed
    * hash-agg + a 1-row broadcast summary joined back; rows out =
    * nLists. Rows-only (trained centroids).
    */
  def ivfBalanceAudit(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 32): DataFrame = {
    val model = trainIvfModel(corpus, idCol, vecCol, nCentroids)
    val assigned = assignLists(corpus, idCol, vecCol, model)
    val per = assigned.groupBy("list")
      .agg(count(lit(1)).as("n_vecs"),
        avg(when(col("resid").isNotNull && !col("resid").isNaN,
          col("resid"))).as("mean_resid"))
    val summary = broadcast(per.agg(
      sum("n_vecs").as("n_total"), max("n_vecs").as("n_max"),
      count(lit(1)).as("n_lists")))
    per.crossJoin(summary)
      .select(col("list").cast("long").as("list"), col("n_vecs"),
        col("mean_resid"),
        expr("CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE)")
          .as("occupancy"),
        expr("CAST(n_lists AS DOUBLE) * CAST(n_max AS DOUBLE)" +
          " / CAST(n_total AS DOUBLE)").as("imbalance"))
  }

  /** Per-cluster simplified (centroid-based) SILHOUETTE audit — the
    * cluster-quality read that [[ivfBalanceAudit]]'s occupancy numbers
    * cannot give: a list can be perfectly sized yet semantically mushy.
    * For each vector, a = cosine distance to its own (unit) centroid,
    * b = cosine distance to the nearest OTHER centroid, s = (b−a) /
    * max(a,b) ∈ [−1, 1]; per-cluster means localize which lists are
    * tight (s → 1), boundary-straddling (s → 0), or mis-assigned
    * (s < 0). The centroid-based form is the scalable variant of the
    * classic pairwise silhouette (Rousseeuw 1987): O(N·k) as a PURE
    * fused map over the scan — both distances come from ONE codegen'd
    * top-2 argmin pass ([[graft.functions.VectorExpressions
    * .nearestCentroids]]) against the broadcast-baked centroid matrix,
    * so there is no pairwise join anywhere and the only shuffle is the
    * k-row rollup. Pairwise silhouette is O(N²) and exists only as a
    * within-sample diagnostic — at 100 TB it is not a real operator.
    *
    * Rows-only by design (trained centroids have no SQL mirror);
    * VectorOpsSpec gates: planted well-separated clusters read mean
    * silhouette near 1, a deliberately-overclustered run reads lower,
    * all values in [−1, 1], zero-norm vectors excluded.
    */
  def silhouetteAudit(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfModel): DataFrame = {
    val mat = model.centroids
    require(mat.length >= 2, s"silhouette needs >= 2 centroids: ${mat.length}")
    vectors(spread(corpus), idCol, vecCol, "id", "q", "n2")
      .filter(col("n2") > 0) // zero-norm: cosine undefined (knnIvf rule)
      .withColumn("nc", V.nearestCentroids(col("q"), mat, 2))
      .withColumn("a", lit(1.0) -
        V.centroidDot(col("q"), col("nc").getItem(0), mat) / sqrt(col("n2")))
      .withColumn("b", lit(1.0) -
        V.centroidDot(col("q"), col("nc").getItem(1), mat) / sqrt(col("n2")))
      .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0.0)))
      .groupBy(col("nc").getItem(0).cast("long").as("list"))
      .agg(count(lit(1)).as("n_vecs"),
        avg("sil").as("mean_sil"),
        avg("a").as("mean_dist_own"),
        avg("b").as("mean_dist_next"))
  }

  /** IVF index TUNING curve: recall@k of [[knnIvf]] against the exact
    * [[knnBrute]] ground truth at each candidate `nProbe` setting over
    * ONE shared trained index — the operational knob table an ANN
    * deployment reads before pinning its probe count ("how many lists
    * buy 0.95 recall, and what does the next step cost"). FAISS ships
    * this as its standard tuning sweep; here it is a DataFrame so the
    * release card can carry it.
    *
    * The index trains ONCE (the standing-structure rule) and every
    * sweep point probes the same lists, so the curve isolates the
    * nProbe effect; recall is exact set-intersection counting against
    * the brute-force top-k. Rows-only by design (trained centroids have
    * no SQL mirror); RecallSpec-class gates ride the query: monotone
    * non-decreasing recall in nProbe, and full-sweep recall at
    * nProbe = nCentroids (probing every list IS the brute scan, modulo
    * quantization ties).
    *
    * Scale shape (r15b): the corpus is assigned and probed ONCE, at the
    * LARGEST sweep point, keeping each candidate list's probe rank
    * `pr` — [[graft.functions.VectorExpressions.nearestCentroids]]
    * orders by (distance, centroid index) with strict-< insertion, so
    * its n-list result is exactly the n-prefix of its pMax-list result
    * and the nProbe = p candidate set is precisely {pr < p}. Each sweep
    * point's top-k membership is then ONE windowed predecessor count
    * over the shared (cos desc, corpus_id asc) order: a row is in
    * top-k(p) iff pr < p and fewer than k rows with pr < p precede it —
    * bit-identical to [[knnIvf]]'s row_number ≤ k at that nProbe
    * (spec-replayed against the per-point knnIvf construction). The
    * former driver loop re-assigned and re-probed the corpus once PER
    * sweep point — six full corpus passes and ~54 scheduler stages for
    * a six-point curve; now one probe pass, one window, one truth join,
    * one aggregate.
    */
  def ivfTuningCurve(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 32,
      probeSweep: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)): DataFrame = {
    require(probeSweep.nonEmpty && probeSweep.forall(_ >= 1) &&
      probeSweep.max <= nCentroids,
      s"bad sweep: $probeSweep (need 1 <= p <= nCentroids=$nCentroids)")
    val spark = corpus.sparkSession
    val truth = knnBrute(probes, corpus, idCol, vecCol, k)
      .select(col("probe_id"), col("corpus_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTruth = truth.count()
    val model = trainIvfModel(corpus, idCol, vecCol, nCentroids)
    val mat = model.centroids
    val sweep = probeSweep.sorted
    val pMax = sweep.last
    // one corpus assignment + one probe pass at pMax (knnIvf's exact
    // conventions: same quantize/spread, same self-pair and non-finite
    // cosine exclusions, probe side broadcast)
    val c = corpusSide(spread(corpus), idCol, vecCol)
      .withColumn("list", V.nearestCentroid(col("cq"), mat))
    val probeLists = probeSide(spread(probes), idCol, vecCol)
      .select(col("probe_id"), col("pq"), col("pn2"),
        posexplode(V.nearestCentroids(col("pq"), mat, pMax))
          .as(Seq("pr", "list")))
    val scored = scorePairs(candidatePairs(c, probeLists, Some("list")),
      exactCos, keep = Seq("pr")).filter(finite("cos"))
    // all sweep predecessor counts share ONE window sort; (cos desc,
    // corpus_id asc) is a strict total order per probe, so "< k
    // predecessors among pr < p rows" is row_number() <= k on the
    // pr < p subset, knnIvf's exact top-k rule
    val w = ranked().rowsBetween(Window.unboundedPreceding, -1)
    val withIn = sweep.foldLeft(scored) { (df, pp) =>
      df.withColumn(s"in_$pp", col("pr") < pp &&
        coalesce(sum(when(col("pr") < pp, 1L).otherwise(0L)).over(w),
          lit(0L)) < k)
    }
    val hitRow = withIn.join(truth, Seq("probe_id", "corpus_id"))
      .agg(sum(when(col(s"in_${sweep.head}"), 1L).otherwise(0L)),
        sweep.tail.map(pp =>
          sum(when(col(s"in_$pp"), 1L).otherwise(0L))): _*)
      .head()
    truth.unpersist(blocking = false)
    val rows = sweep.zipWithIndex.map { case (pp, i) =>
      (pp.toLong, if (hitRow.isNullAt(i)) 0L else hitRow.getLong(i), nTruth)
    }
    import spark.implicits._
    rows.toDF("n_probe", "n_hits", "n_truth")
      .withColumn("recall", expr(
        "CASE WHEN n_truth > 0 THEN CAST(n_hits AS DOUBLE)" +
          " / CAST(n_truth AS DOUBLE) END"))
  }

  /** Re-index MIGRATION audit between two trained index generations —
    * the page that decides whether release R+1 keeps the standing
    * assignment or pays the rebuild: per OLD list, how many of its
    * vectors a retrain would move elsewhere. [[embedDrift]] watches the
    * raw distribution; this measures the consequence in index terms.
    * List ids of independently trained models don't correspond, so each
    * NEW centroid is first matched to its nearest OLD centroid (k×k
    * driver arithmetic over the two centroid matrices — L2 on the unit
    * sphere, lowest-old-index ties); a vector "migrates" when the old
    * image of its new list differs from its old list.
    *
    * Shape: BOTH assignments are fused nearest-centroid argmins in ONE
    * scan projection (no join, no shuffle), the new→old map rides as an
    * array literal, and the only exchange is the list-keyed hash-agg;
    * rows out = occupied old lists. Identical models ⇒ the map is the
    * identity and every migration count is 0 (spec-pinned). Rows-only
    * by design (trained centroids have no SQL mirror).
    */
  def centroidMigration(
      corpus: DataFrame, idCol: String, vecCol: String,
      modelOld: IvfModel, modelNew: IvfModel): DataFrame = {
    val matOld = modelOld.centroids
    val matNew = modelNew.centroids
    require(matOld.nonEmpty && matNew.nonEmpty, "empty centroid set")
    // an embedder dim change is exactly what this audit watches for —
    // fail loudly rather than index out of bounds / silently compare
    // truncated prefixes
    require((matOld ++ matNew).map(_.length).distinct.size == 1,
      s"centroid dimension mismatch: old=${matOld.head.length} " +
        s"new=${matNew.head.length}")
    val mapping: Seq[Int] = matNew.toSeq.map { cn =>
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < matOld.length) {
        var d = 0.0; var j = 0
        while (j < cn.length) {
          val t = cn(j) - matOld(i)(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    quantizedAs(spread(corpus), idCol, vecCol, "id", "q")
      .select(col("id"), V.nearestCentroid(col("q"), matOld).as("list_old"),
        V.nearestCentroid(col("q"), matNew).as("list_new"))
      .withColumn("__mapped",
        element_at(typedlit(mapping), col("list_new") + 1))
      .groupBy(col("list_old").cast("long").as("list_old"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__mapped") =!= col("list_old"), 1L).otherwise(0L))
          .as("n_moved"))
      .withColumn("moved_frac",
        col("n_moved").cast("double") / col("n_vecs").cast("double"))
  }

  /** All pairs (id_a < id_b) with cosine >= tau. Exact brute force over the
    * pair space — the verification baseline. The 100 TB path is
    * [[lshBuckets]]-blocked candidates or MinHash-style banding; this
    * operator exists to define ground truth and for modest corpus sizes.
    */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double): DataFrame = {
    val q = vectors(spread(df), idCol, vecCol, "id", "q", "n2")
    val a = q.as("a"); val b = q.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(dot(col("a.q"), col("b.q")), col("a.n2"), col("b.n2"))
          .as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Brute-force cosine top-k: for each probe (subset of df), the k nearest
    * corpus vectors by cosine, ties broken by corpus id. One shuffle for
    * the window; probe set is broadcast.
    */
  def knnBrute(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val p = probeSide(probes, idCol, vecCol)
    topK(scorePairs(candidatePairs(corpusSide(spread(corpus), idCol, vecCol),
      p), exactCos), k)
  }

  /** Intra-list diversity (ILD) of a retrieval result list — the METRIC
    * for what [[mmrRerank]] optimizes (Smyth & McClave 2001; the
    * standard redundancy dial of the diversity-reranking literature):
    * per probe, the mean pairwise cosine among its returned items,
    * reported as similarity and as `ild = 1 − mean_sim`. Completes the
    * self-measurement family: s15/s18 score a list's RELEVANCE, this
    * scores its redundancy — a RAG stack tuning the MMR λ needs both.
    *
    * Exactness: pairwise cosines use the repo's quantized-integer dots
    * (ONE IEEE division each); the k(k−1)/2-term mean accumulates each
    * cosine as DECIMAL(18,12) before ONE final division (the s13 trick —
    * a double sum would be partition-order-sensitive). Lists are bounded
    * top-k frames, so pair work is k²/2 per probe, never corpus-sized;
    * the embedding attach is two id-keyed equi joins. Probes with fewer
    * than 2 items emit no row (no pairs — ILD undefined).
    */
  def ildDiversity(results: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val vecs = vectors(corpus, idCol, vecCol, "vid", "vq", "vn2")
    val a = results.select(col("probe_id"), col("corpus_id").as("ia"))
    val b = results.select(col("probe_id"), col("corpus_id").as("ib"))
    val pairs = a.join(b, Seq("probe_id")).filter(col("ia") < col("ib"))
    val sims = pairs
      .join(vecs.select(col("vid").as("ia"), col("vq").as("qa"),
        col("vn2").as("na")), Seq("ia"))
      .join(vecs.select(col("vid").as("ib"), col("vq").as("qb"),
        col("vn2").as("nb")), Seq("ib"))
      .select(col("probe_id"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
    sims.groupBy("probe_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cos").cast(
          org.apache.spark.sql.types.DecimalType(18, 12))).as("sd"))
      .select(col("probe_id"), col("n_pairs"),
        (col("sd").cast("double") / col("n_pairs")).as("mean_sim"))
      .withColumn("ild", lit(1.0) - col("mean_sim"))
  }

  /** Margin-based pair mining (Artetxe & Schwenk 2019 — the criterion
    * CCMatrix/LASER bitext mining runs at web scale): for each left
    * vector, score its forward top-`k` right candidates by
    * `margin(x,y) = cos(x,y) / ((avgK(x→right) + avgK(y→left)) / 2)`
    * and keep the argmax — raw cosine alone systematically selects HUB
    * vectors (close to everything); dividing by the two local
    * neighborhood averages demotes them, which is exactly why the
    * ratio-margin replaced absolute thresholds in published mining.
    * Margin > 1 means the pair is closer than its neighborhoods'
    * baseline; the caller thresholds on it.
    *
    * Oracle-exact by the repo's vector conventions: quantized integer
    * dots, ONE IEEE division per cosine; the k-neighborhood averages
    * accumulate as DECIMAL(18,6) per-term sums (the e21 recipe — no
    * engine-ordered float summation) before ONE division each, and the
    * margin is one more IEEE division. Ties break to min id at every
    * window.
    *
    * Scale shape: the all-pairs cosine here is the exact BASELINE
    * (left broadcast against the right scan — fine while one side is
    * probe-sized); at corpus×corpus scale swap the candidate generator
    * for [[knnIvf]] in batch mode exactly as s09 does for hard
    * negatives — the margin arithmetic is unchanged, it only ever
    * consumes the two bounded top-k frames.
    */
  def marginMine(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val l = vectors(spread(left), idCol, vecCol, "lid", "lq", "ln2")
    val r = vectors(spread(right), idCol, vecCol, "rid", "rq", "rn2")
    val cosAll = candidatePairs(r, l).select(col("lid"), col("rid"),
      cosine(dot(col("lq"), col("rq")), col("ln2"), col("rn2")).as("cos"))
    val fwd = topK(cosAll, k, key = "lid", tie = "rid")
    val bwd = topK(cosAll, k, key = "rid", tie = "lid")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val avgL = fwd.groupBy("lid")
      .agg((sum(col("cos").cast(dec)).cast("double") /
        count(lit(1))).as("avg_l"))
    val avgR = bwd.groupBy("rid")
      .agg((sum(col("cos").cast(dec)).cast("double") /
        count(lit(1))).as("avg_r"))
    fwd.join(avgL, Seq("lid")).join(avgR, Seq("rid"))
      .withColumn("margin",
        col("cos") / ((col("avg_l") + col("avg_r")) / 2))
      .withColumn("mrk", row_number().over(ranked("lid", "margin", "rid")))
      .filter(col("mrk") === 1)
      .select(col("lid"), col("rid"), col("cos"), col("margin"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998): greedily
    * select `kSel` of each probe's top-`kCand` exact candidates, each
    * step maximizing `rel − max sim to already-selected` — the λ=1/2
    * maximal-marginal-relevance objective up to a positive scale factor
    * (argmax-invariant), so a near-duplicate of an already-picked result
    * is displaced by the next DISTINCT relevant one. The missing
    * diversity knob above the s01/s13 rankers: plain top-k hands a RAG
    * prompt k copies of the corpus's most-duplicated passage.
    *
    * Deterministic by the repo's vector conventions: quantized integer
    * dots, ONE IEEE division per cosine, the step score ONE subtraction
    * of two such doubles, ties to min id — so the DuckDB oracle replays
    * every greedy step CTE-for-CTE and the result is hash-exact.
    *
    * Scale shape: candidates come from a bounded ranker (here the exact
    * brute baseline, kCand per probe — swap in [[knnIvf]] for the 100 TB
    * candidate step); pairwise sims are kCand² per probe — bounded,
    * never corpus×corpus; each greedy step is one fixed-width window
    * argmax + one anti join + one equi join on (probe, candidate) rows.
    * kSel is a literal loop bound (steps unroll into the plan), not a
    * data-dependent iteration.
    */
  def mmrRerank(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      kCand: Int = 10,
      kSel: Int = 3): DataFrame = {
    require(kSel >= 1 && kCand >= kSel, s"bad shape: $kCand/$kSel")
    val cand = knnBrute(probes, corpus, idCol, vecCol, kCand)
      .select(col("probe_id"), col("corpus_id"), col("cos").as("rel"))
    val cv = vectors(spread(corpus), idCol, vecCol, "cid", "q", "n2")
    val withVec = cand.join(cv, cand("corpus_id") === cv("cid"))
    val x = withVec.select(col("probe_id"), col("corpus_id").as("xid"),
      col("q").as("xq"), col("n2").as("xn2"))
    val y = withVec.select(col("probe_id").as("py"),
      col("corpus_id").as("yid"), col("q").as("yq"), col("n2").as("yn2"))
    val sims = x.join(y, x("probe_id") === y("py") &&
        col("xid") =!= col("yid"))
      .select(col("probe_id"), col("xid"), col("yid"),
        cosine(dot(col("xq"), col("yq")), col("xn2"), col("yn2"))
          .as("sim"))
    def pick(df: DataFrame): DataFrame =
      df.withColumn("rk", row_number().over(ranked(score = "score")))
        .filter(col("rk") === 1)
        .select(col("probe_id"), col("corpus_id").as("sel_id"), col("score"))
    def removeSel(rem: DataFrame, sel: DataFrame): DataFrame =
      rem.join(sel.select(col("probe_id"),
          col("sel_id").as("corpus_id")),
        Seq("probe_id", "corpus_id"), "left_anti")
    def addSim(rem: DataFrame, sel: DataFrame, first: Boolean)
        : DataFrame = {
      val toSel = sims
        .join(sel.select(col("probe_id"), col("sel_id").as("yid")),
          Seq("probe_id", "yid"))
        .select(col("probe_id"), col("xid").as("corpus_id"),
          col("sim").as("newsim"))
      val j = rem.join(toSel, Seq("probe_id", "corpus_id"))
      if (first) j.withColumn("maxsim", col("newsim")).drop("newsim")
      else j.withColumn("maxsim", greatest(col("maxsim"), col("newsim")))
        .drop("newsim")
    }
    val first = pick(cand.withColumn("score", col("rel")))
    var out = first.withColumn("step", lit(1))
    var rem = addSim(removeSel(cand, first), first, first = true)
    (2 to kSel).foreach { t =>
      val selT = pick(rem.withColumn("score", col("rel") - col("maxsim")))
      out = out.unionByName(selT.withColumn("step", lit(t)))
      if (t < kSel) rem = addSim(removeSel(rem, selT), selT, first = false)
    }
    out.select(col("probe_id"), col("step"), col("sel_id"), col("score"))
      .orderBy("probe_id", "step")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * probe, the k most cosine-similar corpus vectors whose `labelCol`
    * DIFFERS from the probe's — the "looks the same, is not" pairs that
    * carry the gradient signal. The label inequality is a JOIN predicate
    * (it references both sides), unlike [[knnIvf]]'s row-local
    * `corpusFilter`, so it composes inside the scoring join; the exact
    * path here is the [[knnBrute]] shape with the label threaded
    * through — the declared ground-truth baseline, matching s01/s07.
    * The SCALE path is [[hardNegativesIvf]]: IVF-probed candidate
    * lists with the same label inequality applied post-list-join
    * (RecallSpec gates it against this baseline).
    */
  def hardNegatives(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val p = probeSide(probes, idCol, vecCol, Some(labelCol))
    topK(scorePairs(candidatePairs(
      corpusSide(spread(corpus), idCol, vecCol, Some(labelCol)), p),
      exactCos, labels = true), k)
  }

  /** Embedding-space decontamination (r8): every train vector whose
    * cosine to ANY eval vector reaches `tau`, reported as (train_id,
    * eval_id, cos) with its strongest eval match — the semantic rung of
    * the decontamination ladder (d07 whole-doc Jaccard, d12/d20 exact
    * n-grams catch verbatim leaks; a paraphrased eval answer only an
    * embedding sees). EXACT baseline: the eval set is the small side by
    * construction (eval suites are thousands of rows, the corpus is the
    * 100 TB side), so it broadcasts and the scan streams the train side
    * once — the knnBrute shape with a threshold instead of top-k. The
    * bounded twin for a large eval side inverts the roles through
    * [[knnIvf]] batch mode (probes = train, corpus = eval, k = 1) and
    * filters at `tau` — RecallSpec gates it against this baseline.
    */
  def semanticDecontaminate(
      train: DataFrame,
      evalDf: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double): DataFrame = {
    val c = vectors(spread(train), idCol, vecCol, "train_id", "cq", "cn2")
    val p = vectors(evalDf, idCol, vecCol, "eval_id", "pq", "pn2")
    candidatePairs(c, p)
      .select(col("train_id"), col("eval_id"),
        cosine(dot(col("cq"), col("pq")), col("cn2"), col("pn2")).as("cos"))
      .filter(col("cos") >= tau)
      .withColumn("rk", row_number().over(ranked("train_id", "cos", "eval_id")))
      .filter(col("rk") === 1).drop("rk")
  }

  /** [[hardNegatives]]' bounded scale path: [[knnIvf]] over the shared
    * full-corpus inverted lists, the label inequality applied after the
    * list join and BEFORE the top-k window — candidates fill k from
    * label-valid rows, so no over-fetch is needed and recall is dialed by
    * `nProbe` (the same lever as `corpusFilter` selectivity; RecallSpec
    * gates the shipped parameters against the exact cartesian baseline).
    * Work per probe is sum of probed list sizes, never O(corpus) — the
    * "every pairwise op must have a blocking/banding path" rule applied
    * to contrastive mining. Accepts a pre-trained `model`: the index is
    * label-blind, so the standing [[IvfModel]] serves both plain
    * retrieval and mining runs unchanged.
    */
  def hardNegativesIvf(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      nCentroids: Int = 32,
      nProbe: Int = 8,
      broadcastProbes: Boolean = true,
      model: Option[IvfModel] = None): DataFrame =
    knnIvf(probes, corpus, idCol, vecCol, k, nCentroids, nProbe,
      broadcastProbes, model = model, excludeLabelCol = Some(labelCol))

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a
    * long. Plane p's normal has pseudo-random +-1 components derived from a
    * splitmix64 finalizer over (p, i) — deterministic, no stored model.
    * Native codegen'd expression (graft.functions.SignPack): one fused loop
    * computes all plane projections per row, so hashing the 100 TB corpus
    * side stays inside WholeStageCodegen (the lambda HOF formulation would
    * be interpreted per plane per row).
    */
  def lshBucket(qvec: Column, planes: Int): Column =
    V.signPack(qvec, planes)

  /** IVF (inverted-file) approximate top-k.
    *
    * Index: `nCentroids` list centroids trained by driver-side Lloyd's
    * over a bounded deterministic sample ([[lloydLocal]]; r6 — hash-order
    * sample ROWS as centroids cost recall) and NORMALIZED, so squared-L2
    * argmin over unit centroids equals cosine argmax. Every corpus vector
    * is assigned to its nearest centroid via one fused
    * `graft_nearest_centroid` map per row (no N×nCentroids scoring join).
    *
    * Query: each probe keeps its `nProbe` nearest lists (the same fused
    * expression's top-n variant), and exact cosine top-k runs over the
    * union of those inverted lists. The corpus-side join key is the list
    * index — the shuffle is (probe x candidate-lists), never
    * probe x corpus. Work at query time is sum of probed list sizes
    * ~= corpus * nProbe / nCentroids.
    *
    * `broadcastProbes` picks the physical shape for the list join (r6):
    *  - true (query mode, the default): the probe set is small — it
    *    broadcasts, and the top-k window groups few keys. Wrong for
    *    millions of probes (exceeds broadcast budgets silently).
    *  - false (batch mode — corpus-vs-corpus retrieval): probes are a
    *    large relation — shuffled equi-join on `list`, and the top-k
    *    window distributes fine because rows-per-probe is bounded by the
    *    probed list sizes. Results are identical (spec-asserted); only
    *    the physical plan changes.
    *
    * The search itself is train + assign + the [[knnIvfPreAssigned]]
    * core, with the optional hard-negative label threaded through.
    */
  def knnIvf(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 32,
      nProbe: Int = 8,
      broadcastProbes: Boolean = true,
      corpusFilter: Column = lit(true),
      model: Option[IvfModel] = None,
      excludeLabelCol: Option[String] = None): DataFrame = {
    val cSrc = spread(corpus)
    // the index (centroids) is trained on the FULL corpus — the standing
    // shared structure a per-query metadata predicate must not rebuild —
    // or supplied pre-trained (`model`): at scale index build is its own
    // job and every query run reloads via IvfModel.load
    val mat = model.getOrElse(
      trainIvfFrom(corpusCodes(cSrc, idCol, vecCol), nCentroids)).centroids
    // filtered search (`corpusFilter`, r7): the predicate is row-local
    // metadata, so filter-then-assign ≡ assign-then-filter — applying it
    // BEFORE assignment pushes it into the corpus scan (PlanSpec-asserted
    // PushedFilters) and only surviving rows pay the fused argmin map.
    // Selective predicates thin each inverted list's matching density, so
    // callers raise nProbe to hold recall (RecallSpec gates the shipped
    // parameters against the filtered exact baseline)
    val assigned =
      corpusSide(cSrc.filter(corpusFilter), idCol, vecCol, excludeLabelCol)
        .withColumn("list", V.nearestCentroid(col("cq"), mat))
    // hard-negative mode (`excludeLabelCol`): the label inequality is a
    // JOIN predicate (it references both sides), so it composes inside
    // the list join — applied BEFORE the top-k window, candidates fill k
    // from label-valid rows only and no over-fetch is needed; recall is
    // held by nProbe, exactly like corpusFilter's selectivity dial
    ivfSearch(probeSide(spread(probes), idCol, vecCol, excludeLabelCol),
      assigned, mat, k, nProbe, broadcastProbes, excludeLabelCol.isDefined)
  }

  /** Product-quantization (PQ) approximate top-k with asymmetric distance
    * computation (ADC) and exact re-rank.
    *
    * Index: the vector is split into `m` subspaces; each subspace gets a
    * `codebookSize`-entry codebook trained by per-subspace Lloyd's over a
    * bounded deterministic sample ([[lloydLocal]]; r6 — raw sample rows
    * as codewords cost recall). Every corpus vector is ENCODED as m small
    * codes — one fused
    * `graft_nearest_centroid` L2-argmin per subspace over the sliced
    * vector, a pure map in the scan stage. The encoded corpus is m
    * integers per vector instead of dim floats: at 100 TB this is the
    * memory-traffic op — a 64-dim float corpus compresses ~64×, and scan
    * bandwidth (the ADC bottleneck) shrinks with it.
    *
    * Query (ADC): each probe precomputes one lookup table per subspace —
    * dot(probe subvector, codeword) for every codeword, m×codebookSize
    * codegen'd dots against literal codewords — and scores a corpus row
    * as the SUM of m table lookups on its codes (no vector math per
    * pair). Top-`refine` by approximate score, then exact cosine re-rank
    * of those candidates only. ADC is still a linear scan (combine with
    * [[knnIvf]]'s lists for sub-linear candidates); the win is bytes per
    * row and per-pair cost. QUERY-MODE ONLY: the probe set broadcasts
    * (LUTs are m×codebookSize doubles per probe), so it must stay within
    * broadcast budget — ~thousands of probes. A large probe relation
    * belongs on [[knnIvfPq]] with `broadcastProbes = false`, where the
    * list key gives the shuffled join something to hash on; a batch ADC
    * scan without lists would be a genuine all-pairs cartesian.
    */
  def knnPq(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      refine: Int = 64): DataFrame = {
    val c = corpusSide(spread(corpus), idCol, vecCol)
    val codebooks =
      trainCodebooks(sampleVecs(c, trainSampleSize(codebookSize)), m,
        codebookSize)
    val p = probeSide(spread(probes), idCol, vecCol)
    // ADC score = the LUT sum divided by the row's exact norm: the sum
    // approximates the DOT product, but the ranking target is cosine —
    // without the norm the candidate order biases toward long vectors
    // (probe norm is constant within each probe's window). The heap phase
    // sees ONLY (probe_id, corpus_id, approx): vectors re-join on the tiny
    // refine-set afterwards (probes × refine rows)
    val scored = scorePairs(
      candidatePairs(pqEncode(c, "cq", codebooks), withLuts(p, codebooks)),
      (adcSum(m) / sqrt(col("cn2"))).as("approx"))
    rerank(refineSet(scored, refine, broadcastProbes = true), c, p, k)
  }

  /** A trained SQ8 range model: per-dimension [min, delta] — 2×dim
    * doubles, the cheapest "index" in the family. Persisted as plain
    * parquet (dim, min, delta) rows, the IvfModel convention: train once
    * over the standing corpus, reload per query/batch job.
    */
  final case class Sq8Model(mins: Array[Double], deltas: Array[Double]) {
    require(mins.length == deltas.length && mins.nonEmpty,
      "mins/deltas must be equal-length and non-empty")
    def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      mins.indices.map(d => (d, mins(d), deltas(d))).toSeq
        .toDF("dim", "min", "delta")
        .repartition(1).write.mode("overwrite").parquet(path)
    }
  }

  object Sq8Model {
    def load(spark: SparkSession, path: String): Sq8Model = {
      val rows = spark.read.parquet(path).orderBy("dim").collect()
      Sq8Model(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    }
  }

  /** Train an [[Sq8Model]] exactly as [[knnSq8]] would inline: one exact
    * mergeable min/max aggregation per dimension — no sample, no
    * iteration (min/max are order-free, unlike Lloyd's).
    */
  def trainSq8Model(
      corpus: DataFrame, idCol: String, vecCol: String): Sq8Model =
    trainSq8From(corpusCodes(spread(corpus), idCol, vecCol))

  private[graft] def trainSq8From(c: DataFrame): Sq8Model = {
    val dim = sampleVecs(c, 1).head.length
    val rangeExprs = (0 until dim).flatMap(d => Seq(
      min(element_at(col("cq"), d + 1)).as(s"m$d"),
      max(element_at(col("cq"), d + 1)).as(s"x$d")))
    val mm = c.agg(rangeExprs.head, rangeExprs.tail: _*).collect().head
    val mins = Array.tabulate(dim)(d => mm.getDouble(mm.fieldIndex(s"m$d")))
    val maxs = Array.tabulate(dim)(d => mm.getDouble(mm.fieldIndex(s"x$d")))
    val deltas = Array.tabulate(dim) { d =>
      val span = maxs(d) - mins(d)
      if (span == 0.0) 1.0 else span / 255.0
    }
    Sq8Model(mins, deltas)
  }

  /** Scalar-quantization (SQ8) approximate top-k with exact re-rank — the
    * third memory-bandwidth family member beside [[knnPq]]/[[knnIvfPq]]
    * (FAISS ScalarQuantizer QT_8bit): every DIMENSION is linearly
    * re-coded into one byte against per-dimension [min, max] ranges, so
    * the corpus scans at 1 byte/dim (8× less than quantized doubles)
    * with NO codebook — decode is an affine map with bounded per-dim
    * error delta/2, and unlike PQ the approximation never collapses two
    * distinct subvectors to one codeword.
    *
    * Train: per-dimension min/max is ONE exact partial-agg pass over the
    * corpus — min/max are order-free and mergeable, so (unlike Lloyd's
    * codebooks) no sample is needed and the "model" is 2×dim doubles.
    * Constant dimensions get delta = 1 (codes are 0 there; decode returns
    * the constant exactly). Encode: one fused codegen'd byte-pack map
    * ([[graft.functions.Sq8Encode]]) in the scan stage.
    *
    * Score: dot(p, decode(codes)) = dot(p, mins) + Σ (p_i·delta_i)·code_i
    * — per probe, the first term is one scalar and p_i·delta_i
    * precomputes, leaving a fused byte-unpack multiply-add per pair
    * ([[graft.functions.Sq8Dot]]); candidates top-`refine` by the
    * approximation then exact-cosine re-rank, as in knnPq. Linear scan,
    * query-mode (probes broadcast): compose with [[knnIvf]] lists when
    * sub-linear candidates are needed.
    */
  def knnSq8(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refine: Int = 64,
      model: Option[Sq8Model] = None): DataFrame = {
    val c = corpusSide(spread(corpus), idCol, vecCol)
    val m = model.getOrElse(trainSq8From(c))
    knnSq8PreEncoded(probes, encodeSq8(c, m), idCol, vecCol, m, k, refine)
  }

  /** Encode an internal (corpus_id, cq, cn2) frame under an [[Sq8Model]]
    * — the standing-corpus table [[knnSq8PreEncoded]] queries and
    * [[graft.tools.AnnMaintain]]'s SQ8 fold maintains. `cq` is retained
    * for the exact re-rank; Catalyst prunes it from the byte-scan side
    * of the scoring join.
    */
  def encodeSq8(c: DataFrame, m: Sq8Model): DataFrame =
    c.select(col("corpus_id"), col("cq"), col("cn2"),
      V.sq8Encode(col("cq"), m.mins, m.deltas).as("codes"))

  /** [[knnSq8]] against a PRE-ENCODED corpus table
    * ((corpus_id, cq, cn2, codes), from [[encodeSq8]]) and its model —
    * the standing-index shape: per-query work is probe-side only, no
    * training pass and no re-encode (spec: row-identical to knnSq8
    * under the same model).
    */
  def knnSq8PreEncoded(
      probes: DataFrame,
      encoded: DataFrame,
      idCol: String,
      vecCol: String,
      m: Sq8Model,
      k: Int,
      refine: Int = 64): DataFrame = {
    val p = probeSide(spread(probes), idCol, vecCol)
    val scored = scorePairs(candidatePairs(encoded, withSq8Terms(p, m)),
      sq8Approx)
    rerank(refineSet(scored, refine, broadcastProbes = true),
      encoded.select("corpus_id", "cq", "cn2"), p, k)
  }

  /** Materialized IVFPQ encode — the standing CODED LISTS table
    * (corpus_id, cq, cn2, list, resid, code0..code{m-1}) an
    * incrementally-maintained IVFPQ index persists: at 100 TB each
    * corpus vector is assigned and PQ-coded ONCE when admitted, not once
    * per query ([[knnIvfPqPreEncoded]] reads this table directly;
    * tools.AnnMaintain.foldPq appends to it). `resid` is the same
    * scale-free coverage residual [[assignLists]] emits — the drift
    * baseline maintenance compares incoming batches against.
    */
  def encodeIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel,
      corpusFilter: Column = lit(true),
      labelCol: Option[String] = None): DataFrame =
    encodeQuantizedIvfPq(
      corpusCodes(spread(corpus).filter(corpusFilter), idCol, vecCol, labelCol),
      model)

  /** [[encodeIvfPq]] over the internal (corpus_id, cq) projection. */
  private[graft] def encodeQuantizedIvfPq(
      c: DataFrame, model: IvfPqModel): DataFrame = {
    val rawCents = model.rawCentroids
    val assigned = assignQuantized(c, IvfModel(normalized(rawCents)))
    // encode target: the raw vector, or its residual vs the list centroid
    val encBase = assigned.withColumn("rq",
      if (model.residual) V.centroidResidual(col("cq"), col("list"), rawCents)
      else col("cq"))
    pqEncode(encBase, "rq", model.codebooks).drop("rq")
  }

  /** [[knnIvfPq]] over a PRE-ENCODED corpus ([[encodeIvfPq]] output):
    * the production query path for a standing IVFPQ index — no training,
    * no corpus-side assignment, and no PQ re-encode per query; per-query
    * work is probe-side only (nProbe fused argmins, the LUT build, and
    * the list equi-join over the probed lists). Row-identical to
    * [[knnIvfPq]] under the same model (spec-asserted).
    */
  def knnIvfPqPreEncoded(
      probes: DataFrame,
      encoded: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfPqModel,
      k: Int,
      nProbe: Int = 8,
      refine: Int = 128,
      broadcastProbes: Boolean = true): DataFrame =
    ivfPqProbe(encoded, probes, idCol, vecCol, model, k, nProbe, refine,
      broadcastProbes, None)

  /** IVF + PQ composed (the FAISS-style IVFPQ shape): [[knnIvf]]'s
    * inverted lists make the candidate set sub-linear (only `nProbe`
    * lists per probe are touched) and [[knnPq]]'s codes make scanning
    * those candidates memory-cheap (m table lookups per pair instead of
    * a dim-float dot).
    *
    * `residual = true` (default; FAISS IVFPQ's by_residual) PQ-codes each
    * vector RELATIVE to its list centroid: r = v − c_list. Codewords then
    * only have to cover the within-cell spread rather than the whole
    * space, so at equal codebook size the ADC approximation is tighter
    * and the refine set misses fewer true neighbors (measured in
    * RecallSpec). The score decomposes exactly:
    * dot(p, v) = dot(p, c_list) + dot(p, r) — the first term is one
    * codegen'd [[graft.functions.CentroidDot]] per (probe, probed list),
    * the second the usual m LUT lookups on the residual codes. Codebooks
    * stay SHARED across lists (per-list codebooks would multiply model
    * size by nCentroids; FAISS shares too). `residual = false` keeps the
    * cheaper raw-vector path (no residual column on the corpus encode).
    *
    * Centroids and codebooks are k-means-trained on a bounded sample
    * ([[lloydLocal]]); in residual mode the codebooks train on the
    * sample's residuals vs its trained centroids — matching what the
    * encode pass computes. Exact cosine re-rank of the top-`refine` per
    * probe. `broadcastProbes = false` is the batch (corpus-vs-corpus
    * retrieval) mode: see [[knnIvf]] — shuffled list join + distributed
    * window selection instead of probe broadcast + bounded heaps.
    */
  def knnIvfPq(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 32,
      nProbe: Int = 8,
      m: Int = 8,
      codebookSize: Int = 32,
      refine: Int = 128,
      broadcastProbes: Boolean = true,
      residual: Boolean = true,
      corpusFilter: Column = lit(true),
      model: Option[IvfPqModel] = None,
      excludeLabelCol: Option[String] = None): DataFrame = {
    val cSrc = spread(corpus)
    // models (centroids + codebooks) train on the FULL corpus — the
    // standing shared index; `corpusFilter` (r7, the knnIvf convention)
    // is a row-local metadata predicate applied before assignment/encode,
    // so only matching rows are scanned and scored; raise nProbe to hold
    // recall under selective predicates (RecallSpec)
    // a supplied model must agree with the call's geometry: a mismatched
    // m mis-slices subvectors and a mismatched residual flag mis-scores
    // ADC — both silently, both recall killers (hence the meta parquet)
    model.foreach { mm =>
      require(mm.m == m,
        s"supplied model has m=${mm.m}, call has m=$m")
      require(mm.residual == residual,
        s"supplied model trained with residual=${mm.residual}, " +
          s"call has residual=$residual")
      val dim = mm.rawCentroids.head.length
      require(dim % m == 0, s"model dim $dim not divisible by m=$m")
    }
    val mdl = model.getOrElse(trainIvfPqFrom(corpusCodes(cSrc, idCol, vecCol),
      nCentroids, m, codebookSize, residual))
    // encode stage = the standing-table builder, so inline and
    // pre-encoded queries score IDENTICAL coded rows (spec-asserted)
    val encoded = encodeQuantizedIvfPq(corpusCodes(cSrc.filter(corpusFilter),
      idCol, vecCol, excludeLabelCol), mdl)
    ivfPqProbe(encoded, probes, idCol, vecCol, mdl, k, nProbe, refine,
      broadcastProbes, excludeLabelCol)
  }

  /** Shared probe side of [[knnIvfPq]] / [[knnIvfPqPreEncoded]]: LUT
    * build, probed-list join over the coded rows, ADC candidate
    * selection, exact re-rank.
    */
  private def ivfPqProbe(
      encoded: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      mdl: IvfPqModel,
      k: Int,
      nProbe: Int,
      refine: Int,
      broadcastProbes: Boolean,
      excludeLabelCol: Option[String]): DataFrame = {
    val rawCents = mdl.rawCentroids
    val p = probeSide(spread(probes), idCol, vecCol, excludeLabelCol)
    val lists = probedLists(withLuts(p, mdl.codebooks),
      Seq("probe_id", "pq", "pn2") ++ excludeLabelCol.map(_ => "p_label") ++
        (0 until mdl.m).map(j => s"lut$j"),
      normalized(rawCents), nProbe)
      // residual mode's first-order term: dot(probe, c_list) per probed list
      .withColumn("pcdot",
        if (mdl.residual) V.centroidDot(col("pq"), col("list"), rawCents)
        else lit(0.0))
    // narrow triple into candidate selection; vectors re-join on the
    // refine-set. Hard-negative mode: the label inequality filters BEFORE
    // the refine-set selection, so the refine candidates (and hence the
    // re-rank) are label-valid — no over-fetch; nProbe is the recall dial
    val scored = scorePairs(
      candidatePairs(encoded, lists, Some("list"), broadcastProbes),
      ((col("pcdot") + adcSum(mdl.m)) / sqrt(col("cn2"))).as("approx"),
      excludeLabelCol.isDefined)
    rerank(refineSet(scored, refine, broadcastProbes),
      encoded.select("corpus_id", "cq", "cn2"), p, k, broadcastProbes)
  }

  /** IVF + SQ8 composed — the FAISS `IVF,SQ8` shape, the most common
    * production index: [[knnIvf]]'s inverted lists bound candidates to
    * the nProbe probed lists (sub-linear) and [[knnSq8]]'s per-dimension
    * byte codes make scanning those lists 1 byte/dim. Codes are
    * GLOBAL-range over raw vectors, not per-list residuals: SQ8's
    * per-dim error (delta/2) is position-independent, so unlike PQ there
    * is no residual-sharpening win to chase, and ONE 2×dim model serves
    * every list. Per-probe scalar base + delta-scaled vector precompute;
    * per-pair cost is the fused byte-unpack dot; top-`refine` by the
    * approximation, exact cosine re-rank. Both models are separable
    * ([[trainIvfModel]] / [[trainSq8Model]]) so a standing index never
    * retrains at query time; `broadcastProbes` mirrors [[knnIvfPq]]'s
    * physical switch.
    */
  def knnIvfSq8(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 32,
      nProbe: Int = 8,
      refine: Int = 128,
      broadcastProbes: Boolean = true,
      ivfModel: Option[IvfModel] = None,
      sq8Model: Option[Sq8Model] = None): DataFrame = {
    val c = corpusSide(spread(corpus), idCol, vecCol)
    val ivfMat = ivfModel.getOrElse(trainIvfFrom(c, nCentroids)).centroids
    val sq8 = sq8Model.getOrElse(trainSq8From(c))
    val encoded = c.withColumn("list", V.nearestCentroid(col("cq"), ivfMat))
      .select(col("corpus_id"), col("cn2"), col("list"),
        V.sq8Encode(col("cq"), sq8.mins, sq8.deltas).as("codes"))
    val p = probeSide(spread(probes), idCol, vecCol)
    val lists = probedLists(withSq8Terms(p, sq8),
      Seq("probe_id", "pq", "pn2", "base", "sp"), ivfMat, nProbe)
    val scored = scorePairs(
      candidatePairs(encoded, lists, Some("list"), broadcastProbes), sq8Approx)
    rerank(refineSet(scored, refine, broadcastProbes), c, p, k, broadcastProbes)
  }

  /** LSH-bucketed approximate top-k: corpus hashed once; probes multi-probe
    * their own bucket plus every bucket within `maxFlips` sign-bit flips
    * (Lv et al.'s multi-probe LSH: near neighbors that straddle a few
    * hyperplanes land in low-Hamming-distance buckets). Then exact cosine
    * top-k within the candidate union. The join key is the bucket id —
    * sub-quadratic, shuffle-light; the corpus side is hashed ONCE by the
    * codegen'd SignPack and only probe rows fan out (one row per probed
    * bucket, broadcast). Recall/cost dial: planes sets bucket granularity
    * (2^planes buckets), maxFlips sets probe coverage
    * (sum of C(planes, f) for f <= maxFlips buckets per probe).
    *
    * `broadcastProbes` picks the physical shape for the bucket join
    * (mirrors [[knnIvf]]):
    *  - true (query mode, default): the probe set × mask fanout is small
    *    enough to broadcast; wrong for millions of probes.
    *  - false (batch mode — corpus-vs-corpus retrieval): probes are a
    *    large relation — shuffled equi-join on the bucket id; the top-k
    *    window distributes because rows-per-probe is bounded by the
    *    probed bucket sizes. Results are identical (spec-asserted).
    */
  def knnLsh(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 12,
      maxFlips: Int = 2,
      broadcastProbes: Boolean = true): DataFrame = {
    val c = corpusSide(spread(corpus), idCol, vecCol)
      .withColumn("bucket", lshBucket(col("cq"), planes))
    // all XOR masks with at most maxFlips bits set (statically enumerated
    // via combinations — O(C(planes, maxFlips)), not O(2^planes))
    val masks = (0 to maxFlips).flatMap(f =>
      (0 until planes).combinations(f)
        .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))))
    val p = probeSide(spread(probes), idCol, vecCol)
      .withColumn("b0", lshBucket(col("pq"), planes))
      .select(col("probe_id"), col("pq"), col("pn2"),
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*))
          .as("bucket"))
    // a pair sharing several probed buckets is scored once; non-finite
    // cosines are excluded before the window (the ANN convention)
    val pairs = candidatePairs(c, p, Some("bucket"), broadcastProbes)
      .dropDuplicates("probe_id", "corpus_id")
    topK(scorePairs(pairs, exactCos).filter(finite("cos")), k)
  }

  /** Deterministic Lloyd's k-means over quantized embeddings —
    * (id, cluster, dist2) after `iters` iterations. The clustering step
    * of embedding-space corpus curation (SemDeDup-style semantic dedup,
    * domain discovery, diversity balancing).
    *
    * Scale + determinism shape:
    *  - assignment pass: ONE fused codegen'd `graft_nearest_centroid`
    *    argmin per row against the centroid matrix (dist² = |x|² − 2x·c
    *    + |c|², lowest-index ties) — a pure map, no N×k join or window
    *    shuffle (r5; 1M×k=200 probe 212→18 s, bit-identical).
    *  - update pass: elementwise centroid sums via posexplode →
    *    (cluster, dim) aggregation. Inputs are integer-valued doubles
    *    (quantized), so the sums are EXACT in any partial-aggregation
    *    order — centroids are bit-identical run to run, repartition or
    *    not (a naive double mean would drift with aggregation order and
    *    make the whole clustering nondeterministic).
    *  - the driver holds only k×dim centroid sums per round (the
    *    legitimate iterative-ML driver state), never data rows.
    *  - empty clusters keep their previous centroid.
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame =
    kmeansCore(df, idCol, vecCol, k, iters)
      .select(col("id"), col("cluster"), col("dist2"))

  /** k-means keeping the quantized vector per row — the internal shape
    * composed ops (semanticDedup) build on: (id, q, cluster, dist2, crk).
    * Lloyd updates always use the single nearest centroid; `nAssign > 1`
    * additionally emits each point's 2nd..nth nearest clusters in the FINAL
    * assignment (crk = closeness rank), the multi-probe trick that lets
    * downstream within-cluster ops catch boundary-straddling neighbors.
    */
  private def kmeansCore(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      nAssign: Int = 1): DataFrame = {
    require(k > 0 && iters > 0 && nAssign > 0)
    val spark = df.sparkSession
    import spark.implicits._
    val c = vectors(spread(df), idCol, vecCol, "id", "q", "n2")
      .localCheckpoint() // reused every iteration
    // deterministic seed: k vectors in xxhash64-id order (same trick as
    // knnIvf — reproducible with no stored model)
    var cents: Array[(Int, Array[Double])] = c
      .orderBy(xxhash64(col("id")), col("id")).limit(k)
      .select("q").as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v.toArray) }

    def assign(n: Int): DataFrame = {
      val centDf = broadcast(
        cents.toSeq.map { case (i, v) =>
          (i, v, v.map(x => x * x).sum)
        }.toDF("cluster", "cvec", "cn2"))
      if (n == 1) {
        // single assignment is a PURE MAP: codegen'd argmin over the
        // centroid matrix (graft_nearest_centroid) — no N×k crossJoin, no
        // window shuffle. dist2 comes from one broadcast join against the
        // k-row centroid table with the same exact arithmetic, so the
        // result is bit-identical to the window path below (|q|² drops
        // out of the argmin; ties break to the lowest cluster id both
        // ways).
        c.withColumn("cluster",
            V.nearestCentroid(
              col("q"), cents.map(_._2)))
          .join(centDf, "cluster")
          .select(col("id"), col("q"), col("cluster"),
            (col("n2") - lit(2.0) * dot(col("q"), col("cvec")) + col("cn2"))
              .as("dist2"), lit(1).as("crk"))
      } else {
        // multi-probe: the top-n variant of the same fused argmin — each
        // row emits its n nearest indices (closest first), so the plan is
        // a map + posexplode to n rows + one broadcast join for dist2,
        // never the N×k scored self-blow-up through a window sort
        c.select(col("id"), col("q"), col("n2"),
            posexplode(V.nearestCentroids(
              col("q"), cents.map(_._2), n)).as(Seq("crk0", "cluster")))
          .join(centDf, "cluster")
          .select(col("id"), col("q"), col("cluster"),
            (col("n2") - lit(2.0) * dot(col("q"), col("cvec")) + col("cn2"))
              .as("dist2"), (col("crk0") + 1).as("crk"))
      }
    }

    for (_ <- 1 to iters) {
      // Lloyd update: only (cluster, q) matter — assignment via the fused
      // argmin map, sums via posexplode + map-side partial aggregation
      val sums = c
        .select(V.nearestCentroid(
            col("q"), cents.map(_._2)).as("cluster"),
          posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getAs[Int]("cluster"))
      cents = cents.map { case (i, old) =>
        byCluster.get(i) match {
          case None => (i, old) // empty cluster: keep previous centroid
          case Some(rows) =>
            val dim = old.length
            val v = new Array[Double](dim)
            rows.foreach { r =>
              v(r.getAs[Int]("pos")) =
                r.getAs[Double]("sx") / r.getAs[Long]("n")
            }
            (i, v)
        }
      }
    }
    assign(nAssign)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with k-means, then find cosine-duplicate
    * pairs ONLY within each cluster and greedily keep the lowest id among
    * direct duplicates. Returns (id, keep) for every input row.
    *
    * Scale shape: the all-pairs comparison that is O(N²) in [[cosinePairs]]
    * becomes Σ_c |cluster_c|² — with k sized to corpus/target-cluster-size
    * (k ≈ N/5000 in the paper's regime) the per-cluster quadratic term is a
    * constant. The cluster self-join shuffles (id, q, n2, cluster) rows
    * hash-partitioned by cluster id — each task handles whole clusters and
    * nothing else; the pair cosine runs on the codegen'd `graft_dot`.
    * Approximate by construction (cross-cluster duplicates are unseen —
    * recall gated in RecallSpec against the exact pair set), deterministic
    * by construction (quantized integer arithmetic end to end).
    *
    * Hot-cluster guard (`maxClusterSize`, the sibling of LSH's
    * maxBucketSize), in two layers — both pure maps/aggregations, no
    * per-cluster window task (r6; the r5 shape ranked each cluster with
    * `row_number() OVER (PARTITION BY cluster)`, which sorts a mega-
    * cluster in ONE task):
    *
    *  1. EXACT-VECTOR COLLAPSE: the mass of any real mega-cluster is
    *     byte-identical boilerplate. Rows group by a 128-bit vector hash
    *     (two independent xxhash64s — collision odds are d01-md5-class);
    *     every non-min member of a class is by definition a duplicate of
    *     the min (cos = 1 ≥ τ; for the degenerate zero-vector class,
    *     cos = NaN which Spark's `>= τ` also admits — matching what the
    *     pair join produced for identical rows) and drops immediately.
    *     Only class representatives enter the pair join, so an N-row
    *     identical blob costs one hash-groupBy, never N² pairs. Drop-set
    *     equivalence: a rep r carries the class min id and identical
    *     cluster/dist2/cell assignments, so any pair (member, x) that the
    *     full join would test survives as (r, x) with id_r ≤ id_member.
    *  2. VALUE-BANDED CELLS for distinct near-identical vectors: a
    *     cluster still above the cap splits by `floor((dist2 − d0) /
    *     width)` with width = (d1 − d0) / ⌈|c|/cap⌉ from a tiny
    *     per-cluster (min, max, count) aggregate broadcast back — a pure
    *     map, no sort. Each row lands in its own band AND the next, so
    *     any pair whose dist2 gap is under one band width still meets;
    *     near-duplicate vectors have near-equal dist2 to any fixed
    *     centroid, so band locality is duplicate locality (recall gated
    *     in RecallSpec). Per-row fanout is ≤ 2; bands are quadratic only
    *     if the dist2 DISTRIBUTION piles distinct vectors onto one value,
    *     which layer 1 has already ruled out for the identical-vector
    *     case. Clusters at or under the cap are untouched (single cell).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      tau: Double,
      nAssign: Int = 2,
      maxClusterSize: Int = 20000,
      materialize: Boolean = true): DataFrame = {
    require(maxClusterSize > 1)
    // nAssign=2: each point also probes its 2nd-nearest cluster, so a
    // duplicate pair is compared unless it straddles BOTH points' two
    // nearest centroids — the same recall/cost dial as IVF's nProbe
    // (work multiplies by ≤ nAssign², recall measured in RecallSpec)
    // r15: the assignment frame materializes EAGERLY — it is consumed by
    // many sibling subtrees below (class reps, tagged, rep rows, cluster
    // stats, both self-join sides, and the final keep spine), and each
    // lazily re-ran the fused argmin + centroid join + posexplode over
    // the vector checkpoint (measured: nine ~6 s task-time stages per run
    // at sf0.1). One (id, q, cluster, dist2, crk, n2, h1, h2) checkpoint
    // is the same fixed-width-per-vector materialization class as
    // kmeansCore's own `c`.
    val assigned = kmeansCore(df, idCol, vecCol, k, iters, nAssign)
      .select(col("id"), col("q"), col("cluster"), col("dist2"), col("crk"))
      .withColumn("n2", norm2(col("q")))
    // layer 1: exact-vector collapse (identical vectors → min-id rep).
    // The class join keys on the narrow (h1, h2) pair; identical vectors
    // share every crk assignment, so rep rows keep the full multi-probe
    // cell structure.
    // materialize=false keeps the declarative plan (PlanSpec pins the
    // fused-argmin shape on it — the chi2Outliers checkpoint convention)
    val keyed0 = assigned
      .withColumn("h1", xxhash64(col("q")))
      .withColumn("h2", xxhash64(lit(42L), col("q")))
    val keyed = if (materialize) keyed0.localCheckpoint() else keyed0
    val reps = keyed.filter(col("crk") === 1)
      .groupBy("h1", "h2").agg(min(col("id")).as("rep_id"))
    val tagged = keyed.join(reps, Seq("h1", "h2"))
    val exactDropped = tagged
      .filter(col("crk") === 1 && col("id") =!= col("rep_id"))
      .select(col("id"))
    val repRows = tagged.filter(col("id") === col("rep_id"))
      .select(col("id"), col("q"), col("n2"), col("cluster"), col("dist2"))
    // layer 2: value-banded cells from per-cluster stats (≤ k·nAssign
    // rows — broadcast), then the within-cell pair join
    val stats = repRows.groupBy("cluster").agg(
      count(lit(1)).as("csize"),
      min(col("dist2")).as("d0"), max(col("dist2")).as("d1"))
    val nBands = ceil(col("csize") / lit(maxClusterSize.toDouble))
    val width = (col("d1") - col("d0")) / nBands
    // width == 0 with csize > cap means every distinct vector in an
    // over-cap cluster is EQUIDISTANT from the centroid (points on a
    // sphere) — value bands would put the whole cluster into bands
    // {0, 1}, restoring exactly the quadratic single-cell join layer 1
    // can't prevent (it only collapses byte-identical vectors). Fall back
    // to a hash band over the vector bytes: fanout stays ≤ 2 and each
    // cell is ~csize/nBands, at the cost of recall on that degenerate
    // distribution (a hash band has no duplicate locality — the
    // documented trade; natural corpora never put an over-cap cluster
    // exactly on a sphere).
    val band = when(width > 0,
      least(floor((col("dist2") - col("d0")) / width), nBands - 1))
      .otherwise(pmod(xxhash64(col("q")), nBands.cast("long")))
    val celled = repRows.join(broadcast(stats), "cluster")
      .select(col("id"), col("q"), col("n2"), col("cluster"),
        explode(when(col("csize") <= maxClusterSize, array(lit(0L)))
          .otherwise(array(band, band + lit(1L)))).as("cell"))
    val a = celled.as("a"); val b = celled.as("b")
    val dropped = a.join(b,
        col("a.cluster") === col("b.cluster") &&
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cosine(dot(col("a.q"), col("b.q")),
        col("a.n2"), col("b.n2")) >= tau)
      .select(col("b.id").as("id"))
      .unionByName(exactDropped).distinct()
    keyed.filter(col("crk") === 1).select(col("id"))
      .join(dropped.withColumn("dup", lit(1)), Seq("id"), "left_outer")
      .select(col("id"),
        when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("keep"))
  }
}
