package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star extension;
  * SURVEY.md §7 `graft.scale`).
  *
  * Scale design:
  *   - Brute force: the query set is broadcast (it is small by construction)
  *     and the corpus streams once; top-k per query is a ranking window on
  *     (query_id) — `WindowGroupLimit` keeps per-partition heaps of size k,
  *     so no full sort of the |queries| x |corpus| score table.
  *   - ANN: sign-random-projection buckets computed per-row (no shuffle),
  *     join restricted to matching buckets — the classic recall/cost dial
  *     via number of hyperplanes. IVF-style coarse quantization would slot
  *     in the same shape (bucket = nearest centroid id).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes for sign-LSH (fixed seed —
    * identical across runs/engines; components are short decimals so SQL
    * literals parse to the same doubles). */
  def randomHyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0))
  }

  /** Independent hyperplane banks for OR-amplified LSH ([[annTopKMultiBand]]):
    * bank i uses seed + i, so banks are uncorrelated but reproducible. */
  def randomHyperplaneBanks(
      numBanks: Int,
      planesPerBank: Int,
      dim: Int,
      seed: Long = 42L
  ): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(numBanks)(i => randomHyperplanes(planesPerBank, dim, seed + i))

  /** Exact cosine top-k neighbors for each query vector (brute force).
    *
    * @param queries  small DataFrame (query_id, query vector) — broadcast
    * @return (query_id, neighbor_id, cosine, rank) — rank 1..k, self
    *         excluded, ties broken by neighbor id
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv")
    )
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    TopN
      .firstRow(
        scored,
        n = k,
        partitionBy = Seq(col("query_id")),
        orderBy = Seq(col("cosine").desc, col("neighbor_id")),
        returnIndexColumn = true,
        indexColumnName = "rank"
      )
  }

  /** Int8 scalar quantization of an embedding column: per vector,
    * `q_i = floor(x_i * 127 / max|x| + 0.5)` in [-127, 127] (symmetric
    * max-abs scaling, the standard int8 scheme). `floor(x + 0.5)` rather
    * than `round()` — Spark rounds HALF_UP where other engines bank-round,
    * and floor is bit-identical everywhere. All-zero (or null-element)
    * vectors quantize to all zeros.
    *
    * The point at 100 TB: an int8 index is 4x smaller than float32 —
    * 4x more vectors per executor's memory/page cache — and cosine over
    * quantized vectors never needs the scale back (it cancels), so search
    * runs entirely on integers ([[cosineTopKQuantized]]).
    */
  def quantizeVector(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x)))
    // zip_with against a repeated-scalar array, NOT transform with maxAbs
    // in the lambda body: a lambda re-evaluates outer expressions per
    // element, so the transform form recomputes the whole array_max per
    // component — O(dim^2) per row. zip_with's arguments (including the
    // array_repeat) are evaluated once per row.
    zip_with(
      v,
      array_repeat(maxAbs, size(v)),
      (x, m) =>
        when(m > 0, floor(x * lit(127.0) / m + lit(0.5)).cast("int"))
          .otherwise(lit(0))
    )
  }

  /** Exact brute-force top-k over int8-QUANTIZED vectors — the memory-
    * bounded form of [[cosineTopK]]: per-vector scales cancel in the
    * cosine, so the whole scan runs on 4x-smaller integer vectors with
    * the codegen'd [[graft.plans.QuantizedCosineExpr]] integer loop.
    * Quantization costs ~1e-2 cosine error at 64 dims; rank inversions
    * are confined to near-ties (recall vs the float top-k asserted in
    * ScaleSpec). Same broadcast shape and tie-break as [[cosineTopK]].
    */
  def cosineTopKQuantized(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    def qcos(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.plans.QuantizedCosineExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(a),
          org.apache.spark.sql.GraftSqlBridge.expression(b)
        )
      )
    val q = queries.select(
      col(idCol).as("query_id"),
      quantizeVector(col(vecCol)).as("__qq")
    )
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), quantizeVector(col(vecCol)).as("__nq"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        qcos(col("__qq"), col("__nq")).as("cosine_q")
      )
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine_q").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** IVF-style approximate top-k: coarse-quantize the corpus with k-means
    * (MLlib, deterministic seed), then search only the `nProbe` cells
    * nearest to each query. The inverted-file analogue of [[annTopK]]'s
    * hyperplane buckets — better-balanced cells on clustered data, at the
    * cost of a training pass. Delegates cell assignment and the probed
    * search to [[ivfTopKWithCentroids]] (cosine metric).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      maxIter: Int = 8
  ): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val featurized = corpus.withColumn("__features", array_to_vector(col(vecCol)))
    // coarse quantization only needs roughly-placed centroids, not a
    // converged clustering — cap the training iterations (MLlib defaults
    // to 20); recall is governed by nProbe and asserted in ScaleSpec
    val model = new KMeans()
      .setK(nCells)
      .setSeed(seed)
      .setMaxIter(maxIter)
      .setFeaturesCol("__features")
      .setPredictionCol("__cell")
      .fit(featurized)

    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat).toSeq).toSeq
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, k, centroids, nProbe)
  }

  /** IVF top-k with EXPLICIT centroids (cell i = `centroids(i)`): every
    * corpus vector is assigned to its nearest centroid by squared Euclidean
    * distance (ties → lowest cell — the k-means quantization metric), each
    * query probes its `nProbe` nearest cells, and only those cells are
    * searched (ranking within cells is cosine).
    *
    * Separated from the k-means training so the quantizer is pluggable —
    * with deterministically CHOSEN centroids (e.g. a fixed arithmetic
    * subsequence of corpus vectors) the whole operator becomes
    * SQL-expressible and oracle-checkable, which MLlib training is not.
    *
    * Scale shape: centroids are driver-side literals (an IVF codebook is
    * small by construction), so assignment is a pure per-row codegen'd
    * expression (one native squared-distance loop per centroid) — no
    * shuffle, no join against a centroid table; the probed query side is
    * broadcast and per-query top-k rides `WindowGroupLimit`.
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Seq[Float]],
      nProbe: Int
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nProbe >= 1, "nProbe must be >= 1")

    // one native squared distance per centroid, materialized once per row in
    // its own projection (CollapseProject will not duplicate non-cheap
    // expressions)
    def centroidDists(v: Column): Column =
      array(centroids.map(c => squaredDistanceNative(v, typedlit(c))): _*)

    // corpus side: ONE native codebook expression (argmin with ties to the
    // lowest cell) — the k-ary distance array would fall out of codegen
    // for large codebooks; the probe side below genuinely needs all k
    // distances for nProbe ranking and queries are few, so it keeps the
    // array form
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .withColumn(
        "__cell",
        nearestCentroid(col("__nv"), centroids).getField("cluster")
      )

    // each query probes its nProbe nearest cells (queries are few — the
    // window over (query, cell) rows is trivially small)
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cd", centroidDists(col("__qv")))
      .select(
        col("query_id"),
        col("__qv"),
        posexplode(col("__cd")).as(Seq("__cell", "__qd"))
      )
      .withColumn(
        "__rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("__qd"), col("__cell"))
        )
      )
      .filter(col("__rank") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__cell"))

    val scored = assigned
      .join(broadcast(probed), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Deterministic, engine-portable Lloyd k-means over an embedding
    * column — the clustering stage of cluster-then-curate pipelines
    * (SemDeDup-style cluster-local dedup, cluster-balanced subsampling,
    * topic bucketing). Deliberately NOT MLlib KMeans: seeding and every
    * arithmetic step are pinned so the model and assignment are
    * reproducible across runs, partitionings AND engines (a DuckDB
    * oracle re-derives the exact clustering):
    *
    *  - seeds = the `k` rows with the smallest md5-derived key of
    *    `idCol` (a deterministic pseudo-random draw; cluster id = seed
    *    rank, ties on the key break to the lowest id);
    *  - assignment = argmin over the codegen'd sequential
    *    squared-distance loop, ties to the lowest cluster id;
    *  - centroid update: each element is floor-quantized to 1e-6
    *    (`floor(x * 1e6)` as a long), summed EXACTLY in decimal, and
    *    the mean `sum / 1e6 / n` is truncated to float — integer sums
    *    make the update order-independent, so the model cannot depend
    *    on partitioning; empty clusters keep their previous centroid.
    *
    * Output: the input rows (minus NULL vectors) plus `outCol` (0..k-1)
    * and `distCol` (squared distance to the final centroid, rounded to
    * 6 decimals — the SemDeDup "keep closest/farthest" ranking signal).
    *
    * Scale shape: per round, assignment is a pure per-row codegen'd
    * expression against driver-side literal centroids (no join, no
    * shuffle) and the update is ONE hash aggregate over (cluster, dim)
    * keys — k*dim rows collected, a model-sized driver action like the
    * IVF codebook bootstrap. `rounds` is a small constant; nothing
    * materializes pairs or sorts globally.
    */
  def kmeansCluster(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2,
      outCol: String = "cluster",
      distCol: String = "sq_dist"
  ): DataFrame =
    kmeansAssign(df, vecCol, kmeansTrain(df, idCol, vecCol, k, rounds), outCol, distCol)

  /** Assignment-only companion to [[kmeansCluster]]: label rows with
    * their nearest centroid from an ALREADY-TRAINED codebook (same
    * argmin/tie rules), without touching the model — how a clustering
    * trained on one corpus snapshot applies to the next ingest batch.
    * Pure per-row codegen'd compute: no shuffle, no join, no action. */
  def kmeansAssign(
      df: DataFrame,
      vecCol: String,
      centroids: Seq[Seq[Float]],
      outCol: String = "cluster",
      distCol: String = "sq_dist"
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    // single native expression over the whole codebook: stays in codegen
    // at any k (the k-ary array form bails out past ~hundreds)
    df.filter(col(vecCol).isNotNull)
      .withColumn("__nc", nearestCentroid(col(vecCol), centroids))
      .withColumn(outCol, col("__nc.cluster"))
      .withColumn(distCol, round(col("__nc.sq_dist"), 6))
      .drop("__nc")
  }

  /** Train the [[kmeansCluster]] codebook and return it as driver-side
    * centroids (cluster i = element i) — feed to [[kmeansAssign]] to
    * label other data with the same model. Same determinism contract as
    * [[kmeansCluster]]. */
  def kmeansTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Float]] = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    val src = df.filter(col(vecCol).isNotNull)

    def assign(centroids: Seq[Seq[Float]], in: DataFrame): DataFrame = in
      .withColumn("__cl", nearestCentroid(col(vecCol), centroids).getField("cluster"))

    // model-sized driver actions: k seed vectors, then k*dim sums per round
    var centroids: Seq[Seq[Float]] = src
      .select(col(idCol), col(vecCol))
      .withColumn(
        "__h",
        graft.functions.TextFunctions.md5Prefix60(col(idCol).cast("string"))
      )
      .orderBy(col("__h"), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toSeq)
      .toSeq
    require(centroids.nonEmpty, "no non-null vectors to cluster")

    for (_ <- 1 to rounds) {
      val upd = assign(centroids, src)
        .select(col("__cl"), posexplode(col(vecCol)).as(Seq("__pos", "__e")))
        .groupBy(col("__cl"), col("__pos"))
        .agg(
          sum(
            floor(col("__e").cast("double") * lit(1000000.0)).cast("decimal(38,0)")
          ).as("__s"),
          count(lit(1)).as("__n"),
          // sum() SKIPS nulls while count(1) counts every row, so a MIXED
          // null/non-null (cluster, dim) would silently average over too
          // many rows; the count mismatch catches both the mixed and the
          // all-null case loudly
          count(col("__e")).as("__nn")
        )
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          val dim = rows.map(_.getInt(1)).max + 1
          val v = new Array[Float](dim)
          rows.foreach { r =>
            require(
              r.getLong(3) == r.getLong(4),
              s"null embedding element in cluster $cl dim ${r.getInt(1)} " +
                s"(${r.getLong(3) - r.getLong(4)} of ${r.getLong(3)} rows): " +
                "kmeans requires fully-populated vectors (null VECTORS are " +
                "filtered; null ELEMENTS are data corruption)"
            )
            v(r.getInt(1)) =
              (r.getDecimal(2).doubleValue() / 1000000.0 / r.getLong(3).toDouble).toFloat
          }
          cl -> v.toSeq
        }
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        upd.getOrElse(ci, old)
      }
    }
    centroids
  }

  /** Persist an IVF index to disk: every vector labeled with its nearest
    * centroid ([[kmeansAssign]]) and written PARTITIONED BY the cell, so
    * a probe reads only the probed cells' directories — the layout that
    * makes ANN serve from a 100 TB corpus without scanning it. Pair with
    * [[probeIvfIndex]]; centroids come from [[kmeansTrain]] (or any
    * deterministic codebook). */
  def writeIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Float]],
      path: String
  ): Unit = {
    // the index must carry the id column probeIvfIndex will read back
    require(
      df.columns.contains(idCol),
      s"idCol '$idCol' not in ${df.columns.mkString(", ")}"
    )
    kmeansAssign(df, vecCol, centroids, outCol = "cell")
      .drop("sq_dist")
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(path)
  }

  /** Probe a [[writeIvfIndex]] index: each query's `nProbe` nearest cells
    * are computed driver-side (queries are small by construction), the
    * index scan is FILTERED to that literal cell set — Catalyst turns it
    * into `PartitionFilters`, so only the probed directories are read
    * (plan-asserted in the suite) — and ranking within cells is cosine
    * top-k via `WindowGroupLimit`. Same search semantics as
    * [[ivfTopKWithCentroids]], but against the persisted layout. */
  def probeIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Float]],
      k: Int,
      nProbe: Int
  ): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nProbe >= 1, "nProbe must be >= 1")
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn(
        "__cd",
        array(centroids.map(c => squaredDistanceNative(col("__qv"), typedlit(c))): _*)
      )
      .select(
        col("query_id"),
        col("__qv"),
        posexplode(col("__cd")).as(Seq("cell", "__qd"))
      )
      .withColumn(
        "__rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("__qd"), col("cell"))
        )
      )
      .filter(col("__rank") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cell"))
    // model-sized driver action (<= |queries| * nProbe cells): the literal
    // IN-list is what lets Catalyst prune partitions at the source
    val cells = probed
      .select("cell")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    val scored = spark.read
      .parquet(path)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Int.box): _*))
      .select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Approximate cosine top-k: candidates restricted to the query's
    * hyperplane-LSH bucket. Lower cost, recall controlled by plane count
    * (fewer planes => bigger buckets => higher recall & cost). */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Seq[Seq[Double]]
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      hyperplaneBucket(col(vecCol), planes).as("__bucket")
    )
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("__nv"),
      hyperplaneBucket(col(vecCol), planes).as("__bucket")
    )
    val scored = c
      .join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** OR-amplified hyperplane LSH top-k — the recall dial [[annTopK]] lacks:
    * each of `planeSets.size` independent hyperplane banks buckets every
    * vector, and a corpus vector is a candidate for a query if ANY bank puts
    * them in the same bucket (the same OR construction as MinHash bands —
    * a single flipped plane no longer loses the candidate). With B banks of
    * p planes and match probability m = 1 - theta/pi per plane, candidate
    * recall is 1 - (1 - m^p)^B: more banks => higher recall, linearly more
    * candidate rows.
    *
    * Scale shape: per-row bucket computation (no shuffle), explode to B
    * skinny (bank:bucket, id) rows, hash join against the broadcast query
    * side, then a (query_id, neighbor_id) agg to dedupe pairs found by
    * several banks BEFORE the top-k window — each pair is scored once per
    * discovering bank but ranked once.
    */
  def annTopKMultiBand(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planeSets: Seq[Seq[Seq[Double]]]
  ): DataFrame = {
    require(planeSets.nonEmpty, "need at least one hyperplane bank")
    def banded(df: DataFrame, id: String, vec: String): DataFrame = {
      val bands = planeSets.zipWithIndex.map { case (planes, i) =>
        (lit(i.toLong << 32) + hyperplaneBucket(col(vecCol), planes).cast("long"))
      }
      df.select(
        col(idCol).as(id),
        col(vecCol).as(vec),
        explode(array(bands: _*)).as("__bucket")
      )
    }
    val q = banded(queries, "query_id", "__qv")
    val c = banded(corpus, "neighbor_id", "__nv")
    val scored = c
      .join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
      // banks overlap: collapse duplicate pairs (identical cosine) before
      // ranking so no neighbor appears twice in a query's top-k
      .groupBy("query_id", "neighbor_id")
      .agg(min("cosine").as("cosine"))
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** k-NN graph over ONE corpus: for every vector, its top-k cosine
    * neighbors among the multi-band LSH candidates (vectors sharing at
    * least one bank bucket). The building block of SemDeDup-style semantic
    * clustering, graph-based diversity sampling, and label propagation —
    * the corpus-vs-corpus sibling of [[annTopKMultiBand]], where neither
    * side is broadcastable.
    *
    * Scale shape: the same skinny band join as
    * `Dedup.embeddingDedupPairsMultiBand` — only (bucket, id) rides the
    * quadratic self-join, bank-duplicate DIRECTED pairs collapse before
    * vectors are attached and scored once, and the per-source top-k is a
    * WindowGroupLimit (size-k heaps, no full sort of the candidate
    * table). Recall per neighbor follows the 1 - (1 - m^p)^B OR-bank
    * formula; size banks like the dedup path.
    *
    * @return (id, neighbor_id, cosine, rank) — rank 1..k per id, self
    *         excluded, ties broken by neighbor id
    */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      k: Int
  ): DataFrame = {
    require(planeSets.nonEmpty, "need at least one hyperplane bank")
    require(k >= 1, "k must be >= 1")
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val bands = planeSets.zipWithIndex.map { case (planes, i) =>
      (lit(i.toLong << 32) + hyperplaneBucket(col("__v"), planes).cast("long"))
    }
    val banded = vecs.select(
      col("__id"),
      explode(array(bands: _*)).as("__bucket")
    )
    val a = banded.select(col("__bucket"), col("__id").as("id"))
    val b = banded.select(col("__bucket"), col("__id").as("neighbor_id"))
    val pairs = a
      .join(b, Seq("__bucket"))
      .filter(col("id") =!= col("neighbor_id"))
      .select("id", "neighbor_id")
      .distinct()
    val scored = pairs
      .join(vecs.select(col("__id").as("id"), col("__v").as("__va")), Seq("id"))
      .join(
        vecs.select(col("__id").as("neighbor_id"), col("__v").as("__vb")),
        Seq("neighbor_id")
      )
      .select(
        col("id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__va"), col("__vb")).as("cosine")
      )
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Contrastive training pairs: for every anchor document, `kPos`
    * positives (its nearest neighbors via [[knnGraph]]'s multi-band LSH)
    * and `mNeg` deterministic random negatives — the (anchor, positive,
    * negative) data an embedding/retrieval model trains on (in-batch
    * negatives' standalone form).
    *
    * Negatives are drawn from a GLOBAL candidate pool — the `poolSize`
    * corpus ids with the smallest md5 rank under `salt` — then per anchor
    * the `mNeg` smallest `md5(anchor | candidate)` survivors after
    * excluding self and that anchor's positives. Everything is a pure
    * function of ids and `salt`: the same pairs on every run, engine,
    * and partitioning, re-drawable per epoch by changing the salt.
    *
    * Scale shape: positives are [[knnGraph]]'s skinny band joins; the
    * pool is model-sized and BROADCAST (ids + vectors, ~poolSize x dim
    * floats); negative selection ranks skinny (anchor, candidate) pairs
    * with WindowGroupLimit pruning, and vectors are re-attached only to
    * the selected mNeg rows per anchor (one co-keyed join with the
    * corpus; the pool side rides the broadcast). Nothing quadratic,
    * nothing corpus-sized in memory.
    *
    * Output: (anchor_id, pair_id, label 'pos'|'neg', cosine, rank) with
    * rank 1..kPos / 1..mNeg within each label.
    */
  def contrastivePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planeSets: Seq[Seq[Seq[Double]]],
      kPos: Int,
      mNeg: Int,
      poolSize: Int = 1024,
      salt: String = ""
  ): DataFrame = {
    require(kPos >= 1 && mNeg >= 1, "kPos and mNeg must be >= 1")
    require(poolSize > mNeg, "poolSize must exceed mNeg")
    import graft.functions.TextFunctions.md5Prefix60
    val pos = knnGraph(corpus, idCol, vecCol, planeSets, kPos)
      .select(
        col("id").as("anchor_id"),
        col("neighbor_id").as("pair_id"),
        lit("pos").as("label"),
        col("cosine"),
        col("rank")
      )
    // global negative pool: poolSize smallest md5-ranked ids (documented
    // single-partition global top-n over a model-sized result)
    val pool = TopN
      .firstRow(
        corpus.select(
          col(idCol).as("__pid"),
          col(vecCol).as("__pv"),
          md5Prefix60(concat(lit("pool:"), lit(salt), lit(":"), col(idCol).cast("string")))
            .as("__pr")
        ),
        n = poolSize,
        orderBy = Seq(col("__pr"), col("__pid"))
      )
      .drop("__pr")
    val negPairs = corpus
      .select(col(idCol).as("anchor_id"))
      .join(broadcast(pool.select("__pid")), col("anchor_id") =!= col("__pid"))
      .join(
        pos.select(col("anchor_id"), col("pair_id").as("__pid")),
        Seq("anchor_id", "__pid"),
        "left_anti"
      )
      .withColumn(
        "__nr",
        md5Prefix60(concat(
          lit("neg:"), lit(salt), lit(":"),
          col("anchor_id").cast("string"), lit("|"), col("__pid").cast("string")
        ))
      )
    val selected = TopN.firstRow(
      negPairs,
      n = mNeg,
      partitionBy = Seq(col("anchor_id")),
      orderBy = Seq(col("__nr"), col("__pid")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
    val neg = selected
      .join(
        corpus.select(col(idCol).as("anchor_id"), col(vecCol).as("__av")),
        Seq("anchor_id")
      )
      .join(broadcast(pool), Seq("__pid"))
      .select(
        col("anchor_id"),
        col("__pid").as("pair_id"),
        lit("neg").as("label"),
        cosineSimilarityNative(col("__av"), col("__pv")).as("cosine"),
        col("rank")
      )
    pos.unionByName(neg)
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDims` dimensions, in LONG format `(id, dim, value)` with
    * `value_j = sum_i emb[i] * sign(i, j)` and ±1 signs from md5 parity of
    * `"i:j"` — deterministic and engine-portable (no RNG state), the
    * standard cheap sketch before LSH/ANN when raw dimensionality makes
    * hashing or distance evaluation the bottleneck. Components are
    * floor-quantized to 1e-7 and summed as integers, so the result is
    * bit-identical regardless of partitioning/summation order (and across
    * engines — IEEE double multiply + floor has no rounding-mode
    * ambiguity, unlike decimal casts). The quantization error is orders of
    * magnitude below JL distortion.
    *
    * Scale shape: posexplode the vector, broadcast-join the (inDims x
    * outDims) sign matrix — built once, a few KB — and hash-aggregate on
    * (id, dim). Partial aggregation collapses the inDims x outDims row
    * expansion map-side, so the single shuffle carries only outDims rows
    * per vector.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int
  ): DataFrame = {
    require(inDims >= 1 && outDims >= 1, "dimensions must be >= 1")
    val spark = df.sparkSession
    val signs = spark
      .range(inDims)
      .select(col("id").cast("int").as("__i"))
      .crossJoin(spark.range(outDims).select(col("id").cast("int").as("dim")))
      .select(
        col("__i"),
        col("dim"),
        (lit(1) - lit(2) * (conv(
          substring(md5(concat_ws(":", col("__i"), col("dim"))), 1, 1),
          16,
          10
        ).cast("int") % 2)).as("__sign")
      )
    df.select(
        col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__i", "__v"))
      )
      .join(broadcast(signs), Seq("__i"))
      .groupBy("id", "dim")
      .agg(
        (sum(floor(col("__v").cast("double") * lit(1e7)).cast("long") * col("__sign"))
          .cast("double") / lit(1e7)).as("value")
      )
  }

  /** Greedy k-center (farthest-point-first) diversity sample over an
    * embedding column — the selection complement of near-dup REMOVAL:
    * dedup drops what is too close, k-center picks the k points that
    * SPREAD the widest (coverage radius within 2x of optimal, the classic
    * Gonzalez bound). Deterministic: the seed is the minimum id, each
    * round picks the point with the largest squared distance to its
    * nearest chosen center (ties -> smallest id). Returns (idCol,
    * center_rank) for the k chosen points, rank 0 = seed.
    *
    * Scale shape: k passes, each a narrow per-row update
    * `minDist = least(minDist, dist(v, newest center))` — one codegen'd
    * native distance per row per round against the BROADCAST newest
    * center (never the full chosen set), then a one-row max_by argmax.
    * `localCheckpoint` truncates the k-step lineage like the CC/PageRank
    * loops. k driver actions by construction (one argmax per round) —
    * the same bounded-iteration contract, documented EAGER.
    */
  def kCenterSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .localCheckpoint()
    val seedRow = base.orderBy("__id").select("__id", "__v").head()
    var chosen = List((seedRow.getLong(0), seedRow.getSeq[Float](1)))
    var work = base
      .withColumn(
        "__mind",
        squaredDistanceNative(col("__v"), typedLit(chosen.head._2.toArray))
      )
      .localCheckpoint()
    var exhausted = false
    while (!exhausted && chosen.size < k) {
      val far = work
        .agg(
          max_by(
            struct(col("__id"), col("__v")),
            // largest distance first; exact-tie -> smallest id
            struct(col("__mind"), (-col("__id")).as("__nid"))
          ).as("__far")
        )
        .select(col("__far.__id"), col("__far.__v"))
        .head()
      val center = (far.getLong(0), far.getSeq[Float](1))
      // the argmax revisiting a chosen point means every remaining point
      // is at distance 0 (k exceeds the distinct vectors): stop short
      if (chosen.exists(_._1 == center._1)) exhausted = true
      else {
        chosen = chosen :+ center
        if (chosen.size < k)
          work = work
            .withColumn(
              "__mind",
              least(
                col("__mind"),
                squaredDistanceNative(col("__v"), typedLit(center._2.toArray))
              )
            )
            .localCheckpoint()
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _), rank) => (id, rank) }
      .toDF(idCol, "center_rank")
  }

  /** Scalable large-k diversity sample — the k-means||-style
    * oversample-then-prune complement of [[kCenterSample]]: where the exact
    * greedy runs k sequential Spark passes (fine for sampling-k, hopeless
    * for k in the thousands), this runs a CONSTANT number of distributed
    * rounds, then finishes the greedy on a driver-local candidate set.
    *
    * Per round, every point is selected independently with probability
    * proportional to its squared distance to the nearest candidate so far
    * (expected `oversample * k / rounds` picks per round) — far points are
    * overwhelmingly likely to surface, exactly the farthest-point-first
    * intuition, and the k-means|| initialization argument (Bahmani et al.,
    * VLDB 2012) for why O(k) distance-proportional candidates cover every
    * region an exact greedy would reach. Selection is DETERMINISTIC: the
    * coin is the md5 bucket of (id, salt, round) — reproducible across
    * runs, engines, and partitionings. The final greedy over candidates is
    * Gonzalez farthest-point-first seeded at the minimum id with
    * smallest-id tie-breaks, so the output is stable.
    *
    * Scale shape: `2 * rounds + 3` driver actions TOTAL, independent of k.
    * Each round updates min-distances against ONLY the new candidate batch
    * as one compact 2-D array literal folded per-row (`aggregate` over the
    * batch, native squared distance inside — the IVF codebook pattern: no
    * shuffle, no join), with a lazy `localCheckpoint` so the round's sum
    * aggregate is the action that materializes it. The candidate set is
    * O(oversample * k) vectors and must fit on the driver — the same
    * contract as any broadcast codebook; the finishing greedy is
    * O(k * |candidates| * dim) driver flops (k = 10^4 is seconds).
    * Unlike exact Gonzalez there is no formal 2-approx guarantee; the
    * planted-cluster coverage bound is asserted in ScaleSpec.
    *
    * @param oversample candidate multiplier (>= 1); larger = closer to the
    *                   exact greedy's radius at more driver memory
    * @param rounds     distributed passes; distances are refreshed against
    *                   new candidates between rounds, so more rounds =
    *                   better-adapted sampling (k-means|| uses ~5)
    */
  def kCenterSampleScalable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      oversample: Double = 4.0,
      rounds: Int = 4,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(oversample >= 1.0, "oversample must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .localCheckpoint()
    val seedRow = base.orderBy("__id").select("__id", "__v").head()
    val candidates =
      scala.collection.mutable.ArrayBuffer((seedRow.getLong(0), seedRow.getSeq[Float](1)))
    val candidateIds = scala.collection.mutable.Set(candidates.head._1)

    // min distance to the whole batch in ONE codegen'd codebook loop —
    // the HOF fold (aggregate over a typedlit array) evaluates an
    // interpreted lambda per batch member per row; min VALUE is identical
    def minDistToBatch(batch: Seq[Seq[Float]]): Column =
      nearestCentroid(col("__v"), batch).getField("sq_dist")

    var work = base
      .withColumn(
        "__mind",
        squaredDistanceNative(col("__v"), typedLit(candidates.head._2.toArray))
      )
      .localCheckpoint(false)
    var sumD = work.agg(sum("__mind")).head().getDouble(0) // materializes
    val perRound = math.ceil(oversample * k / rounds)
    var r = 1
    while (r <= rounds && sumD > 0) {
      // deterministic coin: u < perRound * d / sumD  <=>  u * sumD < perRound * d
      val u = (Splits.hashBucket(col("__id"), s"kc|$salt|$r").cast("double") + lit(0.5)) /
        lit(Splits.Buckets.toDouble)
      val batch = work
        .filter(col("__mind") > 0 && u * lit(sumD) < lit(perRound) * col("__mind"))
        .select("__id", "__v")
        .collect()
        .iterator
        .map(row => (row.getLong(0), row.getSeq[Float](1)))
        .filterNot { case (id, _) => candidateIds(id) }
        .toSeq
      if (batch.nonEmpty) {
        candidates ++= batch
        candidateIds ++= batch.map(_._1)
        work = work
          .withColumn(
            "__mind",
            least(col("__mind"), minDistToBatch(batch.map(_._2)))
          )
          .localCheckpoint(false)
      }
      sumD = work.agg(sum("__mind")).head().getDouble(0) // one job per round
      r += 1
    }
    // under-delivery guard (tiny corpora / degenerate distributions): top
    // up with the current farthest points — TakeOrdered, no global sort
    if (candidates.size < k) {
      val extra = work
        .filter(col("__mind") > 0)
        .orderBy(col("__mind").desc, col("__id"))
        .limit(k - candidates.size)
        .select("__id", "__v")
        .collect()
        .iterator
        .map(row => (row.getLong(0), row.getSeq[Float](1)))
        .filterNot { case (id, _) => candidateIds(id) }
      candidates ++= extra
    }

    // driver-local Gonzalez over the candidate set (seeded at the min id,
    // which is candidates(0) by construction; ties -> smallest id)
    def sqDist(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val cand = candidates.sortBy(_._1).toIndexedSeq
    val minD = Array.fill(cand.size)(Double.MaxValue)
    var chosen = List(0) // index of the min id in the sorted candidate seq
    while (chosen.size < k) {
      val newest = cand(chosen.head)._2
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < cand.size) {
        val d = math.min(minD(i), sqDist(cand(i)._2, newest))
        minD(i) = d
        if (d > bestD) { bestD = d; best = i }
        i += 1
      }
      // farthest remaining distance 0 => every candidate already covered
      // (k exceeds the distinct vectors): stop short, like kCenterSample
      if (bestD == 0.0) return finishKCenter(cand, chosen.reverse, idCol)
      chosen = best :: chosen
    }
    finishKCenter(cand, chosen.reverse, idCol)
  }

  private def finishKCenter(
      cand: IndexedSeq[(Long, Seq[Float])],
      chosenInOrder: List[Int],
      idCol: String
  ): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    chosenInOrder.zipWithIndex
      .map { case (idx, rank) => (cand(idx)._1, rank) }
      .toDF(idCol, "center_rank")
  }

  /** Maximal-Marginal-Relevance diversified top-k: greedily select k rows
    * maximizing `lambda * score - (1 - lambda) * maxCosineToChosen` — the
    * classic re-ranker that trades pure relevance against redundancy
    * (lambda = 1 is plain top-k by score, lambda -> 0 approaches pure
    * diversity). Deterministic: ties break to the smallest id; the seed is
    * the best-scored row (its penalty term is 0). Returns (idCol, rank,
    * mmr) with `mmr` the objective value at selection time.
    *
    * Scale shape: identical to [[kCenterSample]] — k narrow passes, each
    * one codegen'd native cosine against the BROADCAST newest pick
    * (`maxSim = greatest(maxSim, cos(v, newest))`, never the whole chosen
    * set), a one-row max_by argmax per round, `localCheckpoint` lineage
    * truncation. k driver actions by construction — documented EAGER. */
  def diversifiedTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scoreCol: String,
      k: Int,
      lambda: Double = 0.7
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(
        col(idCol).cast("long").as("__id"),
        col(vecCol).as("__v"),
        col(scoreCol).cast("double").as("__s")
      )
      .localCheckpoint()
    def mmr = lit(lambda) * col("__s") - lit(1.0 - lambda) * col("__maxsim")
    var work = base.withColumn("__maxsim", lit(0.0))
    var chosen = List.empty[(Long, Seq[Float], Double)]
    var exhausted = false
    while (!exhausted && chosen.size < k) {
      val remaining =
        if (chosen.isEmpty) work
        else work.filter(!col("__id").isin(chosen.map(_._1): _*))
      val top = remaining
        .agg(
          max_by(
            struct(col("__id"), col("__v"), mmr.as("__mmr")),
            struct(mmr.as("__m"), (-col("__id")).as("__nid"))
          ).as("__t")
        )
        .select(col("__t.__id"), col("__t.__v"), col("__t.__mmr"))
        .collect()
      if (top.isEmpty || top(0).isNullAt(0)) exhausted = true
      else {
        val pick = (top(0).getLong(0), top(0).getSeq[Float](1), top(0).getDouble(2))
        chosen = chosen :+ pick
        if (chosen.size < k) {
          val cos =
            cosineSimilarityNative(col("__v"), typedLit(pick._2.toArray))
          // after the FIRST pick the running max IS the raw cosine (which
          // may be negative — the seed-round 0.0 placeholder must not
          // floor it); later picks fold in via greatest
          val updated =
            if (chosen.size == 1) cos else greatest(col("__maxsim"), cos)
          work = work.withColumn("__maxsim", updated).localCheckpoint()
        }
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _, m), rank) =>
        // HALF_UP like SQL ROUND — argmax decisions used the full doubles
        val rounded = BigDecimal(m)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        (id, rank, rounded)
      }
      .toDF(idCol, "rank", "mmr")
  }

  // ===========================================================================
  // Product quantization (PQ): the compressed-codes ANN tier between int8
  // scalar quantization (4x) and IVF partition pruning — split each vector
  // into `numSubspaces` contiguous subvectors, k-means each subspace
  // independently, and store ONLY the per-subspace nearest-centroid ids.
  // At 64 dims float32 -> 4 int codes that's 64x smaller than the raw
  // vectors: the whole 100 TB corpus's codes fit where 1.6 TB of floats
  // would, and search never touches the original vectors (asymmetric
  // distance: per query, precompute the numSubspaces x k table of
  // query-slice <-> centroid distances ONCE, then every candidate costs
  // numSubspaces array lookups instead of a dim-length loop).
  // ===========================================================================

  /** Train PQ codebooks: one [[kmeansTrain]]-style deterministic Lloyd
    * model PER SUBSPACE (md5-ranked seeds — the same k seed rows feed
    * every subspace — floor-quantized integer centroid sums so the mean
    * is order-independent, empty clusters carrying the previous
    * centroid), all subspaces trained together in ONE corpus scan per
    * round (the per-subspace assignment explodes to the same element
    * volume a single full-width k-means round shuffles). Returns
    * `codebooks(s)(c)` = centroid `c` of subspace `s`; vector width must
    * divide evenly into `numSubspaces`.
    *
    * Driver actions are model-sized only: k seed vectors, then
    * numSubspaces * k * subDim quantized sums per round. */
  def pqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numSubspaces: Int,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Seq[Float]]] = {
    require(numSubspaces >= 1, "numSubspaces must be >= 1")
    require(k >= 1, "k must be >= 1")
    require(rounds >= 0, "rounds must be >= 0")
    val src = df.filter(col(vecCol).isNotNull)
    val seeds: Seq[Seq[Float]] = src
      .select(col(idCol), col(vecCol))
      .withColumn(
        "__h",
        graft.functions.TextFunctions.md5Prefix60(col(idCol).cast("string"))
      )
      .orderBy(col("__h"), col(idCol))
      .limit(k)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toSeq)
      .toSeq
    require(seeds.nonEmpty, "no non-null vectors to train on")
    val dim = seeds.head.length
    require(
      dim % numSubspaces == 0,
      s"vector width $dim is not divisible into $numSubspaces subspaces"
    )
    val sub = dim / numSubspaces
    var codebooks: Seq[Seq[Seq[Float]]] = (0 until numSubspaces).map(s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub))
    )
    for (_ <- 1 to rounds) {
      // one scan: per row, one (subspace, cluster, subvector) struct per
      // subspace, then positions — total elements exploded = dim per row,
      // exactly what one full-width k-means round explodes
      val assignStructs = (0 until numSubspaces).map { s =>
        val sv = slice(col(vecCol), s * sub + 1, sub)
        struct(
          lit(s).as("s"),
          nearestCentroid(sv, codebooks(s)).getField("cluster").as("cl"),
          sv.as("sv")
        )
      }
      val upd = src
        .select(explode(array(assignStructs: _*)).as("__a"))
        .select(
          col("__a.s").as("__s"),
          col("__a.cl").as("__cl"),
          posexplode(col("__a.sv")).as(Seq("__pos", "__e"))
        )
        .groupBy("__s", "__cl", "__pos")
        .agg(
          sum(
            floor(col("__e").cast("double") * lit(1000000.0))
              .cast("decimal(38,0)")
          ).as("__sum"),
          count(lit(1)).as("__n"),
          // non-null element count: sum() SKIPS nulls, so a mixed
          // null/non-null position would otherwise average over too many
          // rows silently — the count mismatch is the loud detector
          count(col("__e")).as("__nn")
        )
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, cl), rows) =>
          val v = new Array[Float](sub)
          rows.foreach { r =>
            require(
              r.getLong(4) == r.getLong(5),
              s"null embedding element in subspace $s cluster $cl dim " +
                s"${r.getInt(2)} (${r.getLong(4) - r.getLong(5)} of " +
                s"${r.getLong(4)} rows): PQ requires fully-populated " +
                "vectors (null VECTORS are filtered; null ELEMENTS are " +
                "data corruption)"
            )
            v(r.getInt(2)) =
              (r.getDecimal(3).doubleValue() / 1000000.0 /
                r.getLong(4).toLong.toDouble).toFloat
          }
          (s, cl) -> v.toSeq
        }
      codebooks = codebooks.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (old, c) => upd.getOrElse((s, c), old) }
      }
    }
    codebooks
  }

  /** Encode vectors to PQ codes: `outCol` = array<int> of length
    * numSubspaces, element s = the nearest subspace-s centroid id (same
    * argmin/tie rules as [[kmeansAssign]]). Pure per-row compute — one
    * codegen'd [[nearestCentroid]] loop per subspace over the slice, no
    * shuffle, no action; the column a 100 TB corpus persists instead of
    * its float vectors. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      outCol: String = "pq_codes"
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    require(
      !df.columns.contains(outCol),
      s"input already has a column '$outCol' — pqEncode would silently " +
        "overwrite it; rename or drop it first (or pass a different outCol)"
    )
    val sub = codebooks.head.head.length
    df.filter(col(vecCol).isNotNull)
      .withColumn(
        outCol,
        array(codebooks.indices.map { s =>
          nearestCentroid(slice(col(vecCol), s * sub + 1, sub), codebooks(s))
            .getField("cluster")
        }: _*)
      )
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-ENCODED corpus: for each
    * query, precompute the numSubspaces x k lookup table of exact
    * query-slice <-> centroid squared distances (per QUERY, not per
    * candidate), broadcast the tiny lut table, and score every candidate
    * as `lut_0[code_0] + lut_1[code_1] + ...` — numSubspaces array
    * lookups per pair, never a dim-length loop, never the original
    * vectors. Approximation error is the quantization residual; recall
    * vs the exact scan is asserted in the suite.
    *
    * `db` needs (`dbIdCol`, `codesCol` from [[pqEncode]]); ranking is
    * (adc_dist asc, neighbor_id) per query via `WindowGroupLimit` —
    * the same no-global-sort shape as [[cosineTopK]]. Self-pairs (equal
    * ids) are excluded. */
  def pqTopK(
      db: DataFrame,
      dbIdCol: String,
      codesCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int
  ): DataFrame = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    require(k >= 1, "k must be >= 1")
    val sub = codebooks.head.head.length
    val m = codebooks.size
    // per-query lut columns: element c of __lut_s = ||q_s - centroid_c||^2
    // (sequential-fold double, the oracle-portable arithmetic) via the
    // native SquaredDistanceExpr inside one transform over the codebook
    // literal, so plan size stays independent of codebook size. Queries
    // are small by construction, so the per-element lambda re-evaluation
    // of the slice is irrelevant; the candidate side never runs this.
    // NULL query vectors are dropped here, not downstream: a NULL lut
    // would rank NULLS FIRST under the ascending distance sort and hand
    // the query k garbage neighbors instead of no rows
    val luts = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .select(
        col("query_id") +: (0 until m).map { s =>
          transform(
            array(codebooks(s).map(c => typedlit(c.toArray)): _*),
            cv => squaredDistanceNative(slice(col("__qv"), s * sub + 1, sub), cv)
          ).as(s"__lut_$s")
        }: _*
      )
    val dist = (0 until m)
      .map(s =>
        element_at(col(s"__lut_$s"), col(codesCol).getItem(s) + 1)
      )
      .reduceLeft(_ + _) // fixed s-ascending add order: engine-portable
    val scored = db
      .select(col(dbIdCol).as("neighbor_id"), col(codesCol))
      .join(broadcast(luts), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("adc_dist"))
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("adc_dist"), col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Two-stage PQ retrieval — ADC shortlist, then EXACT re-rank: take the
    * [[pqTopK]] top-(k*expand) candidates per query, re-attach float
    * vectors for the SHORTLIST only, exact-cosine re-rank to the final
    * top-k. The standard production shape (FAISS's refine step): the
    * compressed index does the heavy candidate generation over the whole
    * corpus, and the one bounded join (|queries| * k * expand rows
    * broadcast against the vector table — never a corpus-sized shuffle)
    * buys back the quantization error, lifting recall@k from the ADC
    * ~0.8 band toward ~1 for a fixed code budget (asserted vs
    * [[pqRecallAudit]] in the suite).
    *
    * `db` is the codes-only index (`dbIdCol`, `codesCol`); `vectors`
    * maps `vecIdCol` -> `vecCol` floats (usually the original corpus
    * table — only shortlisted rows are ever fetched from it). Output is
    * (query_id, neighbor_id, cosine, rank), ranking (cosine desc, id)
    * per query via `WindowGroupLimit`. Self-pairs are excluded by the
    * ADC stage; shortlisted ids missing from `vectors` are dropped
    * (inner join) — feed the same corpus the codes came from. */
  def pqTopKRefined(
      db: DataFrame,
      dbIdCol: String,
      codesCol: String,
      vectors: DataFrame,
      vecIdCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      expand: Int = 4
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(expand >= 1, "expand must be >= 1")
    val shortlist = pqTopK(
      db, dbIdCol, codesCol, queries, qIdCol, qVecCol, codebooks,
      k * expand
    ).select(col("query_id"), col("neighbor_id"))
    val q = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    // broadcast the model-sized shortlist INTO the vector scan: the
    // corpus table is read once, filtered to shortlist members by a
    // broadcast hash join — no corpus shuffle, no second index
    val rescored = vectors
      .select(col(vecIdCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosineSimilarityNative(col("__qv"), col("__nv")).as("cosine")
      )
    TopN.firstRow(
      rescored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("cosine").desc, col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** PQ tuning report — the ANN counterpart of
    * [[Dedup.minHashRecallReport]]: on a deterministic md5-chosen sample
    * of `numQueries` vectors, compare the EXACT squared-distance top-k
    * against [[pqTopK]] over the PQ-encoded corpus and report one row:
    * (n_docs, n_queries, n_true_pairs, n_hit, recall_at_k). Run it
    * BEFORE shipping a compressed index to pick (numSubspaces, k) —
    * recall is what the code budget buys.
    *
    * Scale shape: the exact-truth scan is the expensive part, and it is
    * bounded by construction — `numQueries` broadcast query vectors
    * against one corpus pass (O(numQueries * n), never n^2); the ADC side
    * costs the serve path. All counts are one-row aggregates crossJoined
    * back; the md5 query draw is engine-portable, so the whole report is
    * oracle-checkable. */
  def pqRecallAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      numQueries: Int,
      salt: String = ""
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(numQueries >= 1, "numQueries must be >= 1")
    val base = df.filter(col(vecCol).isNotNull)
    val qs = base
      .withColumn(
        "__h",
        graft.functions.TextFunctions
          .md5Prefix60(concat(col(idCol).cast("string"), lit(salt)))
      )
      .orderBy(col("__h"), col(idCol))
      .limit(numQueries)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = TopN.firstRow(
      base
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
        .join(broadcast(qs), col("neighbor_id") =!= col("query_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          squaredDistanceNative(col("__qv"), col("__nv")).as("__d")
        ),
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("__d"), col("neighbor_id"))
    ).select("query_id", "neighbor_id")
    val adc = pqTopK(
      pqEncode(base, vecCol, codebooks), idCol, "pq_codes",
      qs, "query_id", "__qv", codebooks, k
    ).select("query_id", "neighbor_id")
    val hit = exact.join(adc, Seq("query_id", "neighbor_id"), "left_semi")
    val nd = base.agg(count(lit(1)).as("n_docs"))
    val nq = qs.agg(count(lit(1)).as("n_queries"))
    val nt = exact.agg(count(lit(1)).as("n_true_pairs"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    nd.crossJoin(nq)
      .crossJoin(nt)
      .crossJoin(nh)
      .select(
        col("n_docs"),
        col("n_queries"),
        col("n_true_pairs"),
        col("n_hit"),
        round(
          col("n_hit").cast("double") /
            when(col("n_true_pairs") > 0, col("n_true_pairs")),
          6
        ).as("recall_at_k")
      )
  }

  // ===========================================================================
  // IVF-PQ: the two tiers composed the way a billion-scale index actually
  // ships — a coarse quantizer routes each vector to a cell (search probes
  // only nProbe cells: the IVF partition-pruning win), and PQ encodes the
  // RESIDUAL vector - cellCentroid (residuals are tighter than raw vectors,
  // so the same code budget quantizes finer). The index row is
  // (id, cell, codes): bytes per vector, no floats anywhere at serve time.
  // ===========================================================================

  /** Residual of each vector against its nearest coarse centroid:
    * `(id, cell, resCol)` where the residual is computed element-wise in
    * double and truncated back to float (the storage/search width — and the
    * form an oracle reproduces exactly). Pure per-row codegen'd compute. */
  def ivfResiduals(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      resCol: String = "residual"
  ): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse centroid")
    // the output claims 'cell' (and resCol) by contract; a pre-existing
    // column of either name would survive the withColumnRenamed as a
    // DUPLICATE column and poison every downstream select with an
    // ambiguity error — reject it here, where the cause is nameable
    Seq("cell", "__cell", resCol).foreach { c =>
      require(
        !df.columns.contains(c),
        s"input already has a column '$c', which ivfResiduals produces — " +
          "rename or drop it first"
      )
    }
    val cell = nearestCentroid(col(vecCol), coarse).getField("cluster")
    val centroid =
      element_at(array(coarse.map(c => typedlit(c.toArray)): _*), col("__cell") + 1)
    df.filter(col(vecCol).isNotNull)
      .withColumn("__cell", cell)
      .withColumn(
        resCol,
        zip_with(
          col(vecCol),
          centroid,
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")
        )
      )
      .withColumnRenamed("__cell", "cell")
  }

  /** Train the residual PQ codebooks for an IVF-PQ index: [[pqTrain]] on
    * the [[ivfResiduals]] of the corpus. Same determinism contract —
    * the model replays bit-for-bit from (ids, vectors, coarse). */
  def ivfPqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      numSubspaces: Int,
      k: Int,
      rounds: Int = 2
  ): Seq[Seq[Seq[Float]]] =
    pqTrain(
      ivfResiduals(df, idCol, vecCol, coarse).select(col(idCol), col("residual")),
      idCol, "residual", numSubspaces, k, rounds
    )

  /** Build the IVF-PQ index rows `(idCol, cell, pq_codes)`: cell routing
    * plus PQ codes of the residual. Per-row codegen'd compute only — at
    * corpus scale this is the one full scan, and its output is the only
    * thing search ever reads. Persist partitioned by `cell` (exactly
    * [[writeIvfIndex]]'s layout) to make probes partition-pruned reads. */
  def ivfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]]
  ): DataFrame =
    pqEncode(
      ivfResiduals(df, idCol, vecCol, coarse),
      "residual", codebooks
    ).select(col(idCol), col("cell"), col("pq_codes"))

  /** IVF-PQ search: each query probes its `nProbe` nearest cells; within
    * each probed cell the query's RESIDUAL against that cell's centroid
    * feeds a per-(query, cell) ADC lookup table, and candidates cost
    * numSubspaces array lookups — the index's floats are never read
    * (there are none). The probed (query, cell, luts) table is broadcast;
    * per-query ranking is (adc_dist asc, id) via `WindowGroupLimit`.
    * Self-pairs are excluded. */
  def ivfPqTopK(
      index: DataFrame,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      nProbe: Int
  ): DataFrame =
    ivfPqScore(
      index, idCol,
      ivfPqProbeLuts(queries, qIdCol, qVecCol, coarse, codebooks, nProbe),
      codebooks, k
    )

  /** The probed (query_id, cell, __lut_0..__lut_{m-1}) table — the ONE
    * definition of IVF-PQ query-side preparation, shared by [[ivfPqTopK]]
    * and [[probeIvfPqIndex]] so in-memory and at-rest search are equal by
    * construction: nProbe nearest cells per query (tiny window over
    * queries), then a per-(query, cell) ADC lookup table built from the
    * query's residual against the PROBED cell. */
  private def ivfPqProbeLuts(
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      nProbe: Int
  ): DataFrame = {
    require(coarse.nonEmpty, "need at least one coarse centroid")
    require(nProbe >= 1, "nProbe must be >= 1")
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    val sub = codebooks.head.head.length
    val m = codebooks.size
    val cellArr = array(coarse.map(c => typedlit(c.toArray)): _*)
    // NULL query vectors dropped (same NULLS-FIRST hazard as pqTopK: the
    // probe window would hand them cells 0..nProbe-1 and garbage ranks)
    queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .withColumn(
        "__cd",
        array(coarse.map(c => squaredDistanceNative(col("__qv"), typedlit(c))): _*)
      )
      .select(
        col("query_id"),
        col("__qv"),
        posexplode(col("__cd")).as(Seq("cell", "__qd"))
      )
      .withColumn(
        "__rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("__qd"), col("cell"))
        )
      )
      .filter(col("__rank") <= nProbe)
      // the query's residual against the PROBED cell (not its own nearest):
      // ADC distance approximates ||q - x|| = ||qres_cell - res_x|| inside
      // that cell, so the lut must be built from the cell-local residual
      .withColumn(
        "__qres",
        zip_with(
          col("__qv"),
          element_at(cellArr, col("cell") + 1),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")
        )
      )
      .select(
        col("query_id") +: col("cell") +: (0 until m).map { s =>
          transform(
            array(codebooks(s).map(c => typedlit(c.toArray)): _*),
            cv => squaredDistanceNative(slice(col("__qres"), s * sub + 1, sub), cv)
          ).as(s"__lut_$s")
        }: _*
      )
  }

  /** ADC scoring + per-query ranking over an IVF-PQ index against a
    * [[ivfPqProbeLuts]] table: candidates cost m array lookups, the
    * probed table is broadcast, ranking is (adc_dist, id) via
    * `WindowGroupLimit`. Self-pairs excluded. */
  private def ivfPqScore(
      index: DataFrame,
      idCol: String,
      probed: DataFrame,
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int
  ): DataFrame = {
    val m = codebooks.size
    val dist = (0 until m)
      .map(s => element_at(col(s"__lut_$s"), col("pq_codes").getItem(s) + 1))
      .reduceLeft(_ + _)
    val scored = index
      .select(col(idCol).as("neighbor_id"), col("cell"), col("pq_codes"))
      .join(
        broadcast(probed),
        Seq("cell")
      )
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("adc_dist"))
    TopN.firstRow(
      scored,
      n = k,
      partitionBy = Seq(col("query_id")),
      orderBy = Seq(col("adc_dist"), col("neighbor_id")),
      returnIndexColumn = true,
      indexColumnName = "rank"
    )
  }

  /** Persist an IVF-PQ index to disk: the [[ivfPqIndex]] rows written
    * PARTITIONED BY cell — the layout [[writeIvfIndex]] uses, but holding
    * CODES instead of float vectors (the at-rest form a billion-scale
    * index actually ships: bytes per vector, directories per cell, no
    * floats anywhere). Pair with [[probeIvfPqIndex]]. */
  def writeIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      path: String
  ): Unit = {
    require(
      df.columns.contains(idCol),
      s"idCol '$idCol' not in ${df.columns.mkString(", ")}"
    )
    ivfPqIndex(df, idCol, vecCol, coarse, codebooks)
      .write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(path)
  }

  /** Probe a [[writeIvfPqIndex]] index: the probed cell set is computed
    * driver-side (model-sized: <= |queries| * nProbe cells) and pushed as
    * a literal IN-list, so Catalyst prunes to the probed cell DIRECTORIES
    * at the source (`PartitionFilters`, plan-asserted in the suite) and
    * serve-time reads touch only codes — never a float, never an
    * unprobed cell. Search semantics are EXACTLY [[ivfPqTopK]]'s (both
    * run [[ivfPqProbeLuts]] + [[ivfPqScore]]). */
  def probeIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      qIdCol: String,
      qVecCol: String,
      coarse: Seq[Seq[Float]],
      codebooks: Seq[Seq[Seq[Float]]],
      k: Int,
      nProbe: Int
  ): DataFrame = {
    // materialize the model-sized probe table ONCE: the cell-set collect
    // and the broadcast inside ivfPqScore both read it — without the
    // checkpoint the per-query window/centroid work runs twice
    val probed =
      ivfPqProbeLuts(queries, qIdCol, qVecCol, coarse, codebooks, nProbe)
        .localCheckpoint()
    val cells = probed
      .select("cell")
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
    val index = spark.read
      .parquet(path)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Int.box): _*))
    ivfPqScore(index, idCol, probed, codebooks, k)
  }
}
