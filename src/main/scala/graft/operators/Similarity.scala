package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

/**
 * Similarity search over an embedding column (`array<float>`):
 *  - brute-force cosine top-k (the exactness baseline — one broadcast of the
 *    query set, one narrow scan, partial top-k per partition via
 *    TakeOrderedAndProject);
 *  - IVF-bucketed ANN (the scale path — corpus pre-partitioned by nearest
 *    coarse centroid, queries probe only `nprobe` lists → partition-pruned
 *    scan, the same shape as the reference's inverted file,
 *    ds/IVFPQ.java:408–450);
 *  - hyperplane-LSH bucketed ANN (sign-random-projection SimHash of the
 *    embedding, band join).
 *
 * Vector math uses built-in higher-order functions (zip_with/aggregate) —
 * codegen'd, no UDFs.
 */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2NormCol(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity; 0.0 when either side has zero norm. Native Catalyst
    * expression — the HOF formulation evaluated an interpreted lambda per
    * element and dominated the candidate-verification stages. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_cosine(a, b)

  /**
   * Per-group bounded-heap top-k (the T1 partial+final shape,
   * ds/Linear.java:138–163): map-side [[BoundedTopK]] collapses each
   * partition's candidates to ≤ k rows per group before the shuffle; the final
   * aggregate merges heaps. Plans as ObjectHashAggregate — no Window, no
   * single-task per-group sort (asserted in PlanSpec).
   * Returns groupCols + (idCol, scoreCol, rank).
   */
  def topKPerGroup(scored: DataFrame, groupCols: Seq[String],
                   scoreCol: String, idCol: String, k: Int,
                   ascending: Boolean): DataFrame = {
    val g = groupCols.map(col)
    scored
      .groupBy(g: _*)
      .agg(BoundedTopK.topK(col(scoreCol), col(idCol), lit(null), k,
        ascending).as("__tk"))
      .select(g :+ posexplode(col("__tk")): _*)
      .select(g ++ Seq(
        col("col.id").as(idCol),
        col("col.score").as(scoreCol),
        (col("pos") + 1).cast("int").as("rank")): _*)
  }

  /**
   * Brute-force cosine top-k: each query (small set, broadcast) against the
   * full corpus; rank per query by (similarity desc, neighbor id asc) —
   * deterministic under ties. Self-matches excluded.
   * Returns (query_id, neighbor_id, cosine, rank).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topKPerGroup(scored, Seq("query_id"), "cosine", "neighbor_id", k,
      ascending = false)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * Radius (range) search — the threshold complement of top-k: every corpus
   * vector with cosine ≥ `minCosine` of each query. Same broadcast-query /
   * narrow-scan shape as [[bruteForceTopK]] but the filter replaces the
   * bounded heap, so output size is data-dependent; at 100 TB the scan is
   * embarrassingly parallel and nothing shuffles (the filter is applied
   * map-side before any exchange). Self-matches excluded.
   * Returns (query_id, neighbor_id, cosine).
   */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Assign each row its nearest coarse-centroid list id (the IVF
    * partitioning key, ds/IVFPQ.java:100–106). The centroid matrix rides in a
    * Spark broadcast inside a native codegen'd expression
    * ([[graft.functions.CentroidExpressions.NearestCentroid]]) — O(1) plan
    * nodes and a compiled scan loop at any k_c, vs the ~k_c·d literal nodes a
    * per-centroid `struct(aggregate(zip_with(...)))` formulation would pin
    * into the plan (un-compilable at the reference k_c=8192, d=1024). */
  def withListId(df: DataFrame, vecCol: String,
                 centroids: Array[Array[Double]], listCol: String = "list_id"): Column =
    graft.functions.CentroidExpressions.nearest_centroid(col(vecCol),
      df.sparkSession.sparkContext.broadcast(centroids))

  /**
   * IVF ANN top-k: corpus carries a `list_id` (ideally its partition column →
   * Catalyst prunes non-probed lists at planning time); each query probes the
   * `nprobe` nearest coarse lists and ranks within them. Same output schema
   * as [[bruteForceTopK]]. With nprobe = numLists this is exact.
   *
   * `broadcastQueries = true` (default) pins the reference's per-query-batch
   * semantics (ds/IVFPQ.java:408 searches one bounded query set): the query
   * side MUST fit in a broadcast — a million-row query table would fail the
   * broadcast, not degrade. Pass `broadcastQueries = false` for large query
   * tables: the hint is dropped and the probe join plans as an ordinary
   * shuffle join on `probe === list_id` (Catalyst may still choose to
   * broadcast if the size estimate clears `autoBroadcastJoinThreshold`);
   * identical results, corpus-side partition pruning retained.
   */
  def ivfTopK(queries: DataFrame, corpusWithList: DataFrame,
              idCol: String, vecCol: String,
              centroids: Array[Array[Double]], k: Int, nprobe: Int,
              broadcastQueries: Boolean = true): DataFrame = {
    // nprobe nearest centroids per query — the probe-list selection
    // (ds/IVFPQ.java:408–420) as a native broadcast-centroid expression
    // ordered (distance asc, index asc), same result as sorting per-centroid
    // distance structs but with O(1) plan nodes at any k_c.
    val probeLists = graft.functions.CentroidExpressions.k_nearest_centroids(
      col("qv"), nprobe, queries.sparkSession.sparkContext.broadcast(centroids))
    val qBare = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("probe", explode(probeLists))
    val q = if (broadcastQueries) broadcast(qBare) else qBare
    val c = corpusWithList.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col("list_id"))
    val scored = q.join(c, col("probe") === col("list_id") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    topKPerGroup(scored, Seq("query_id"), "cosine", "neighbor_id", k,
      ascending = false)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * IVFADC index build over an embedding corpus (ds/IVFPQ.java:100–117): each
   * row → (id, list_id, pq_code) in one narrow compiled pass — coarse
   * assignment, residual, and PQ encode fused in a single broadcast-state
   * expression. The output is the reference's inverted file as a table: write
   * it through SnapshotSink partitioned by `list_id` and probed searches
   * partition-prune (IvfSnapshotSpec shape). 8 bits/sub-code × m vs 4·d bytes
   * raw — the representation that fits 95.2M vectors in 16 GB
   * (exm/YFCC100MExample.java:45–52).
   */
  def ivfPqEncode(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  pq: graft.kernels.Kernels.PqModel): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val enc = graft.functions.PqExpressions.ivf_pq_encode(
      col(vecCol), sc.broadcast(centroids), sc.broadcast(pq))
    df.select(col(idCol), enc.as("__enc"))
      .select(col(idCol), col("__enc.list_id").as("list_id"),
        col("__enc.pq_code").as("pq_code"))
  }

  /**
   * IVFADC k-NN for ONE query vector (ds/IVFPQ.java:408–450, query-at-a-time
   * like the reference): probe the `nprobe` nearest coarse lists, ship ADC
   * LUTs for exactly those lists in one broadcast, scan only probed rows
   * (partition-pruned when `encoded` is list_id-partitioned on disk), rank by
   * ADC distance ascending with id tie-break. Returns the k best
   * (neighbor_id, list_id, adc_dist) via TakeOrderedAndProject.
   */
  def ivfPqSearch(encoded: DataFrame, idCol: String, queryVec: Array[Double],
                  centroids: Array[Array[Double]],
                  pq: graft.kernels.Kernels.PqModel,
                  k: Int, nprobe: Int): DataFrame = {
    import graft.kernels.Kernels
    val probed = Kernels.kNearestCentroids(queryVec, centroids, nprobe)
    val luts = probed.map(li => li ->
      Kernels.adcLookupTable(Kernels.residual(queryVec, centroids(li)), pq)).toMap
    val bcLuts = encoded.sparkSession.sparkContext.broadcast(luts)
    encoded
      .where(col("list_id").isin(probed.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col("list_id"),
        graft.functions.PqExpressions.adc_distance(col("pq_code"), col("list_id"),
          bcLuts).as("adc_dist"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
      .limit(k)
  }

  /** Multi-query IVFADC as ONE join-shaped plan (ds/IVFPQ.java:408–450 at
    * |Q| scale — the set-based twin of what [[ivfTopK]] does for raw cosine):
    * probe selection and per-(query, list) ADC LUTs are computed driver-side
    * from the BOUNDED query set and each gets a dense slot in a single
    * broadcast (|Q|·nprobe tables of m×k_s doubles — the same memory the
    * per-query loop shipped, in one shipment); a tiny (query_id, probe,
    * lut_slot) table broadcast-joins the encoded corpus on `list_id` under a
    * static IN filter (partition-pruned when the corpus is list_id-
    * partitioned on disk), `adc_distance` indexes the slot, and a per-query
    * [[BoundedTopK]] (adc asc, id tie-break) replaces N sort+limits. The
    * corpus is scanned ONCE regardless of |Q| — a 10³-row query table is one
    * probe join, not a 10³-branch union plan. For corpus×corpus workloads
    * use the LSH/near-dup operators instead — an unbounded query side must
    * not drive driver-side LUT construction. Returns (query_id, neighbor_id,
    * list_id, adc_dist), per query the k best by (adc_dist asc, id asc). */
  def ivfPqSearchMany(encoded: DataFrame, idCol: String,
                      queries: Seq[(Long, Array[Double])],
                      centroids: Array[Array[Double]],
                      pq: graft.kernels.Kernels.PqModel,
                      k: Int, nprobe: Int): DataFrame = {
    require(queries.nonEmpty, "ivfPqSearchMany: empty query set")
    import graft.kernels.Kernels
    val spark = encoded.sparkSession
    val probeRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val luts = Map.newBuilder[Int, Array[Array[Double]]]
    var slot = 0
    queries.foreach { case (qid, qv) =>
      Kernels.kNearestCentroids(qv, centroids, nprobe).foreach { li =>
        probeRows += ((qid, li, slot))
        luts += slot -> Kernels.adcLookupTable(Kernels.residual(qv, centroids(li)), pq)
        slot += 1
      }
    }
    val bcLuts = spark.sparkContext.broadcast(luts.result())
    val allLists = probeRows.map(_._2).distinct.sorted
    import spark.implicits._
    val probeDf = broadcast(probeRows.toSeq.toDF("query_id", "probe", "__lut"))
    val scored = encoded
      .where(col("list_id").isin(allLists.map(Integer.valueOf).toSeq: _*))
      .join(probeDf, col("probe") === col("list_id"))
      .select(col("query_id"), col(idCol), col("list_id"),
        graft.functions.PqExpressions.adc_distance(col("pq_code"), col("__lut"),
          bcLuts).as("adc_dist"))
    scored.groupBy(col("query_id"))
      .agg(BoundedTopK.topK(col("adc_dist"), col(idCol), col("list_id"), k,
        ascending = true).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.payload").as("list_id"), col("e.score").as("adc_dist"))
  }

  /**
   * Two-stage IVFADC search with exact re-rank (the IVFADC+R shape, Jégou
   * et al. TPAMI 2011 §V / FAISS's refine stage): PQ distances rank
   * candidates cheaply but carry quantization error, so the ADC stage is
   * widened to `m ≥ k` candidates per query and the survivors are re-ranked
   * by EXACT squared L2 against the full vectors. Scale shape: the
   * candidate set is |Q|·m ids — it is broadcast back onto the vector
   * table, so the corpus is scanned once, full vectors never enter an
   * exchange, and the exact distance runs in the native codegen'd
   * `vec_squared_l2`; the final per-query k is a [[BoundedTopK]] partial
   * aggregate, no Window. Returns (query_id, neighbor_id, list_id,
   * l2_dist), per query the k best by (l2_dist asc, id asc).
   */
  def ivfPqSearchRerank(encoded: DataFrame, vectors: DataFrame, idCol: String,
                        vecCol: String, queries: Seq[(Long, Array[Double])],
                        centroids: Array[Array[Double]],
                        pq: graft.kernels.Kernels.PqModel,
                        k: Int, m: Int, nprobe: Int): DataFrame = {
    require(m >= k, s"re-rank window m=$m must be >= k=$k")
    val spark = encoded.sparkSession
    import spark.implicits._
    val cand = ivfPqSearchMany(encoded, idCol, queries, centroids, pq,
        k = m, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id"), col("list_id"))
    val qDf = queries.toDF("query_id", "__qv")
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("list_id"),
        graft.functions.VectorExpressions.vec_squared_l2(
          col("__qv"), col("__nv")).as("l2_dist"))
    scored.groupBy(col("query_id"))
      .agg(BoundedTopK.topK(col("l2_dist"), col("neighbor_id"),
        col("list_id"), k, ascending = true).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.payload").as("list_id"), col("e.score").as("l2_dist"))
  }

  /**
   * Exact-vs-approx recall diagnostic (J5, exm/Example.java:155–182: the
   * reference prints the overlap of linear vs IVFPQ result sets). Per query:
   * |exact ∩ approx| / k over the top-k neighbor-id sets. Both inputs in the
   * (query_id, neighbor_id, …) shape of [[bruteForceTopK]]/[[ivfTopK]].
   */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    e.groupBy("query_id").agg(count(lit(1)).as("k_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k_exact"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
  }

  /** Sign-random-projection hash of an embedding: bit i = sign(v · h_i),
    * hyperplanes seeded-deterministic. Embedding-space SimHash for LSH
    * bucketing and embedding near-dup dedup. */
  def hyperplaneHash(vecCol: Column, dim: Int, bits: Int, seed: Long): Column = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(bits, dim)(rnd.nextGaussian())
    graft.functions.VectorExpressions.hyperplane_hash(vecCol, planes)
  }

  /** Embedding near-duplicate CLUSTERS: LSH-bucketed pairs → distributed
    * connected components (semantic dedup: keep one row per cluster via
    * Dedup.keepRepresentatives). */
  def embeddingNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, threshold: Double = 0.95,
                             bits: Int = 32, chunks: Int = 4,
                             seed: Long = 42L, maxBucket: Int = 1000): DataFrame =
    Dedup.connectedComponents(
      embeddingNearDupPairs(df, idCol, vecCol, dim, threshold, bits, chunks,
        seed, maxBucket))

  /** Embedding near-duplicate pairs: bucket by hyperplane-hash chunks (recall
    * by pigeonhole), verify with exact cosine ≥ threshold. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, threshold: Double = 0.95,
                            bits: Int = 32, chunks: Int = 4,
                            seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val hashStage = df.select(col(idCol), col(vecCol).as("v"),
      hyperplaneHash(col(vecCol), dim, bits, seed).as("hh"))
    // the O(bits·dim)-per-row hash stage feeds the banding and both verify
    // join-backs — persist it once (Dedup.withPersistedStage rationale).
    // Candidates ride as ids only: vectors join back once per surviving
    // candidate instead of riding the banding explode ×chunks.
    Dedup.withPersistedStage(hashStage) { hashed =>
      Dedup.verifyPairs(
        Dedup.cappedBucketPairs(hashed, idCol,
          Dedup.chunkKeys(col("hh"), chunks, bits / chunks),
          Seq("chunk", "key"), maxBucket, newOnly = false),
        hashed, idCol, "v", "cosine", cosine, _ >= threshold)
    }
  }

  /**
   * SemDeDup-shaped near-duplicate pairs (Abbas et al. 2023, arXiv:2303.09540):
   * bucket by nearest k-means centroid — the corpus-ADAPTED coarse quantizer,
   * via the same broadcast `nearest_centroid` expression the IVF family
   * plans — then verify with exact cosine ≥ threshold INSIDE each cluster.
   * vs [[embeddingNearDupPairs]] (hyperplane LSH): buckets follow the data
   * distribution instead of random projections, so the candidate budget
   * concentrates where the corpus actually clusters; the price is that a
   * pair split across two clusters is missed — the documented SemDeDup
   * approximation (the LSH variant's multi-chunk pigeonhole has no such
   * blind spot but needs `chunks` hash passes).
   *
   * Scale shape: one shuffle on `list_id` carrying (id, vec, list_id);
   * within-cluster verify is quadratic in cluster size, so k_c must grow
   * with the corpus (SemDeDup's own contract: clusters of ~10³–10⁴ rows);
   * [[graft.operators.Dedup]]'s hot-bucket guard drops clusters over
   * `maxBucket` outright rather than letting one degenerate cluster go
   * quadratic. The assignment stage feeds the guard count, its probe and
   * both join sides — persisted once, released after the (small) pair set
   * materializes.
   */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: Array[Array[Double]],
                           threshold: Double = 0.95,
                           maxBucket: Int = 10000): DataFrame =
    Dedup.withPersistedStage(semanticAssignments(df, idCol, vecCol, centroids)) {
      semanticPairsOver(_, idCol, threshold, maxBucket, newOnly = false)
    }

  /** Capped cluster self-join + exact-cosine verify over an
    * (idCol, v, list_id, [__new]) assignment stage; `newOnly` keeps pairs
    * with a `__new` side. Vectors deliberately RIDE the single, disjoint-key
    * cluster join: with no cross-band candidate dedup to shrink behind,
    * ids-only pairs ([[Dedup.cappedBucketPairs]]) + vector join-backs would
    * re-exchange the corpus per candidate (measured 1.4× slower), so the
    * cluster cap stays the count + semi-join guard. */
  private def semanticPairsOver(stage: DataFrame, idCol: String,
                                threshold: Double, maxBucket: Int,
                                newOnly: Boolean): DataFrame = {
    val capped = Dedup.capBuckets(stage, Seq("list_id"), maxBucket)
    def side(s: String) = capped.select(Seq(col("list_id"),
      col(idCol).as(s"id_$s"), col("v").as(s"v_$s")) ++
      (if (newOnly) Seq(col("__new").as(s"__new_$s")) else Nil): _*)
    val joined = side("a").join(side("b"), Seq("list_id"))
      .where(col("id_a") < col("id_b"))
    (if (newOnly) joined.where(col("__new_a") || col("__new_b")) else joined)
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** The (id, vector, list_id) assignment stage [[semanticNearDupPairs]]
    * computes — exposed so a pipeline can PERSIST it (e.g.
    * `SnapshotSink.append(..., keyCol = idCol)`) and dedup grown corpora
    * incrementally: at SemDeDup scale the nearest-centroid assignment is
    * k_c·d work per vector (k_c up to 8192, d up to 1024 in the reference
    * regime) — [[semanticNearDupPairsIncremental]] pays it for the NEW
    * batch only. */
  def semanticAssignments(df: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol).as("v"),
      withListId(df, vecCol, centroids).as("list_id"))

  /** Stable fingerprint of a centroid model (MD5 over the raw double bits,
    * row-major). Recorded in the assignment snapshot's lineage and validated
    * on read: [[semanticNearDupPairsIncremental]]'s contract is ONE centroid
    * model across old and new — mixing models silently mis-buckets, so the
    * mismatch must fail loudly at read time instead. */
  def centroidFingerprint(centroids: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    centroids.foreach { row =>
      bb.clear(); bb.putLong(row.length.toLong); md.update(bb.array(), 0, 8)
      row.foreach { d =>
        bb.clear(); bb.putDouble(d); md.update(bb.array(), 0, 8)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist [[semanticAssignments]] of `df` into a
    * [[graft.sink.SnapshotSink]] table, resume-safe: only ids not already
    * committed are centroid-assigned (at SemDeDup scale that is the k_c·d
    * dominant cost per vector), so a grown re-curation or a crash replay
    * pays for genuinely new vectors only. The centroid-model fingerprint
    * rides the snapshot lineage; [[readSemanticAssignments]] refuses a
    * table built under a different model. */
  def persistSemanticAssignments(df: DataFrame, table: String, idCol: String,
                                 vecCol: String,
                                 centroids: Array[Array[Double]]): Unit = {
    requireAssignmentModel(table, centroids)
    val assign = semanticAssignments(df, idCol, vecCol, centroids)
    graft.sink.SnapshotSink.appendMissing(assign, table, idCol, Seq.empty,
      lineage = Map("op" -> "semantic_assignments",
        "centroid_md5" -> centroidFingerprint(centroids),
        "k_c" -> centroids.length.toString))
    ()
  }

  /** Read a [[persistSemanticAssignments]] table back for
    * [[semanticNearDupPairsIncremental]], validating the recorded
    * centroid-model fingerprint against the consumer's. */
  def readSemanticAssignments(spark: org.apache.spark.sql.SparkSession,
                              table: String,
                              centroids: Array[Array[Double]]): DataFrame = {
    requireAssignmentModel(table, centroids)
    graft.sink.SnapshotSink.read(spark, table)
  }

  /** Shared by the write and read paths, so an append never mixes models:
    * the newest snapshot must record the caller's centroid fingerprint. */
  private def requireAssignmentModel(table: String,
                                     centroids: Array[Array[Double]]): Unit =
    graft.sink.SnapshotSink.lastSnapshot(table).foreach { snap =>
      val fp = snap.lineage.get("centroid_md5")
      require(fp.contains(centroidFingerprint(centroids)),
        s"assignment table $table was built under centroid model " +
          s"${fp.getOrElse("(unrecorded)")}; the caller's model differs — " +
          "incremental SemDeDup requires one model across old and new")
    }

  /**
   * INCREMENTAL SemDeDup — [[semanticNearDupPairs]] against a persisted
   * assignment table: pairs touching the NEW batch only (new×new +
   * new×old within each cluster), never old×old. The embedding-space member
   * of the incremental family ([[graft.operators.Dedup
   * .minhashLshPairsIncremental]] for text shingles,
   * [[graft.operators.Dedup.hammingPairs64Incremental]] for 64-bit image
   * sketches). CONTRACT: `oldAssignments` was produced by
   * [[semanticAssignments]] under the SAME centroid model — mixing models
   * silently mis-buckets (centroids are the pair semantics here); with
   * stable centroids and no cluster crossing `maxBucket`,
   *   full(old ∪ new) ≡ full(old) ∪ incremental (SimilaritySpec).
   * Ids present in both sides take the NEW vector (re-ingest upsert). Only
   * the new batch's assignments are computed and cached; the old side is a
   * storage-backed scan.
   */
  def semanticNearDupPairsIncremental(newBatch: DataFrame,
                                      oldAssignments: DataFrame,
                                      idCol: String, vecCol: String,
                                      centroids: Array[Array[Double]],
                                      threshold: Double = 0.95,
                                      maxBucket: Int = 10000): DataFrame =
    Dedup.incremental(semanticAssignments(newBatch, idCol, vecCol, centroids),
      oldAssignments.select(col(idCol), col("v"), col("list_id")), idCol) {
      semanticPairsOver(_, idCol, threshold, maxBucket, newOnly = true)
    }

  /** [[semanticNearDupPairs]] → connected components: (id, group_id =
    * min member id) clusters, ready for `Dedup.keepRepresentatives` /
    * `Curation.splitByGroup`. */
  def semanticNearDupGroups(df: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[Array[Double]],
                            threshold: Double = 0.95,
                            maxBucket: Int = 10000): DataFrame =
    Dedup.connectedComponents(
      semanticNearDupPairs(df, idCol, vecCol, centroids, threshold, maxBucket))
}
