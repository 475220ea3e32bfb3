package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.Tables
import graft.sources.Snapshot
import graft.functions.{cosine_sim, hyperplane_buckets}

/** Approximate-nearest-neighbour search over the embedding column
  * (SURVEY §2E).
  *
  * `bruteTopK` is the exactness baseline — O(|Q|·N), acceptable only
  * because |Q| is a handful of probe vectors; it is the oracle that
  * `lshTopK`'s recall is measured against (AnnSpec). `lshTopK` is the
  * scale path: candidates come from hyperplane-LSH buckets, so the
  * expensive cosine runs on a small candidate set per query.
  */
object Ann {

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), Candidates.vector)

  /** The query slice `vec_id < nQueries` of a (vec_id, v) relation as
    * (q_id, qv).
    */
  private def queriesOf(vecs: DataFrame, nQueries: Int): DataFrame =
    vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Exact top-k cosine neighbours for query vectors `vec_id < nQueries`
    * (self excluded). Broadcast the tiny query side; rank per query
    * with a window (ties broken by neighbour id).
    */
  def bruteTopK(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 10): DataFrame = {
    val all = vectors(spark, dir)
    Candidates.ranked(
      all.join(broadcast(queriesOf(all, nQueries)), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine_sim(col("qv"), col("v")).as("cos")), k)
  }

  /** LSH-bucketed approximate top-k: 16 tables × 6 random-hyperplane
    * bits (for a ~0.4-cos neighbour, P(bit agree) ≈ 0.63, so per-table
    * hit ≈ 0.63⁶ ≈ 0.06 and 16 tables give ≈ 0.65 recall; `bits`
    * scales with log N in production to keep buckets O(1)).
    *
    * Plan shape: the whole signature builds in ONE
    * [[graft.functions.HyperplaneBuckets]] call per vector (fused
    * loop, vector copied once), `posexplode` yields (table, bucket)
    * rows, queries broadcast, and the exact cosine is computed at the
    * match site so only (q_id, n_id, cos) — never the vectors — flows
    * through the dedup/rank shuffles. At 100 TB the explode side
    * shuffles on (table, bucket) — linear, and bucket occupancy (not
    * N²) bounds the join.
    */
  def lshTopK(spark: SparkSession, dir: String,
              nQueries: Int = 5, k: Int = 10,
              tables: Int = 16, bits: Int = 6, dim: Int = 64): DataFrame =
    lshTopKFrom(lshBuckets(spark, dir, tables, bits), nQueries, k)

  /** The exploded (vec_id, v, t, bucket) hyperplane-LSH relation
    * behind [[lshTopK]] — its (vec_id, t, bucket) projection is the
    * gate artifact: persisted, the oracle re-derives the candidate
    * set (bucket self-join), the exact cosine and the final ranking
    * from the same parquet.
    */
  private def lshBuckets(spark: SparkSession, dir: String,
                         tables: Int, bits: Int): DataFrame =
    vectors(spark, dir).select(col("vec_id"), col("v"),
      posexplode(hyperplane_buckets(col("v"), tables, bits)).as(Seq("t", "bucket")))

  /** [[lshTopK]] with the bucket keys PERSISTED at the fixed gate
    * path — the hyperplane hashes stay engine-specific, everything
    * downstream is hash-exact against the oracle's re-derivation.
    */
  def lshTopKGate(spark: SparkSession, dir: String,
                  nQueries: Int = 5, k: Int = 10,
                  tables: Int = 16, bits: Int = 6): DataFrame = {
    val buckets = lshBuckets(spark, dir, tables, bits)
    Gate.once(spark, "ann_lsh", dir)(g =>
      buckets.select("vec_id", "t", "bucket")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/buckets"))
    lshTopKFrom(buckets, nQueries, k)
  }

  private def lshTopKFrom(buckets: DataFrame, nQueries: Int,
                          k: Int): DataFrame = {
    val qb = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("t"), col("bucket"))
    Candidates.ranked(buckets.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine_sim(col("qv"), col("v")).as("cos"))
      .groupBy("q_id", "n_id").agg(max("cos").as("cos")), k)
  }

  /** Cap on the quantiser's training-set size: KMeans quality needs a
    * representative sample, not the corpus — a full-corpus fit is the
    * one step of IVF construction that would NOT scale (10 iterations
    * × all N vectors through the driver-coordinated ML job). 100k
    * vectors is orders of magnitude more than `cells` needs.
    */
  val MaxTrainVectors = 100000L

  /** The shared IVF coarse quantiser: KMeans over the embedding
    * corpus, returning (per-vector cell assignment, cell-center dim).
    * Used by both [[ivfTopK]] and
    * [[Dedup.embeddingPairsIvf]] — one quantiser, two
    * consumers, exactly how an IVF index is shared at 100 TB: the
    * model is trained ONCE — on a bounded deterministic hash sample
    * (≤[[MaxTrainVectors]]) — and every consumer assigns against it,
    * so training is memoized per
    * (session, dir, cells) here — the local stand-in for a persisted
    * model artifact.
    */
  def ivfAssign(spark: SparkSession, dir: String,
                cells: Int = 16): (DataFrame, DataFrame) =
    graft.Memo(spark, "ivf-quantiser", (dir, cells)) {
      trainAssignOf(vectors(spark, dir), cells)
    }

  /** Cell count at or below which the coarse quantiser trains and
    * assigns FLAT (one MLlib fit; assignment ranks every cell per
    * vector — fine while cells is a constant). Above it the quantiser
    * goes TWO-LEVEL: ≈√cells super-centers route first, then only the
    * probed super's cells are ranked — because with `cells ∝ N/256`
    * (the constant-occupancy rule the kNN family uses) a flat
    * assignment is O(N · cells) = O(N²/256) in disguise, the exact
    * at-scale defect the sf10 probe measured (knn_join 31× wall for
    * 10× data). Two-level routing makes per-vector assignment
    * O(√cells) and training O(sample·√cells), the standard
    * hierarchical-quantiser remedy (FAISS-style deployments switch to
    * a second-level quantiser once nlist passes ~10⁴).
    */
  val FlatCellsMax = 64

  /** The two-level routing structure every per-VECTOR cell operation
    * (assignment, multi-probe) evaluates against: per super-center its
    * member cells, with pre-computed norms for cosine ranking. The
    * super "center" is the MEAN of its member cells' centers — a
    * routing representative derivable from the (cell, center, super)
    * relation alone, so the persisted index needs no extra
    * `supercenters/` file.
    */
  private[graft] type RouterSupers =
    Seq[(Seq[Double], Double, Seq[(Int, Seq[Double], Double)])]

  private[graft] def routerOf(
      rows: Array[(Int, Seq[Double], Int)]): RouterSupers =
    rows.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, cs) =>
      val cells = cs.sortBy(_._1).map { case (id, w, _) =>
        (id, w, math.max(math.sqrt(w.map(x => x * x).sum), 1e-12))
      }.toSeq
      val dim = cells.head._2.length
      val sc = (0 until dim).map(d => cells.map(_._2(d)).sum / cells.size)
      (sc, math.max(math.sqrt(sc.map(x => x * x).sum), 1e-12), cells)
    }

  /** Build the router from any (cell, center, super) relation —
    * in-memory centersDf or the persisted `centers/` parquet.
    */
  private[graft] def routerFromCenters(centersDf: DataFrame): RouterSupers =
    routerOf(centersDf.collect().map(r =>
      (r.getInt(0), r.getSeq[Double](1), r.getInt(2))))

  /** The router as a bare plan literal — for call sites (streaming)
    * where the broadcast-relation fallback is unavailable and the
    * frame is small.
    */
  private[graft] def routerLit(router: RouterSupers): Column =
    typedLit(router)

  /** The router as a plan-side column: a nested literal under the
    * budget (ksuper·dim + cells·dim doubles), a one-row broadcast
    * relation past it ([[Candidates.attach]]); a million-cell router
    * is ~500 MB of centers and must never ride every task's
    * serialized plan.
    */
  private[graft] def attachRouter(df: DataFrame, router: RouterSupers,
                                  budget: Int = MaxPlanLiteralDoubles): (DataFrame, Column) =
    Candidates.attach(df, router,
      router.map(s => s._1.size + s._3.map(_._2.size).sum).sum, "__router", budget)

  /** `vecs` (vec_id, v) listed under each vector's `nprobe` nearest
    * cells through the router ([[routeProbeExpr]] — O(√cells) loops
    * per vector once the cell count scales with the corpus; pure
    * per-row compute, no window, no model state), as (vec_id, v, cell).
    */
  private[pipeline] def probedOf(vecs: DataFrame, router: RouterSupers,
                                 nprobe: Int): DataFrame = {
    val (rframe, rcol) = attachRouter(vecs, router)
    rframe.select(col("vec_id"), col("v"),
      explode(routeProbeExpr(rcol, router, nprobe)).as("cell"))
  }

  /** The corpus under the shared `cells` quantiser, multi-probe
    * listed ([[probedOf]]): the symmetric blocking of the kNN join and
    * of IVF-blocked embedding dedup.
    */
  private[pipeline] def probedCorpus(spark: SparkSession, dir: String,
                                     cells: Int, nprobe: Int): DataFrame = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    probedOf(assigned.drop("cell"), routerFromCenters(centersDf), nprobe)
  }

  /** Euclidean cell assignment through the router: argmin over the
    * supers (ties to the lower super), then argmin over ONLY that
    * super's cells (ties to the lower cell id — array_sort on
    * (d2, cell) structs). O(√cells) distance loops per vector instead
    * of O(cells); all loop-shaped higher-order functions, so the
    * generated code stays small at any router size.
    */
  private[graft] def routeCellExpr(routerCol: Column,
                                   v: Column = col("v")): Column = {
    val sd = transform(routerCol, s =>
      aggregate(zip_with(v, s.getField("_1"), (x, w) => (x - w) * (x - w)),
        lit(0.0), (a, y) => a + y))
    val cells = element_at(routerCol,
      array_position(sd, array_min(sd)).cast("int")).getField("_3")
    val scored = transform(cells, c =>
      struct(
        aggregate(zip_with(v, c.getField("_2"), (x, w) => (x - w) * (x - w)),
          lit(0.0), (a, y) => a + y).as("d2"),
        c.getField("_1").as("cell")))
    element_at(transform(array_sort(scored), x => x.getField("cell")), 1)
  }

  /** The `nprobe` nearest cells of `v` through the router, ranked by
    * cosine (dot/|c| — |v| is a positive per-row constant): rank the
    * supers, gather the cells of the top `min(nSupers, max(2, nprobe))`
    * supers, rank only those. With one super (the flat quantiser) this
    * is exactly the old single-level multi-probe expression — same
    * scoring, same (score desc, cell asc) tie order.
    */
  private[graft] def routeProbeExpr(routerCol: Column, router: RouterSupers,
                                    nprobe: Int,
                                    v: Column = col("v")): Column = {
    val sprobe = math.min(router.size, math.max(2, nprobe))
    val ss = transform(routerCol, (s, i) =>
      struct(
        (-aggregate(zip_with(v, s.getField("_1"), (x, w) => x * w),
          lit(0.0), (a, y) => a + y) / s.getField("_2")).as("ns"),
        i.as("pos")))
    val cand = flatten(transform(
      slice(array_sort(ss), 1, sprobe),
      x => element_at(routerCol,
        (x.getField("pos") + 1).cast("int")).getField("_3")))
    val scored = transform(cand, c =>
      struct(
        (-aggregate(zip_with(v, c.getField("_2"), (x, w) => x * w),
          lit(0.0), (a, y) => a + y) / c.getField("_3")).as("ns"),
        c.getField("_1").as("cell")))
    transform(slice(array_sort(scored), lit(1), lit(nprobe)),
      x => x.getField("cell"))
  }

  /** Driver-side Lloyd's over one super-cell's SAMPLE slice — the
    * second-level fits are many and tiny (sample/ksuper points,
    * cells/ksuper centers each), where an MLlib job per fit would pay
    * ksuper job-scheduling round-trips for milliseconds of arithmetic.
    * Deterministic: seeded init over vec_id-sorted points; an emptied
    * cluster keeps its previous center.
    */
  private def localKMeans(pts: Array[Array[Double]], k: Int, seed: Long,
                          iters: Int = 10): Array[Array[Double]] = {
    val dim = pts.head.length
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(pts.indices.toVector).take(k)
      .map(i => pts(i).clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, dim)(0.0)
      val cnt = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnt(best) += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / cnt(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** The un-memoized quantiser core over ANY (vec_id, v) relation —
    * train on the capped deterministic sample, assign the full set.
    * Returns (assigned, centersDf = (cell, center, super)). Flat at or
    * below [[FlatCellsMax]] cells; two-level above it (see there):
    * one MLlib fit for ≈√cells super-centers, then per-super local
    * Lloyd's over the sample slice, then ONE linear corpus pass
    * assigning through the router expression — no per-vector
    * all-cells ranking anywhere.
    * Both returned frames are materialized (the assignment is cached
    * and counted); callers that don't memoize unpersist when done.
    */
  private[pipeline] def trainAssignOf(vecs: DataFrame,
                                      cells: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vecs.sparkSession
    val all = vecs.cache()
    // deterministic hash sample: keep ≈MaxTrainVectors rows however
    // large the corpus (xxhash64(vec_id) is a fixed uniform map, so
    // the training set is stable across runs and partitionings; no
    // global sort, one column-pruned count). n·h < n·1e6·(cap/n)
    // stays within int64 for any realistic corpus (h < 1e6).
    val n = all.count()
    val sampled0 =
      if (n <= MaxTrainVectors) all
      else all.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) * n
          < lit(1000000L) * MaxTrainVectors)
    // pin the training set to a FIXED deterministic partition layout
    // before fit (the quality_classifier discipline): kmeans|| init
    // samples per partition and treeAggregate sums in partition
    // order, and the scan's layout is NOT a function of the data —
    // split packing breaks equal-file-size ties by directory listing
    // order (measured: two byte-identical cloned index dirs trained
    // to entirely different centers). Fixed count + hash-on-key +
    // in-partition sort makes the centers a function of the DATA
    // only — which is also what the rebuild-equals-fresh-build spec
    // actually asserts.
    val sampled = sampled0
      .repartition(8, col("vec_id")).sortWithinPartitions("vec_id")
    if (cells <= FlatCellsMax) {
      val train = sampled.withColumn("fv", array_to_vector(col("v")))
      val model = new KMeans().setK(cells).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(train)
      // assignment runs over the FULL corpus — one map pass against
      // the (tiny) trained model, the part of IVF that IS linear
      val assigned = model
        .transform(all.withColumn("fv", array_to_vector(col("v"))))
        .select("vec_id", "v", "cell").cache()
      assigned.count() // materialize BEFORE dropping the training
      all.unpersist() // cache, or the first consumer re-scans parquet
      val centers = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.toSeq, 0)
      }.toSeq
      (assigned, spark.createDataFrame(centers).toDF("cell", "center", "super"))
    } else {
      val ksuper = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
      val subPerSuper = math.max(1, math.ceil(cells.toDouble / ksuper).toInt)
      val train = sampled.withColumn("fv", array_to_vector(col("v")))
      val superModel = new KMeans().setK(ksuper).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("sup")
        .fit(train)
      // the SAMPLE (bounded ≤ MaxTrainVectors) comes to the driver
      // once, partitioned by super — the corpus never does
      val samplePts = superModel.transform(train)
        .select(col("sup"), col("vec_id").cast("long").as("vec_id"), col("v"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      val bySuper = samplePts.groupBy(_._1)
      val centerRows = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double], Int)]
      var nextId = 0
      (0 until ksuper).foreach { s =>
        val pts = bySuper.getOrElse(s, Array.empty).sortBy(_._2).map(_._3)
        if (pts.nonEmpty) {
          localKMeans(pts, math.min(subPerSuper, pts.length), seed = 42L + s)
            .foreach { c => centerRows += ((nextId, c.toSeq, s)); nextId += 1 }
        }
      }
      val router = routerOf(centerRows.toArray)
      val (frame, rcol) = attachRouter(all, router)
      val assigned = frame
        .select(col("vec_id"), col("v"), routeCellExpr(rcol).as("cell"))
        .cache()
      assigned.count()
      all.unpersist()
      (assigned,
        spark.createDataFrame(centerRows.toSeq).toDF("cell", "center", "super"))
    }
  }

  /** Per-label centroid components as exact integers: each float
    * component is floored to micro-units (IEEE double ×1e6 + floor —
    * bit-identical across engines, unlike a float mean), then summed
    * per (label, dim) with the count alongside, so any consumer can
    * form the mean at full precision. Plan shape: the ×64 posexplode
    * is immediately partial-aggregated map-side — only
    * |labels × dims| rows cross the shuffle, never the exploded
    * corpus. This is the cluster-statistics pass an IVF index
    * maintenance job runs at 100 TB.
    */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        floor(col("col").cast("double") * lit(1000000.0))
          .cast("long").as("mu"))
      .groupBy("label", "dim")
      .agg(sum("mu").as("sum_mu"), count(lit(1)).as("n"))
      .orderBy("label", "dim")

  /** Embedding outlier flags — the index-hygiene pass a vector-store
    * build runs before IVF training: vectors far from their label
    * centroid (corrupt encodes, mislabeled rows) are flagged so the
    * quantiser never trains on them. A vector is an outlier when its
    * squared centroid distance exceeds 4× the label's mean squared
    * distance (≈ 2× the RMS radius).
    *
    * Exactness discipline: components quantise to milli-units
    * (floor(x·1000) — bit-identical across engines), the centroid
    * uses TRUNCATING integer division (Spark `div` == DuckDB `//`,
    * both toward zero — verified on negatives), and the threshold is
    * the division-free integer comparison `d2·n > 4·Σd2`, so the
    * operator is oracle-exact despite the float inputs. Magnitudes:
    * |xm| ≤ ~1e3 ⇒ d2 ≤ 64·(2e3)² ≈ 2.6e8 ⇒ d2·n safe in int64 to
    * ~1e10 vectors (ANSI would raise, not wrap, beyond).
    *
    * Plan shape: per-(label, dim) sums ride the [[embeddingCentroids]]
    * posexplode + map-side partial agg (|labels × dims| rows cross the
    * shuffle); the centroid ARRAYS broadcast back and the per-vector
    * distance is a zip_with loop — the corpus is scanned twice, never
    * exploded through a shuffle.
    */
  def embeddingOutliers(spark: SparkSession, dir: String,
                        scale: Long = 1000L): DataFrame =
    embeddingOutliersOf(Tables.embeddings(spark, dir), scale)

  /** [[embeddingOutliers]] over any (vec_id, embedding, label) frame. */
  private[graft] def embeddingOutliersOf(emb: DataFrame,
                                         scale: Long = 1000L): DataFrame = {
    val xm = emb
      .select(col("vec_id"), col("label"),
        expr(s"transform(embedding, e -> " +
          s"CAST(floor(CAST(e AS DOUBLE) * $scale) AS BIGINT))").as("xm"))
    val cents = xm
      .select(col("label"), posexplode(col("xm")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("cm", expr("sv div cnt"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cm))), " +
        "s -> s.cm)").as("cm_arr"))
    val d2 = xm.join(broadcast(cents), Seq("label"))
      .select(col("vec_id"), col("label"),
        expr("aggregate(zip_with(xm, cm_arr, (x, c) -> (x - c) * (x - c)), " +
          "CAST(0 AS BIGINT), (a, y) -> a + y)").as("d2"))
    val radius = d2.groupBy("label")
      .agg(sum("d2").as("sd2"), count(lit(1)).as("n"))
    d2.join(broadcast(radius), Seq("label"))
      .select(col("vec_id"), col("label"), col("d2"),
        when(col("d2") * col("n") > lit(4L) * col("sd2"), 1L)
          .otherwise(0L).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Scalar (int8) quantization export of the embedding corpus — the
    * compression pass a vector store runs before shipping an index:
    * each dimension is affinely mapped onto 0..255 against the
    * corpus-wide per-dimension [min, max] range (per-dim ranges, not
    * a global one: dimensions with narrow dynamic range would
    * otherwise collapse to a handful of codes). Emitted exploded as
    * (vec_id, dim, code) plus the per-dim range in micro-units, so a
    * consumer can reconstruct `x ≈ mn + code·(mx−mn)/255`.
    *
    * Exactness discipline: values quantise to micro-units
    * (floor(x·1e6), bit-identical across engines), and the code is
    * the division-free integer expression
    * `((v − mn)·255) div (mx − mn)` — truncating int64 division on
    * both engines, no float rounding anywhere past the first floor.
    *
    * Plan shape: the per-dim range is a posexplode + map-side partial
    * min/max (shuffle carries |dims| keys), broadcast back as one
    * dims-length array; the encode itself is a pure per-split
    * transform loop — two linear scans, nothing corpus-sized is
    * shuffled at any scale.
    */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val xm = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, e -> " +
          "CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT))").as("xm"))
    val ranges = xm
      .select(posexplode(col("xm")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min("v").as("mn"), max("v").as("mx"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(dim, mn, mx))), " +
        "s -> struct(s.mn, s.mx))").as("rng"))
    xm.join(broadcast(ranges))
      .select(col("vec_id"), posexplode(col("xm")).as(Seq("dim", "v")),
        col("rng"))
      .select(col("vec_id"), col("dim").cast("integer").as("dim"),
        col("v"),
        element_at(col("rng"), col("dim") + 1).getField("mn").as("mn"),
        element_at(col("rng"), col("dim") + 1).getField("mx").as("mx"))
      .select(col("vec_id"), col("dim"),
        when(col("mx") > col("mn"),
          expr("(v - mn) * 255 div (mx - mn)")).otherwise(0L).as("code"),
        col("mn"), col("mx"))
      .orderBy("vec_id", "dim")
  }

  /** IVF-PQ approximate top-k — the memory-scale path IVF alone
    * doesn't give: at 100 TB the raw vectors (256 B each at dim 64
    * float32) don't fit hot storage, so the scan runs on PRODUCT-
    * QUANTIZED codes (`m`=8 sub-vectors × 4-bit codebooks = 8 bytes
    * per vector, a 32× compression) and only the re-rank touches raw
    * vectors.
    *
    * Pipeline (the standard IVFADC layout):
    *  1. coarse cells from the shared [[ivfAssign]] quantiser;
    *  2. per-subspace codebooks: `m` seeded KMeans fits (`ksub`
    *     centroids over `dim/m` dims) on the SAME bounded hash sample
    *     discipline as the coarse quantiser — training never scans
    *     the corpus;
    *  3. encoding: one map pass, each normalized sub-vector to its
    *     nearest centroid id (codebooks are plan literals — no join,
    *     no UDF, stays in codegen);
    *  4. query time: per query one `m × ksub` LUT of sub-dot-products
    *     (asymmetric distance computation), broadcast with the probe
    *     list; every vector in a probed cell is scored by `m` array
    *     lookups — never a full-width dot product;
    *  5. the ADC scan carries ONLY (q_id, n_id, codes): the raw
    *     vector (64 doubles ≈ 512 B vs the 8-byte code row) never
    *     rides the per-query ranking shuffle — that width reduction
    *     IS the operator's premise. The top `rerank` winners per
    *     query (a few hundred rows) then join BACK to the vector
    *     table by `n_id` for the EXACT cosine; top-k of that is the
    *     answer.
    *
    * *Rows-only* (KMeans codebooks are engine-specific); recall@10 vs
    * [[bruteTopK]] is gated in AnnSpec.
    */
  def ivfPqTopK(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 10,
                cells: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 40,
                literalBudget: Int = MaxPlanLiteralDoubles): DataFrame = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    val codebooks = pqCodebooksFor(spark, dir, cells, m, ksub)
    val encoded = ivfPqEncodeOf(normalized(assigned), codebooks, m,
      literalBudget = literalBudget)
    ivfPqProbePlan(encoded, centersDf,
      assigned.select(col("vec_id"), col("v")), codebooks,
      nQueries, k, nprobe, m, ksub, rerank, literalBudget)
  }

  /** Persist the IVFADC (q_id, n_id) frontier — the search's one
    * engine-specific product (PQ codebooks shape the approx scores
    * that pick it) — at the `ann_ivf_pq` gate path, once per session.
    * Given the frontier, the exact re-rank is pure portable algebra
    * (exact cosine, rank by cos desc / n_id), which the DuckDB oracle
    * re-derives from the corpus parquet.
    */
  private def ivfPqGateWrite(spark: SparkSession, dir: String,
                             nQueries: Int, cells: Int, nprobe: Int,
                             m: Int, ksub: Int, rerank: Int): Unit = {
    Gate.once(spark, "ann_ivf_pq", dir) { g =>
      val (assigned, centersDf) = ivfAssign(spark, dir, cells)
      val codebooks = pqCodebooksFor(spark, dir, cells, m, ksub)
      val encoded = ivfPqEncodeOf(normalized(assigned), codebooks, m)
      ivfPqFrontier(encoded, centersDf,
          assigned.select(col("vec_id"), col("v")), codebooks,
          nQueries, nprobe, m, ksub, rerank)
        .coalesce(1).write.mode("overwrite").parquet(s"$g/frontier")
    }
    ()
  }

  /** [[ivfPqTopK]] + the `ann_ivf_pq` gate artifact. */
  def ivfPqTopKGate(spark: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10,
                    cells: Int = 16, nprobe: Int = 4,
                    m: Int = 8, ksub: Int = 16, rerank: Int = 40): DataFrame = {
    ivfPqGateWrite(spark, dir, nQueries, cells, nprobe, m, ksub, rerank)
    ivfPqTopK(spark, dir, nQueries, k, cells, nprobe, m, ksub, rerank)
  }

  /** [[ivfPqTopKIndexed]] + the shared `ann_ivf_pq` gate artifact
    * (output identical to the in-memory form — same centers, same
    * codebooks, same codes, PipelineSpec-asserted — so the indexed
    * gate row shares ann_ivf_pq's oracle).
    */
  def ivfPqTopKIndexedGate(spark: SparkSession, dir: String,
                           nQueries: Int = 5, k: Int = 10,
                           cells: Int = 16, nprobe: Int = 4,
                           m: Int = 8, ksub: Int = 16, rerank: Int = 40): DataFrame = {
    ivfPqGateWrite(spark, dir, nQueries, cells, nprobe, m, ksub, rerank)
    ivfPqTopKIndexed(spark, dir, nQueries, k, cells, nprobe, m, ksub, rerank)
  }

  /** Plan-literal budget, in doubles: lookup grids at or under this
    * size ride the plan as `typedLit` arrays (zero-join, codegen'd
    * `element_at`); past it they switch to a one-row BROADCAST
    * relation cross-joined into the scan — the array then ships once
    * per executor as a broadcast block instead of being serialized
    * into every task's plan and chewed by Janino. The shipped
    * defaults (m=8, ksub=16 → SDC grid 2 k doubles) stay literal;
    * production-grade codebooks (m=64, ksub=256 → 4.2 M doubles ≈
    * 32 MB) cross the bound and degrade gracefully instead of
    * regressing plan compile time. Result equality across both paths
    * is spec-pinned at a forced zero budget.
    */
  val MaxPlanLiteralDoubles: Int = 1 << 16

  /** The per-subspace codebooks (m × ksub × sub doubles) as a plan
    * column ([[Candidates.attach]]).
    */
  private def attachBooks(df: DataFrame, codebooks: Array[Array[Array[Double]]],
                          budget: Int): (DataFrame, Column) =
    Candidates.attach(df, codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      codebooks.map(_.map(_.length).sum).sum, "pq_books", budget)

  /** Unit-normalize once: cosine == dot on normalized vectors, which
    * is what the PQ codebooks and LUTs quantize.
    */
  private def normalized(vecs: DataFrame): DataFrame =
    vecs.withColumn("nrm",
        expr("sqrt(greatest(aggregate(v, 0D, (a, y) -> a + y * y), 1e-12))"))
      .withColumn("vn", expr("transform(v, x -> x / nrm)"))
      .drop("nrm")

  /** codebooks(s)(c) = centroid c of subspace s — driver-side plan
    * literals (m × ksub × sub doubles ≈ 1 KB), memoized like the
    * coarse quantiser: the index is TRAINED once and QUERIED many
    * times (retraining per query would dominate every search).
    * Training runs on the bounded hash sample (same discipline as
    * [[ivfAssign]]: training never scans the corpus).
    */
  private def pqCodebooksFor(spark: SparkSession, dir: String, cells: Int,
                             m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = 64
    require(dim % m == 0, "m must divide the embedding dimension")
    val sub = dim / m
    graft.Memo(spark, "pq-codebooks", (dir, cells, m, ksub)) {
        val normed = normalized(ivfAssign(spark, dir, cells)._1)
        val n = normed.count()
        val train0 =
          if (n <= MaxTrainVectors) normed
          else normed.filter(
            pmod(xxhash64(col("vec_id")), lit(1000000L)) * n
              < lit(1000000L) * MaxTrainVectors)
        // same fixed-layout discipline as trainAssignOf: the
        // sub-quantiser fits must be a function of the data, not of
        // the upstream frame's partition layout
        val train = train0
          .repartition(8, col("vec_id")).sortWithinPartitions("vec_id")
          .select(
          (0 until m).map(s =>
            array_to_vector(expr(s"slice(vn, ${s * sub + 1}, $sub)")).as(s"s$s")): _*)
          .cache()
        // the m sub-quantiser fits are INDEPENDENT (separate columns
        // of the same cached frame, separate seeds) and each is a
        // chain of small driver-coordinated jobs — overlapping them
        // from a bounded pool (guide §2.6) back-fills the per-
        // iteration driver round-trips; per-fit seeds and data are
        // unchanged, so the coefficients are bit-identical to the
        // serial loop
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(4, m))
        val books =
          try (0 until m).map { s =>
            pool.submit(new java.util.concurrent.Callable[Array[Array[Double]]] {
              override def call(): Array[Array[Double]] =
                new KMeans().setK(ksub).setSeed(42L + s).setMaxIter(10)
                  .setFeaturesCol(s"s$s").setPredictionCol("c")
                  .fit(train).clusterCenters.map(_.toArray)
            })
          }.map(_.get()).toArray
          finally pool.shutdown()
        train.unpersist()
        books
      }
  }

  /** Encode: codes[s] = argmin_c ||vn_sub - centroid||² as a pure
    * expression over literal centroids (ties break to the lower id,
    * matching the LUT's element_at semantics).
    *
    * The codebooks enter the plan as ONE nested array literal and
    * all distances/dot-products are higher-order-function loops over
    * it. The earlier form unrolled every centroid polynomial into
    * the projection (ksub × sub literal terms per subspace, ~2k ops)
    * — Janino then died with "Code grows beyond 64 KB" and, worse,
    * the failed compile was retried on EVERY execution before the
    * interpreted fallback ran, costing ~5 s per pass on a 2k-row
    * corpus. Loop-shaped expressions keep the generated method a few
    * hundred bytes regardless of m/ksub/sub, so the same code scales
    * to production codebook sizes (m=64, ksub=256) where unrolling
    * could never compile.
    *
    * Returns the codes-only scan relation (vec_id, cell, code0..):
    * no vector column may enter the ADC stage (asserted in
    * PipelineSpec) — at 100 TB this schema is the difference between
    * scanning 8 B/vector and 512 B/vector.
    */
  private def ivfPqEncodeOf(normed: DataFrame,
                            codebooks: Array[Array[Array[Double]]],
                            m: Int,
                            cellCol: Column = col("cell"),
                            literalBudget: Int = MaxPlanLiteralDoubles): DataFrame = {
    val sub = 64 / m
    val (frame, books) = attachBooks(normed, codebooks, literalBudget)
    def subSlice(vec: Column, s: Int): Column =
      slice(vec, s * sub + 1, sub)
    // dists(s) = per-centroid squared L2 of subspace s
    def subDists(vec: Column, s: Int): Column =
      transform(element_at(books, lit(s + 1)), c =>
        aggregate(zip_with(subSlice(vec, s), c, (x, w) => (x - w) * (x - w)),
          lit(0.0), (a, y) => a + y))
    val codeCols = (0 until m).map { s =>
      val d = subDists(col("vn"), s)
      // argmin with ties to the lower id (array_position = first hit),
      // matching the LUT's element_at semantics
      (array_position(d, array_min(d)) - 1).cast("int").as(s"code$s")
    }
    frame.select((Seq(col("vec_id"), cellCol.as("cell")) ++ codeCols): _*)
  }

  /** The IVFADC search plan over any (codes, centers, vectors,
    * codebooks) — shared by the in-memory [[ivfPqTopK]] and the
    * persisted-index [[ivfPqTopKIndexed]], so the two are the same
    * plan over different leaves (result identity asserted in
    * PipelineSpec):
    *  - per query one `m × ksub` LUT of sub-dot-products (asymmetric
    *    distance computation), broadcast with the probe list; every
    *    vector in a probed cell is scored by `m` array lookups —
    *    never a full-width dot product;
    *  - the ADC scan carries ONLY (q_id, n_id, codes): the raw
    *    vector (64 doubles ≈ 512 B vs the 8-byte code row) never
    *    rides the per-query ranking shuffle — that width reduction
    *    IS the operator's premise. The top `rerank` winners per
    *    query (a few hundred rows) then join BACK to the vector
    *    table by `n_id` for the EXACT cosine; top-k of that is the
    *    answer.
    */
  private def ivfPqProbePlan(encoded: DataFrame, centersDf: DataFrame,
                             vecs: DataFrame,
                             codebooks: Array[Array[Array[Double]]],
                             nQueries: Int, k: Int, nprobe: Int,
                             m: Int, ksub: Int, rerank: Int,
                             literalBudget: Int = MaxPlanLiteralDoubles): DataFrame =
    pqExactRerank(vecs,
      ivfPqFrontier(encoded, centersDf, vecs, codebooks, nQueries, nprobe,
        m, ksub, rerank, literalBudget),
      nQueries, k)

  /** The IVFADC candidate stage — everything up to (and including)
    * the ADC top-`rerank` cut, emitting the (q_id, n_id) frontier the
    * exact re-rank then scores. Split out so the gate path can
    * PERSIST the frontier (the operator's one engine-specific
    * product: PQ codebooks shape the approx scores) and re-rank from
    * the read-back — which is exactly what the DuckDB oracle does.
    */
  private def ivfPqFrontier(encoded: DataFrame, centersDf: DataFrame,
                            vecs: DataFrame,
                            codebooks: Array[Array[Array[Double]]],
                            nQueries: Int, nprobe: Int,
                            m: Int, ksub: Int, rerank: Int,
                            literalBudget: Int = MaxPlanLiteralDoubles): DataFrame = {
    val sub = 64 / m
    // queries: normalized view of the tiny query slice + flat ADC LUT
    // against every centroid — lut[s*ksub + c] = <qn_sub, centroid(s)(c)>
    val queries = normalized(vecs.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("vn").as("qn"))
    val (qFrame, books) = attachBooks(queries, codebooks, literalBudget)
    val withLut = qFrame.withColumn("lut",
      flatten(transform(sequence(lit(0), lit(m - 1)), s =>
        transform(element_at(books, s + 1), c =>
          aggregate(
            zip_with(slice(col("qn"), s * lit(sub) + 1, lit(sub)), c,
              (x, w) => x * w),
            lit(0.0), (a, y) => a + y)))))
    val probes = probeCells(withLut, centersDf, nprobe)
      .select("q_id", "lut", "cell")
    // ADC scan over probed cells (m array lookups per vector) on
    // codes only, top `rerank` by approx score — nothing wider than
    // (q_id, n_id, approx) crosses the ranking shuffle
    val adc = (0 until m)
      .map(s => s"element_at(lut, $s * $ksub + code$s + 1)").mkString(" + ")
    Candidates.topK(encoded.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), expr(adc).as("approx")),
        "approx", "n_id", rerank)
      .select("q_id", "n_id")
  }

  /** The exact re-rank stage of the IVFADC search: ONLY the
    * ~nQueries × rerank frontier pairs rehydrate raw vectors — the
    * tiny winner set broadcasts into the vector relation, query
    * vectors broadcast alongside. Shared by [[ivfPqProbePlan]] and
    * the gate path (re-rank over the PERSISTED frontier), so the
    * persisted (q_id, n_id) relation is by construction the candidate
    * set the answer was ranked from.
    */
  private def pqExactRerank(vecs: DataFrame, winners: DataFrame,
                            nQueries: Int, k: Int): DataFrame = {
    Candidates.ranked(vecs.select(col("vec_id").as("n_id"), col("v"))
      .join(broadcast(winners), Seq("n_id"))
      .join(broadcast(queriesOf(vecs, nQueries)), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine_sim(col("qv"), col("v")).as("cos")), k)
  }

  /** IVF-style approximate top-k: an MLlib KMeans coarse quantiser
    * partitions the corpus into `cells`; each query probes its
    * `nprobe` nearest cells and runs exact cosine only there — the
    * classic inverted-file ANN layout. At 100 TB the quantiser trains
    * on a sample, assignment is one map pass, and the probe join
    * shuffles on cell id (each cell ≈ N/cells rows, the nprobe/cells
    * fraction of the corpus is all a query touches).
    *
    * KMeans is seeded → deterministic for a fixed input partitioning;
    * still *rows-only* (cluster boundaries are engine-specific), with
    * recall vs [[bruteTopK]] gated in AnnSpec.
    */
  def ivfTopK(spark: SparkSession, dir: String,
              nQueries: Int = 5, k: Int = 10,
              cells: Int = 16, nprobe: Int = 4): DataFrame = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    ivfProbePlan(assigned, centersDf, nQueries, k, nprobe)
  }

  /** Each query row's `nprobe` nearest cells by center cosine (ties
    * to the lower cell id), the query's columns kept — the probe
    * ranking of both IVF searches.
    */
  private def probeCells(queries: DataFrame, centersDf: DataFrame,
                         nprobe: Int): DataFrame =
    Candidates.topK(queries.crossJoin(broadcast(centersDf))
      .withColumn("ccos", cosine_sim(col("qv"), col("center"))),
      "ccos", "cell", nprobe)

  /** The per-query probe list (q_id, qv, cell) — shared by
    * [[ivfProbePlan]] and the gate-artifact writers, so the persisted
    * (q_id, cell) relation is BY CONSTRUCTION the probe set the
    * search ran with.
    */
  private def probesOf(assigned: DataFrame, centersDf: DataFrame,
                       nQueries: Int, nprobe: Int): DataFrame =
    probeCells(queriesOf(assigned, nQueries), centersDf, nprobe)
      .select("q_id", "qv", "cell")

  /** Persist an IVF search's engine-specific structure — the
    * (vec_id, cell) assignments and the per-query (q_id, cell) probe
    * list — at the fixed gate path `op`: the KMeans cells stay
    * engine-specific, but given these two relations the DuckDB oracle
    * re-derives the ENTIRE search (exact cosine over probed cells,
    * rank by cos desc / n_id) from the corpus parquet, flipping the
    * gate from rows-only to hash-exact.
    */
  private def ivfGateWrite(spark: SparkSession, op: String, dir: String,
                           assigned: DataFrame, centersDf: DataFrame,
                           nQueries: Int, nprobe: Int): Unit = {
    Gate.once(spark, op, dir) { g =>
      assigned.select("vec_id", "cell")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/assigned")
      probesOf(assigned, centersDf, nQueries, nprobe).select("q_id", "cell")
        .coalesce(1).write.mode("overwrite").parquet(s"$g/probes")
    }
    ()
  }

  /** [[ivfTopK]] + the `ann_ivf` gate artifact (assignments + probe
    * lists persisted once per session; same memoized quantiser, so
    * the search output is exactly what the oracle re-derives).
    */
  def ivfTopKGate(spark: SparkSession, dir: String,
                  nQueries: Int = 5, k: Int = 10,
                  cells: Int = 16, nprobe: Int = 4): DataFrame = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    ivfGateWrite(spark, "ann_ivf", dir, assigned, centersDf, nQueries, nprobe)
    ivfProbePlan(assigned, centersDf, nQueries, k, nprobe)
  }

  /** [[ivfTopKIndexed]] + the shared `ann_ivf` gate artifact (output
    * is identical to [[ivfTopK]] — same centers, same probe order,
    * AnnSpec-asserted — so the indexed gate row shares ann_ivf's
    * oracle).
    */
  def ivfTopKIndexedGate(spark: SparkSession, dir: String,
                         nQueries: Int = 5, k: Int = 10,
                         cells: Int = 16, nprobe: Int = 4): DataFrame = {
    annIvfGateArtifact(spark, dir, nQueries, cells, nprobe)
    ivfTopKIndexed(spark, dir, nQueries, k, cells, nprobe)
  }

  /** Write the shared `ann_ivf` gate artifact without running the
    * search — for gate rows (`ann_ivf_indexed`, `ann_stream`) whose
    * output is row-identical to `ann_ivf` (spec-asserted) and which
    * therefore share its oracle.
    */
  private[graft] def annIvfGateArtifact(spark: SparkSession, dir: String,
                                        nQueries: Int = 5, cells: Int = 16,
                                        nprobe: Int = 4): Unit = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    ivfGateWrite(spark, "ann_ivf", dir, assigned, centersDf, nQueries, nprobe)
  }

  /** The IVF search plan over any (assignments, centers) pair — shared
    * by the in-memory [[ivfTopK]] and the persisted-index
    * [[ivfTopKIndexed]], so the two are the same plan over different
    * leaves (and the spec can assert result identity).
    */
  private def ivfProbePlan(assigned: DataFrame, centersDf: DataFrame,
                           nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val probes = probesOf(assigned, centersDf, nQueries, nprobe)
    Candidates.ranked(assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine_sim(col("qv"), col("v")).as("cos")), k)
  }

  /** Full-corpus kNN JOIN: the top-`k` cosine neighbours of EVERY
    * vector (not just a query set) — the kNN-graph builder behind
    * SemDeDup-style semantic curation, cluster-quality audits and
    * graph-based label propagation. Exact all-pairs is N² by
    * definition, so candidates come from symmetric multi-probe IVF
    * blocking: each vector enters its `nprobe` nearest cells (ranked
    * in codegen over the literal centers — no model state, no
    * vector-carrying rank shuffle), and only same-cell pairs are
    * scored. A true neighbour is missed only if the two vectors share
    * none of their probe cells (recall gated in PipelineSpec).
    *
    * Plan shape — IVF blocking, PQ candidate scoring, exact re-rank:
    * the cell shuffle carries (vec_id, cell, 8 PQ codes) — never the
    * raw vector (≈64× narrower; at 100 TB the candidate shuffle width
    * IS the operator's cost), candidate pairs are scored by m
    * symmetric-distance table lookups (SDC: the literal centroid ×
    * centroid dot grid — the join analogue of ivfPqProbePlan's
    * per-query ADC LUT), and only the top-`rerank` frontier per query
    * rehydrates raw vectors for the exact cosine that ranks the final
    * top-k. Pair work stays bounded by cell occupancy × nprobe²: the
    * cell count GROWS with the corpus (`max(cellsMin, N/256)` —
    * constant ~256 target occupancy; a fixed cell count would quietly
    * go quadratic the moment the corpus outgrew it), with N read from
    * parquet footers (metadata — no count() job), and KMeans training
    * stays bounded on the capped deterministic sample. With `rerank` ≥
    * a query's candidate count the result is value-identical to exact
    * cosine over all candidates ([[knnJoinExactCand]], spec-asserted).
    * *Rows-only* (KMeans cells are engine-specific).
    *
    * CANDIDATE REPRESENTATION IS SELECTED BY CORPUS SIZE (from the
    * same footer-derived count that sizes the cells): below
    * `pqThreshold` vectors the exact-candidates form wins — its one
    * cell shuffle beats PQ's extra frontier + re-rank stages while
    * everything fits comfortably — and above it the PQ form's ~64×
    * narrower shuffle takes over. Measured crossover trend on one
    * 32-core node (KnnCrossover, min-of-two warm): PQ/exact =
    * 2.1–3.0 at 0.5 M vectors (run-condition spread), 1.58 at 5 M —
    * the gap closes with scale,
    * extrapolating to parity around ~10⁸ vectors locally; a real
    * cluster pays network for every shuffle byte, so the default
    * threshold sits at 50 M. Both forms share the IVF blocking and
    * the recall gate; PipelineSpec pins each form explicitly and
    * asserts their value identity at full frontier.
    */
  def knnJoin(spark: SparkSession, dir: String,
              k: Int = 5, cellsMin: Int = 16, nprobe: Int = 2,
              m: Int = 8, ksub: Int = 16, rerank: Int = 128,
              literalBudget: Int = MaxPlanLiteralDoubles,
              pqThreshold: Long = KnnPqThresholdVectors): DataFrame = {
    val (n, cells) = knnSized(spark, dir, cellsMin)
    if (n < pqThreshold) knnExactFromProbed(probedCorpus(spark, dir, cells, nprobe), k)
    else knnPqPlan(spark, dir, k, cells, nprobe, m, ksub, rerank, literalBudget)
  }

  /** The corpus size, read ONCE per kNN call from parquet FOOTERS
    * (metadata, no count() job — in production this scalar comes off
    * the table manifest), and the cell count it implies:
    * `max(cellsMin, n/256)`, a constant ~256 target occupancy.
    */
  private def knnSized(spark: SparkSession, dir: String,
                       cellsMin: Int): (Long, Int) = {
    val n = graft.sources.StorageStats.parquetRowCount(
      spark, s"$dir/embeddings.parquet")
    (n, math.max(cellsMin, (n / 256L).toInt))
  }

  /** Corpus size (vectors) above which [[knnJoin]] switches from
    * exact-candidates to PQ codes on the candidate shuffle.
    */
  val KnnPqThresholdVectors: Long = 50L * 1000 * 1000

  /** The PQ-codes candidate scorer — [[knnJoin]]'s large-corpus arm
    * (see the selection note there).
    */
  private[graft] def knnJoinPq(spark: SparkSession, dir: String,
                               k: Int = 5, cellsMin: Int = 16,
                               nprobe: Int = 2, m: Int = 8, ksub: Int = 16,
                               rerank: Int = 128,
                               literalBudget: Int = MaxPlanLiteralDoubles): DataFrame =
    knnPqPlan(spark, dir, k, knnSized(spark, dir, cellsMin)._2, nprobe, m,
      ksub, rerank, literalBudget)

  private def knnPqPlan(spark: SparkSession, dir: String, k: Int, cells: Int,
                        nprobe: Int, m: Int, ksub: Int, rerank: Int,
                        literalBudget: Int): DataFrame = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    val codebooks = pqCodebooksFor(spark, dir, cells, m, ksub)
    val router = routerFromCenters(centersDf)
    // candidate relation: (vec_id, probe cell, 8 PQ codes) — the raw
    // vector NEVER enters the pair join; each row is ~8 B of codes vs
    // 512 B of doubles, so the cell shuffle (the operator's dominant
    // movement) is ~64× narrower than the exact-candidates form.
    // Probing routes two-level (supers first) — O(√cells) per vector.
    val (rframe, rcol) = attachRouter(normalized(assigned.drop("cell")),
      router, literalBudget)
    val probed = ivfPqEncodeOf(rframe, codebooks, m,
      explode(routeProbeExpr(rcol, router, nprobe)), literalBudget)
    // symmetric distance tables (SDC): per subspace the centroid ×
    // centroid dot-product grid — m·ksub² doubles, a flat plan
    // literal while under the budget and a one-row broadcast relation
    // past it (32 MB at production m=64/ksub=256 must not ride every
    // task's serialized plan); a candidate pair is scored by m array
    // lookups, never a full-width dot product (the join analogue of
    // ivfPqProbePlan's per-query ADC LUT, which would cost a 1 KB LUT
    // column per ROW when every vector is a query)
    val sdcGrid = (for {
      s <- 0 until m; a <- 0 until ksub; b <- 0 until ksub
    } yield codebooks(s)(a).zip(codebooks(s)(b)).map { case (x, y) => x * y }.sum).toSeq
    val joined = probed.as("a")
      .join(probed.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
    val (scored, sdc) =
      Candidates.attach(joined, sdcGrid, sdcGrid.size, "sdc_grid", literalBudget)
    val approx = (0 until m).map { s =>
      element_at(sdc,
        (lit(s * ksub * ksub) + col(s"a.code$s") * lit(ksub) +
          col(s"b.code$s") + lit(1)).cast("int"))
    }.reduce(_ + _)
    val cand = scored
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        approx.as("approx"))
      // a pair sharing several probe cells appears once per cell;
      // approx is pair-deterministic, so max() is just the dedup
      .groupBy("q_id", "n_id").agg(max("approx").as("approx"))
    // top `rerank` frontier per query by approximate score — only
    // these rehydrate raw vectors for the exact cosine, so the
    // full-width rows number N·rerank instead of N·candidates
    val frontier = Candidates.topK(cand, "approx", "n_id", rerank)
      .select("q_id", "n_id")
    val vecs = assigned.select(col("vec_id"), col("v"))
    Candidates.ranked(frontier
      .join(vecs.select(col("vec_id").as("n_id"), col("v").as("nv")), Seq("n_id"))
      .join(vecs.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosine_sim(col("qv"), col("nv")).as("cos")), k)
  }

  /** The exact-candidates scorer (exact cosine over EVERY same-cell
    * pair, full vectors riding the cell shuffle) — [[knnJoin]]'s
    * small-corpus arm (measured faster below the selection threshold;
    * see the selection note there) and the equality reference for the
    * PQ arm: with a frontier wide enough to hold a query's whole
    * candidate set the two are value-identical by construction, and
    * PipelineSpec asserts exactly that.
    */
  private[graft] def knnJoinExactCand(spark: SparkSession, dir: String,
                                      k: Int = 5, cellsMin: Int = 16,
                                      nprobe: Int = 2): DataFrame =
    knnExactFromProbed(
      probedCorpus(spark, dir, knnSized(spark, dir, cellsMin)._2, nprobe), k)

  /** [[knnJoin]] + the `knn_join` gate artifact. Only the
    * exact-candidates arm persists (every gate/bench scale selects it
    * — the PQ arm starts at [[KnnPqThresholdVectors]] vectors, where
    * no oracle runs); the footer-derived arm selection is unchanged.
    * The persisted (vec_id, cell) projection of the symmetric
    * multi-probe relation lets the oracle re-derive candidates
    * (same-cell pairs), exact cosine and the final per-query ranking.
    */
  def knnJoinGate(spark: SparkSession, dir: String,
                  k: Int = 5, cellsMin: Int = 16, nprobe: Int = 2,
                  pqThreshold: Long = KnnPqThresholdVectors): DataFrame = {
    val (n, cells) = knnSized(spark, dir, cellsMin)
    if (n < pqThreshold) {
      val probed = probedCorpus(spark, dir, cells, nprobe)
      Gate.once(spark, "knn_join", dir)(g =>
        probed.select("vec_id", "cell")
          .coalesce(1).write.mode("overwrite").parquet(s"$g/probed"))
      knnExactFromProbed(probed, k)
    } else knnPqPlan(spark, dir, k, cells, nprobe, m = 8, ksub = 16,
      rerank = 128, literalBudget = MaxPlanLiteralDoubles)
  }

  private def knnExactFromProbed(probed: DataFrame, k: Int): DataFrame =
    Candidates.ranked(probed.as("a")
      .join(probed.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        cosine_sim(col("a.v"), col("b.v")).as("cos"))
      .groupBy("q_id", "n_id").agg(max("cos").as("cos")), k)

  /** Persist the shared IVF quantiser as a parquet index:
    * `assigned/` = (vec_id, v, cell) partitioned BY CELL — so a probe
    * of `nprobe` cells is a partition-pruned read touching only those
    * directories, the file-layout analogue of an inverted list —
    * `centers/` = the (cell, center, super) model, and `probed/` =
    * the dedup-grade inverted list: each vector listed under its
    * [[IndexNprobe]] nearest cells (multi-probe INDEXING, the
    * storage-for-recall trade IVF dedup needs at low thresholds — a
    * probe misses a vector only if the probe cells and all its index
    * cells are disjoint). Same persist-at-layout-time discipline as
    * [[Dedup.bandIndexWriteOf]]: at 100 TB the corpus is assigned
    * once, and every later search / incremental-dedup job probes the
    * artifact without re-training or re-assigning anything.
    *
    * An index root is a [[Snapshot]]-versioned set of immutable
    * SEGMENTS, `s<version>_<token>/{assigned/cell=*, probed/cell=*,
    * centers}`: build and [[ivfIndexRebuild]] commit one whole
    * segment as the next version, [[ivfIndexAppend]] commits the base
    * version's files plus an `assigned/` + `probed/` segment. Each
    * version root declares the three relations' schemas, one struct
    * field per relation, and [[ivfIndexRead]] is the one reader. Every
    * write is one [[Snapshot.transact]] commit, so a reader sees all of
    * one version, never a mix.
    */
  def ivfIndexWrite(spark: SparkSession, dir: String, outDir: String,
                    cells: Int = 16): Unit = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    Snapshot.transact(spark, outDir, bootstrap = true) { p =>
      val relations = fullSegment(assigned, centersDf)
      (Some(segmentWrite(spark, outDir, p, relations).copy(schema = Some(
        StructType(relations.map { case (name, df) =>
          StructField(name, df.schema.toNullable)
        })))), ())
    }
  }

  /** How many cells each vector is indexed under in the persisted
    * `probed/` inverted list (multi-probe indexing).
    */
  val IndexNprobe = 2

  /** One pinned version of a persisted IVF index. */
  private[graft] final case class IvfIndex(
      pin: Snapshot.Pin, assigned: DataFrame, probed: DataFrame,
      centers: DataFrame)

  /** Pin the current version of index `idx` once and read its three
    * relations: each is the union of its pinned segment directories,
    * one scan per segment (Spark discovers partitions under one root
    * per scan) under the declared schema, so `cell` stays a partition
    * column (a probe prunes cell directories, dynamically when the
    * probe side is a broadcast) and no footer is read at planning.
    * The frames list their files here: they keep reading this
    * version whatever commits later, while vacuum retains it.
    */
  private[graft] def ivfIndexRead(spark: SparkSession, idx: String): IvfIndex =
    ivfIndexAt(spark, idx, Snapshot.pin(spark, idx))

  /** [[ivfIndexRead]] of an already pinned version of `idx`. */
  private def ivfIndexAt(spark: SparkSession, idx: String,
                         p: Snapshot.Pin): IvfIndex = {
    def relation(name: String): DataFrame = {
      val schema = p.schema(name).dataType.asInstanceOf[StructType]
      p.files.map(_.split('/')).filter(_(1) == name).map(_(0)).distinct
        .map(segment => spark.read.schema(schema).parquet(s"$idx/$segment/$name"))
        .reduce(_ unionByName _)
    }
    IvfIndex(p, relation("assigned"), relation("probed"), relation("centers"))
  }

  /** A whole segment of a trained quantiser: its assignments, centers
    * and multi-probe inverted list.
    */
  private def fullSegment(assigned: DataFrame,
                          centersDf: DataFrame): Seq[(String, DataFrame)] =
    Seq("assigned" -> assigned, "centers" -> centersDf,
      "probed" -> probedOf(assigned.drop("cell"), routerFromCenters(centersDf),
        IndexNprobe))

  /** The plan step of every index write: stage `relations` as a
    * hidden segment, place it with one rename, and name `keep` (files
    * of pin `p` that stay live) plus the segment's files as the next
    * version under the pin's declared schema. The transaction around
    * it commits, vacuums and re-runs the whole write from a fresh pin
    * when the commit loses a race.
    */
  private def segmentWrite(spark: SparkSession, idx: String, p: Snapshot.Pin,
                           relations: Seq[(String, DataFrame)],
                           keep: Seq[String] = Nil): Snapshot.Write = {
    val root = new Path(idx)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val segment = s"s${p.version + 1}_${Snapshot.writerToken()}"
    relations.foreach { case (name, df) =>
      val w = df.write.mode("overwrite")
      (if (name == "centers") w else w.partitionBy("cell"))
        .parquet(s"$idx/.$segment/$name")
    }
    val files = Snapshot.place(fs, root, new Path(root, s".$segment"), segment)
    Snapshot.Write(keep ++ files, files)
  }

  /** [[ivfTopK]] against the PERSISTED index (built once per session;
    * the production artifact is written once at corpus layout).
    * Identical output to the in-memory form — same centers, same
    * probe order, same exact-cosine ranking — which AnnSpec asserts.
    */
  def ivfTopKIndexed(spark: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 10,
                     cells: Int = 16, nprobe: Int = 4): DataFrame =
    indexSearch(spark, dir, ivfIndexFor(spark, dir, cells), None,
      nQueries, k, nprobe)

  /** [[ivfProbePlan]] over a persisted index's `assigned/` and
    * `centers/`; with `gateOp`, its assignments and probe lists are
    * first persisted at that gate path ([[ivfGateWrite]]).
    */
  private def indexSearch(spark: SparkSession, dir: String, idx: String,
                          gateOp: Option[String], nQueries: Int, k: Int,
                          nprobe: Int): DataFrame = {
    val index = ivfIndexRead(spark, idx)
    gateOp.foreach(op => ivfGateWrite(spark, op, dir, index.assigned,
      index.centers, nQueries, nprobe))
    ivfProbePlan(index.assigned, index.centers, nQueries, k, nprobe)
  }

  // index-family queries share the persisted indexes below and may
  // warm concurrently: each is a blocking Memo.dir build
  private[graft] def ivfIndexFor(spark: SparkSession, dir: String,
                                 cells: Int): String =
    graft.Memo.dir(spark, "ivfindex", s"$dir:$cells") { idx =>
      ivfIndexWrite(spark, dir, idx, cells)
    }

  /** Nightly IVF index maintenance: append a vector batch to the
    * persisted index WITHOUT retraining and WITHOUT touching any
    * existing file — the batch lands as a new segment, committed on
    * top of the pinned version's files, so everything already
    * committed stays byte-identical (spec-asserted). One router
    * attach routes the batch once: the euclidean cell
    * ([[routeCellExpr]] — the quantiser's own euclidean-argmin rule,
    * two-level when the index is, so an appended vector lands exactly
    * where an index rebuild would put it) and the multi-probe cells
    * the index was built with ([[routeProbeExpr]]) come from one
    * projection that feeds both `assigned/` and `probed/`. Centers
    * drift as the corpus grows is the operator's known debt —
    * production re-trains on a cadence ([[ivfIndexRebuild]]), exactly
    * like any IVF deployment.
    */
  def ivfIndexAppend(spark: SparkSession, idx: String,
                     batch: DataFrame): Unit =
    Snapshot.transact(spark, idx) { p =>
      val base = ivfIndexAt(spark, idx, p)
      val router = routerFromCenters(base.centers)
      val (af, ac) = attachRouter(batch, router)
      // the first relation's write fills the cache, the second reads it
      val routed = af.select(col("vec_id"), col("v"),
        routeCellExpr(ac).as("cell"),
        routeProbeExpr(ac, router, IndexNprobe).as("probes")).cache()
      try (Some(segmentWrite(spark, idx, p, Seq(
          "assigned" -> routed.select("vec_id", "v", "cell"),
          "probed" -> routed.select(col("vec_id"), col("v"),
            explode(col("probes")).as("cell"))), p.files)), ())
      finally routed.unpersist()
    }

  /** The append gate's fixture + search: clone the corpus index (the
    * clone keeps the memoized base index pristine for its other
    * consumers), append a re-ingested-duplicates batch
    * (`vec_id % 11 == 0`, shifted ids, identical vectors — the nightly
    * arrival every dedup-less ingest produces), and search it. The
    * duplicates surface as cos≈1 neighbours of their originals —
    * PipelineSpec asserts the rank-1 hit, assignment identity with the
    * originals' cells, and that append left every pre-existing file
    * untouched.
    */
  def ivfTopKAppended(spark: SparkSession, dir: String,
                      nQueries: Int = 5, k: Int = 10,
                      cells: Int = 16, nprobe: Int = 4): DataFrame =
    indexSearch(spark, dir, appendedIndexFor(spark, dir, cells), None,
      nQueries, k, nprobe)

  /** [[ivfTopKAppended]] + its gate artifact: the APPENDED index's
    * assignments and probe lists persist at the fixed gate path, and
    * the oracle reconstructs the appended vector set itself (the
    * fixture batch is `vec_id % 11 = 0` shifted by 1e6 with identical
    * vectors — derivable from the corpus parquet), then re-derives the
    * search exactly like `ann_ivf`'s gate.
    */
  def ivfTopKAppendedGate(spark: SparkSession, dir: String,
                          nQueries: Int = 5, k: Int = 10,
                          cells: Int = 16, nprobe: Int = 4): DataFrame =
    indexSearch(spark, dir, appendedIndexFor(spark, dir, cells),
      Some("ann_index_append"), nQueries, k, nprobe)

  private[graft] def appendedIndexFor(spark: SparkSession, dir: String,
                                      cells: Int): String = {
    val src = ivfIndexFor(spark, dir, cells)
    graft.Memo.dir(spark, "ivfappend", s"$dir:$cells") { idx =>
      cloneIndex(spark, src, idx)
      val batch = ivfIndexRead(spark, src).assigned
        .filter(pmod(col("vec_id"), lit(11)) === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("v"))
      ivfIndexAppend(spark, idx, batch)
    }
  }

  /** Copy an index root — every segment and every retained version —
    * to `dst` (fixture plumbing: specs and gate fixtures clone so the
    * memoized base index stays pristine for its other consumers).
    * Filesystem-level recursive copy, not a read→write re-encode: a
    * clone's contract is a byte-identical index under a new root, and
    * a re-encode re-shuffles and re-codes every cell directory. A
    * production clone is likewise a file-level copy (or a storage
    * snapshot), never a decode/encode pass.
    */
  private[graft] def cloneIndex(spark: SparkSession, src: String,
                                dst: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dstPath = new Path(dst)
    val fs = dstPath.getFileSystem(conf)
    fs.delete(dstPath, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src), fs, dstPath,
      false /* deleteSource */, conf)
  }

  /** Cadence rebuild of a persisted IVF index — the operator that
    * RETIRES [[ivfIndexAppend]]'s documented centers-drift debt:
    * retrain the coarse quantiser on the pinned version's corpus (the
    * capped deterministic sample, exactly like a fresh build),
    * re-assign every vector, re-derive the multi-probe inverted list,
    * and commit the result as one new segment holding the whole
    * index. Readers pinned before the commit keep the old version,
    * readers after it get the new one; a rebuild killed before its
    * commit leaves the old index current, and its staged segment is
    * an orphan for the next write's vacuum.
    *
    * Scale shape: one training sample, one linear re-assign pass, two
    * partitioned writes — the same cost as the original build, paid
    * on the rebuild cadence. Search parity with a from-scratch build
    * on the same corpus is spec-asserted.
    */
  def ivfIndexRebuild(spark: SparkSession, idx: String,
                      cells: Int = 16): Unit =
    Snapshot.transact(spark, idx) { p =>
      val (assigned, centersDf) = trainAssignOf(
        ivfIndexAt(spark, idx, p).assigned.select("vec_id", "v"), cells)
      try (Some(segmentWrite(spark, idx, p, fullSegment(assigned, centersDf))), ())
      finally assigned.unpersist()
    }

  /** The rebuild gate's lifecycle fixture + search: clone the
    * APPENDED index (build → append — the drifted state every nightly
    * ingest accumulates), rebuild it, and search the result.
    * PipelineSpec asserts parity with a from-scratch build over the
    * same vector set and that every directory left under the index
    * belongs to a retained version.
    */
  def ivfTopKRebuilt(spark: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 10,
                     cells: Int = 16, nprobe: Int = 4): DataFrame =
    indexSearch(spark, dir, rebuiltIndexFor(spark, dir, cells), None,
      nQueries, k, nprobe)

  /** [[ivfTopKRebuilt]] + its gate artifact — same discipline as the
    * append gate: the REBUILT index's (retrained) assignments and
    * probe lists persist, the oracle re-derives the search over the
    * same appended vector set.
    */
  def ivfTopKRebuiltGate(spark: SparkSession, dir: String,
                         nQueries: Int = 5, k: Int = 10,
                         cells: Int = 16, nprobe: Int = 4): DataFrame =
    indexSearch(spark, dir, rebuiltIndexFor(spark, dir, cells),
      Some("ann_index_rebuild"), nQueries, k, nprobe)

  private[graft] def rebuiltIndexFor(spark: SparkSession, dir: String,
                                     cells: Int): String = {
    val src = appendedIndexFor(spark, dir, cells)
    graft.Memo.dir(spark, "ivfrebuild", s"$dir:$cells") { idx =>
      cloneIndex(spark, src, idx)
      ivfIndexRebuild(spark, idx, cells)
    }
  }

  /** Persist the full IVF-PQ index — the artifact a 100 TB vector
    * store actually serves searches from, where [[ivfPqTopK]]'s
    * session-memoized codebooks are only the local stand-in:
    * `codes/` = (vec_id, code0..code{m-1}) partitioned BY CELL (the
    * 8-byte-per-vector scan relation; the directory layout is the
    * inverted list, so an nprobe probe is a partition-pruned read
    * that never touches 512-byte raw rows), `codebooks/` = (s, c, w)
    * centroid rows (m × ksub × dim/m doubles ≈ 8 KB — read and
    * folded back into plan literals at query time), and `centers/` =
    * the coarse quantiser. Raw vectors stay in the corpus table —
    * only the re-rank's ~rerank winners per query ever read them.
    */
  def ivfPqIndexWrite(spark: SparkSession, dir: String, outDir: String,
                      cells: Int = 16, m: Int = 8, ksub: Int = 16): Unit = {
    val (assigned, centersDf) = ivfAssign(spark, dir, cells)
    val codebooks = pqCodebooksFor(spark, dir, cells, m, ksub)
    ivfPqEncodeOf(normalized(assigned), codebooks, m)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outDir/codes")
    val rows = for {
      s <- codebooks.indices
      c <- codebooks(s).indices
    } yield (s, c, codebooks(s)(c).toSeq)
    spark.createDataFrame(rows).toDF("s", "c", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/codebooks")
    centersDf.write.mode("overwrite").parquet(s"$outDir/centers")
  }

  /** [[ivfPqTopK]] against the PERSISTED index (built once per
    * session; the production artifact is written once at corpus
    * layout): codebooks rehydrate from parquet into the same plan
    * literals, the ADC scan reads the cell-partitioned `codes/`
    * relation, and only the re-rank touches the corpus vectors.
    * Identical output to the in-memory form — same centers, same
    * codebooks (doubles round-trip parquet exactly), same integer
    * codes — which PipelineSpec asserts.
    */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String,
                       nQueries: Int = 5, k: Int = 10,
                       cells: Int = 16, nprobe: Int = 4,
                       m: Int = 8, ksub: Int = 16, rerank: Int = 40): DataFrame = {
    val idx = ivfPqIndexFor(spark, dir, cells, m, ksub)
    val codebooks: Array[Array[Array[Double]]] =
      spark.read.parquet(s"$idx/codebooks").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    ivfPqProbePlan(
      spark.read.parquet(s"$idx/codes"),
      spark.read.parquet(s"$idx/centers"),
      vectors(spark, dir), codebooks,
      nQueries, k, nprobe, m, ksub, rerank)
  }

  private[graft] def ivfPqIndexFor(spark: SparkSession, dir: String,
                                   cells: Int, m: Int, ksub: Int): String =
    graft.Memo.dir(spark, "ivfpqindex", s"$dir:$cells:$m:$ksub") { idx =>
      ivfPqIndexWrite(spark, dir, idx, cells, m, ksub)
    }
}
