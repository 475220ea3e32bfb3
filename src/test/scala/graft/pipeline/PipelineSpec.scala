package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("minhash LSH recalls high-Jaccard pairs without all-pairs compute") {
    // ground truth: pairs with Jaccard >= 0.85 from the exact (blocked)
    // ngram operator; minhash banding (4x8 → s-curve ~0.84) must find
    // most of them
    val truth = Dedup.ngramJaccardPairs(spark, sf01, minBp = 8500)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.6, s"minhash recall $recall over ${truth.size} pairs")
  }

  test("lshJaccardPairs equals the block-exact pair set at dedup thresholds") {
    // the production edge source (LSH candidates + exact verify) must
    // reproduce the calibration oracle's EXACT (doc_a, doc_b, jac_bp)
    // relation: precision is exact by construction (every candidate is
    // verified), and at J >= 0.65 the banding miss probability is ~2e-8
    // per pair — a deterministic-hash coin flip that either always
    // passes on this corpus or demands more bands
    for (minBp <- Seq(6500L, 8500L)) {
      val exact = Dedup.ngramJaccardPairs(spark, sf01, minBp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val lsh = Dedup.lshJaccardPairs(spark, sf01, minBp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(exact.nonEmpty)
      assert(lsh == exact,
        s"minBp=$minBp missed=${(exact -- lsh).size} extra=${(lsh -- exact).size}")
    }
  }

  test("autoBucketCap selects the exact arm at gate density and the " +
       "production cluster path yields identical labels at a forced cap") {
    // selection: the band-occupancy probe answers (memoized) and at
    // gate density must keep the exact clique join — the hash gates
    // depend on the registered path staying the exact pair set here
    val cap = Dedup.autoBucketCap(spark, sf01)
    cap.foreach(c => assert(c == Dedup.BucketCapThreshold))
    // the production path (clusterLabelsWithCap is what clusters()
    // routes through) yields the SAME component labels whether the
    // star cap is forced tiny or off — connectivity is what dedup
    // consumes, and the hub preserves it
    val auto = Dedup.clusterLabelsWithCap(spark, sf01, 6500, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val forced = Dedup.clusterLabelsWithCap(spark, sf01, 6500, Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == forced,
      s"capped labels diverge: ${(auto -- forced).take(5)} vs ${(forced -- auto).take(5)}")
  }

  test("occupancy-capped LSH bounds hot-bucket listing and preserves " +
       "dedup components (the production knob for densifying clusters)") {
    val exact = Dedup.lshJaccardPairs(spark, sf01, minBp = 6500).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.lshJaccardPairs(spark, sf01, minBp = 6500,
        bucketCap = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // star pairs are a subset of the clique's — precision is exact
    // either way (every candidate is verified)
    assert(capped.subsetOf(exact))
    // the cap actually engaged on this corpus (over-cap buckets exist
    // and their non-hub pairs were suppressed)
    assert(capped.size < exact.size,
      s"cap=2 never engaged: ${capped.size} == ${exact.size}")
    // what dedup consumes is CONNECTIVITY, and the hub preserves it:
    // the component labelling over capped edges equals the exact one
    val nodes = Tables.documents(spark, sf01).select(col("doc_id").as("node"))
    def labels(pairs: Set[(Long, Long)]): Map[Long, Long] = {
      import spark.implicits._
      val edges = pairs.toSeq.toDF("a", "b")
      graft.operators.Components.connectedComponents(nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(labels(capped) == labels(exact),
      "capping changed the dedup components")
  }

  test("incremental dedup equals the symmetric detector's cross-split pairs") {
    // ground truth: the symmetric exact-verified pair relation,
    // restricted to pairs with exactly one endpoint in the batch
    // slice and re-oriented to (new, old)
    val sym = Dedup.lshJaccardPairs(spark, sf01, minBp = 6500).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .collect {
        case (a, b, j) if a % 7 == 0 && b % 7 != 0 => (a, b, j)
        case (a, b, j) if b % 7 == 0 && a % 7 != 0 => (b, a, j)
      }.toSet
    val inc = Dedup.incrementalDedup(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == sym,
      s"missed=${(sym -- inc).size} extra=${(inc -- sym).size}")
    assert(inc.nonEmpty, "the word-salad corpus must yield cross-split dups")
    // the batch side must be the broadcast build side — the corpus
    // never shuffles for candidate generation
    val plan = Dedup.incrementalDedup(spark, sf01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "batch band keys must broadcast")
  }

  test("simhash: near-identical docs collide, hamming bounded") {
    val rows = Dedup.simhashPairs(spark, sf01).collect()
    assert(rows.forall(_.getLong(2) <= 3L))
  }

  test("simhash multi-index finds EXACTLY the hamming<=3 pair set") {
    // the multi-index pigeonhole guarantee is exactness, not recall:
    // brute-force the ground truth from the collected signatures
    val sigs = Dedup.simhash(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"got ${got.size} pairs, truth ${truth.size}")
  }

  test("ann_lsh achieves useful recall@10 against ann_brute") {
    val brute = Ann.bruteTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lshTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.4, s"ann_lsh recall@10 = $recall")
  }

  test("ann_ivf achieves useful recall@10 against ann_brute") {
    val brute = Ann.bruteTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.ivfTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.4, s"ann_ivf recall@10 = $recall")
  }

  test("knn_join: every vector gets ≤k ranked neighbours, recall vs brute") {
    val k = 5
    val rows = Ann.knnJoin(spark, sf01, k = k).collect()
    val n = Tables.embeddings(spark, sf01).count()
    val byQ = rows.groupBy(_.getLong(0))
    // every vector appears as a query (multi-probe cells are never empty)
    assert(byQ.size == n, s"${byQ.size} queries of $n vectors")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= k, s"q $q has ${rs.length} neighbours")
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"q $q ranks")
      assert(rs.forall(_.getLong(2) != q), s"q $q lists itself")
    }
    // recall@k against exact brute on a query slice
    val brute = Ann.bruteTopK(spark, sf01, nQueries = 50, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = rows.filter(_.getLong(0) < 50)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.4, s"knn_join recall@$k = $recall")
  }

  test("router: one-super (flat/legacy) probe matches driver-side " +
       "cosine ranking exactly — the old single-level semantics") {
    val (assigned, centersDf) = Ann.ivfAssign(spark, sf01, 16)
    val centers = centersDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val flat = Ann.routerOf(centers.map { case (c, w) => (c, w, 0) })
    assert(flat.size == 1)
    val slice = assigned.filter(col("vec_id") < 50).select("vec_id", "v")
    val (frame, rcol) = Ann.attachRouter(slice, flat)
    val got = frame
      .select(col("vec_id"), Ann.routeProbeExpr(rcol, flat, 3).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    slice.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .foreach { case (id, v) =>
        val want = centers.map { case (c, w) =>
          val dot = v.zip(w).map { case (x, y) => x * y }.sum
          val nc = math.max(math.sqrt(w.map(x => x * x).sum), 1e-12)
          (-dot / nc, c)
        }.sorted.take(3).map(_._2).toSeq
        assert(got(id) == want, s"vec $id probe mismatch")
      }
  }

  test("hierarchical quantiser (cells > FlatCellsMax): multiple supers " +
       "train, assignment routes super-then-cell exactly") {
    val vecs = Tables.embeddings(spark, sf01)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val (assigned, centersDf) = Ann.trainAssignOf(vecs, 96)
    try {
      val centers = centersDf.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getInt(2)))
      assert(centers.map(_._3).distinct.length > 1, "no supers trained")
      assert(centers.map(_._1).distinct.length == centers.length)
      val router = Ann.routerOf(centers)
      def l2(v: Seq[Double], w: Seq[Double]): Double =
        v.zip(w).map { case (x, y) => (x - y) * (x - y) }.sum
      // the expression's two-level argmin reproduced on the driver:
      // nearest super (by the mean-of-cells routing center, ties to
      // the lower super), then nearest cell within it (ties to the
      // lower cell id)
      assigned.filter(col("vec_id") < 100).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
        .foreach { case (id, v, cell) =>
          val sIdx = router.indices.minBy(i => (l2(v, router(i)._1), i))
          val want = router(sIdx)._3
            .minBy { case (c, w, _) => (l2(v, w), c) }._1
          assert(cell == want, s"vec $id: assigned $cell, routed $want")
        }
      // every cell id the corpus carries exists in the centers relation
      val cellIds = centers.map(_._1).toSet
      assert(assigned.select("cell").distinct().collect()
        .forall(r => cellIds(r.getInt(0))))
    } finally assigned.unpersist()
  }

  test("knn_join through the hierarchical router keeps recall") {
    val k = 5
    val rows = Ann.knnJoin(spark, sf01, k = k, cellsMin = 96, nprobe = 4)
      .collect()
    val n = Tables.embeddings(spark, sf01).count()
    assert(rows.map(_.getLong(0)).distinct.length == n,
      "a vector lost its probe cells through the two-level router")
    val brute = Ann.bruteTopK(spark, sf01, nQueries = 50, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = rows.filter(_.getLong(0) < 50)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.3, s"hierarchical knn_join recall@$k = $recall")
  }

  test("knn_join PQ frontier reproduces exact-cosine candidate ranking") {
    // with a frontier wide enough to hold a query's whole candidate
    // set, SDC-candidates + exact re-rank must equal exact cosine
    // over ALL candidates — same cells, same dedup, same tie-breaks.
    // (At the default rerank=128 the frontier genuinely cuts: ~0.5%
    // of rows differ here — that's the approximation the recall gate
    // above prices, not a machinery bug, which THIS equality pins.)
    val pq = Ann.knnJoinPq(spark, sf01, rerank = 1000)
      .collect().map(_.toSeq).toSeq
    val exact = Ann.knnJoinExactCand(spark, sf01).collect().map(_.toSeq).toSeq
    assert(pq == exact)
  }

  test("knn_join selects its candidate form by footer-derived corpus " +
       "size: exact below the threshold, PQ above (forced)") {
    // sf0.1's corpus is far below the 50M default → the exact arm
    val sel = Ann.knnJoin(spark, sf01).collect().map(_.toSeq).toSeq
    val exact = Ann.knnJoinExactCand(spark, sf01).collect().map(_.toSeq).toSeq
    assert(sel == exact)
    // threshold 0 forces the PQ arm
    val forced = Ann.knnJoin(spark, sf01, pqThreshold = 0L)
      .collect().map(_.toSeq).toSeq
    val pq = Ann.knnJoinPq(spark, sf01).collect().map(_.toSeq).toSeq
    assert(forced == pq)
  }

  test("knn_join candidate stages carry no vector column") {
    // the operator's premise: codes (8 B) ride the cell shuffle and
    // the frontier ranking; raw vectors appear only in the re-rank
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    import org.apache.spark.sql.types.ArrayType
    val plan = Ann.knnJoinPq(spark, sf01).queryExecution.optimizedPlan
    // the candidate pair join: both sides expose code columns — no
    // array may cross it
    val candJoins = plan.collect {
      case j: Join if j.output.exists(_.name.startsWith("code")) => j
    }
    assert(candJoins.nonEmpty, "candidate code join not found in plan")
    candJoins.foreach { j =>
      val wide = j.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty, s"vector columns ride the candidate join: $wide")
    }
    // the frontier ranking window over `approx`: scalar rows only
    val frontierWindows = plan.collect {
      case w: Window if w.child.output.exists(_.name == "approx") => w
    }
    assert(frontierWindows.nonEmpty, "frontier ranking window not found")
    frontierWindows.foreach { w =>
      val wide = w.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty, s"vector columns ride the frontier shuffle: $wide")
    }
  }

  test("ann_ivf_indexed: persisted index reproduces the in-memory answer, cell-pruned") {
    val indexed = Ann.ivfTopKIndexed(spark, sf01)
    // identical output: same centers, same probe order, same ranking
    val mem = Ann.ivfTopK(spark, sf01).collect().map(_.toSeq).toSeq
    assert(indexed.collect().map(_.toSeq).toSeq == mem)
    // the probe reads only the persisted artifact (assigned/ is
    // partitioned by cell — the directory layout is the inverted list)
    val files = indexed.inputFiles
    assert(files.nonEmpty)
    val idx = Ann.ivfIndexFor(spark, sf01, 16)
    assert(files.forall(_.contains(idx)),
      files.filterNot(_.contains(idx)).take(3).mkString(", "))
    assert(files.exists(_.contains("cell=")), "assigned/ must be cell-partitioned")
    // probing must partition-prune the cell layout: only the probed
    // cells' directories are read (dynamic pruning from the broadcast
    // probe side)
    assert(indexed.queryExecution.executedPlan.toString
      .contains("dynamicpruning"), "probe must dynamic-partition-prune cells")
  }

  test("ivf index append: same-cell assignment, untouched files, duplicates found") {
    import org.apache.spark.sql.functions._
    // building the appended fixture snapshots nothing — walk it
    // ourselves: clone state BEFORE the search by forcing the build
    val idx = Ann.appendedIndexFor(spark, sf01, 16)
    val src = Ann.ivfIndexFor(spark, sf01, 16)
    // (a) every appended duplicate landed in its original's cell —
    // euclid-argmin over literal centers == the quantiser's predict
    val orig = Ann.ivfIndexRead(spark, src).assigned
      .filter(pmod(col("vec_id"), lit(11)) === 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val appended = Ann.ivfIndexRead(spark, idx).assigned
      .filter(col("vec_id") >= 1000000L)
      .collect().map(r => (r.getLong(0) - 1000000L) -> r.getAs[Int]("cell")).toMap
    assert(appended.nonEmpty && appended == orig,
      s"${appended.size} appended vs ${orig.size} original assignments")
    // (b) the search finds each query's re-ingested duplicate at
    // rank 1 (cos = 1 against itself-with-a-new-id; query 0 is in the
    // batch since 0 % 11 == 0)
    val hits = Ann.ivfTopKAppended(spark, sf01).collect()
      .filter(_.getLong(0) % 11 == 0)
    val rank1 = hits.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    rank1.foreach { case (q, n) =>
      assert(n == q + 1000000L, s"query $q rank-1 neighbour $n is not its duplicate")
    }
    assert(rank1.nonEmpty)
  }

  test("ivf index append touches no pre-existing file") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // a fresh clone of the base index, appended in place
    val src = Ann.ivfIndexFor(spark, sf01, 16)
    val dir = Files.createTempDirectory("graft_append_test").toString
    Ann.cloneIndex(spark, src, dir)
    def snapshot(): Map[String, Long] = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))  // _SUCCESS markers + crcs
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = snapshot()
    val batch = Ann.ivfIndexRead(spark, src).assigned
      .filter(pmod(col("vec_id"), lit(11)) === 3)
      .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("v"))
    Ann.ivfIndexAppend(spark, dir, batch)
    val after = snapshot()
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"pre-existing file rewritten: $p")
    }
    assert(after.size > before.size, "append must add part files")
  }

  test("ivf index rebuild: build → append → rebuild equals a from-scratch " +
       "build on the same corpus; duplicates still found; no residue") {
    import org.apache.spark.sql.functions._
    val idx = Ann.rebuiltIndexFor(spark, sf01, 16)
    val src = Ann.appendedIndexFor(spark, sf01, 16)
    // (a) the corpus is preserved: same vec_id set as the appended index
    val rebuilt = Ann.ivfIndexRead(spark, idx)
    val before = Ann.ivfIndexRead(spark, src).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val after = rebuilt.assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after == before)
    // (b) the inverted list is fully re-derived
    assert(rebuilt.probed.count() ==
      before.size.toLong * Ann.IndexNprobe)
    // (c) ARTIFACT parity with a from-scratch build over the same
    // vector set (read the same way — a second clone): training is
    // deterministic on identical input, so centers and assignments
    // must match exactly; search parity follows a fortiori
    val clone2 = java.nio.file.Files.createTempDirectory("graft_rebuild_ref").toString
    Ann.cloneIndex(spark, src, clone2)
    val (fa, fc) = Ann.trainAssignOf(
      Ann.ivfIndexRead(spark, clone2).assigned.select("vec_id", "v"), 16)
    val freshCenters = fc.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val rebuiltCenters = rebuilt.centers.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(rebuiltCenters == freshCenters,
      "rebuilt centers differ from a fresh build on the same corpus")
    val freshCells = fa.collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    fa.unpersist()
    val rebuiltCells = rebuilt.assigned.collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    assert(rebuiltCells == freshCells)
    // (d) drift is actually retired: the rebuilt centers were trained
    // on corpus+batch, not carried over from the pre-append build
    val staleCenters = Ann.ivfIndexRead(spark, src).centers.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(rebuiltCenters != staleCenters,
      "rebuild kept the stale centers — retrain did not happen")
    // (e) search still surfaces the re-ingested duplicates at rank 1
    val rank1 = Ann.ivfTopKRebuilt(spark, sf01).collect()
      .filter(r => r.getLong(0) % 11 == 0 && r.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rank1.foreach { case (q, n) => assert(n == q + 1000000L) }
    assert(rank1.nonEmpty)
    // (f) every directory under the rebuilt index belongs to a kept
    // version: the commit left no staged or unreferenced segment
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val kept = graft.sources.Snapshot.versions(fs, root)
      .flatMap(v => graft.sources.Snapshot.filesOf(fs, root, v))
      .map(_.takeWhile(_ != '/')).toSet
    val dirs = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_ != graft.sources.Snapshot.MetaDir).toSet
    assert(dirs.nonEmpty && dirs.subsetOf(kept),
      s"unreferenced: ${(dirs -- kept).mkString(",")}")
  }

  /** The vec_ids of an index relation. */
  private def vecIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  /** `index` reads as one whole version: `ids` assigned once each,
    * listed IndexNprobe times each in probed/, under `centers`.
    */
  private def assertWhole(index: Ann.IvfIndex, ids: Set[Long],
                          centers: Map[Int, Seq[Double]]): Unit = {
    assert(index.assigned.count() == ids.size.toLong && vecIds(index.assigned) == ids)
    assert(index.probed.count() == ids.size.toLong * Ann.IndexNprobe &&
      vecIds(index.probed) == ids)
    assert(centersOf(index) == centers)
  }

  private def centersOf(index: Ann.IvfIndex): Map[Int, Seq[Double]] =
    index.centers.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap

  /** Run `body` over a scratch clone of the base index, a batch of
    * shifted copies of its `vec_id % 13 == 5` vectors and the batch's
    * ids; the clone is deleted afterwards.
    */
  private def withClone(prefix: String, shift: Long)
                       (body: (String, org.apache.spark.sql.DataFrame, Set[Long]) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      Ann.cloneIndex(spark, Ann.ivfIndexFor(spark, sf01, 16), dir)
      val batch = Ann.ivfIndexRead(spark, dir).assigned
        .filter(pmod(col("vec_id"), lit(13)) === 5)
        .select((col("vec_id") + lit(shift)).as("vec_id"), col("v"))
      body(dir, batch, vecIds(batch))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
  }

  test("ivf index: a reader pinned before an append or a rebuild reads the " +
       "old version whole; a reader pinned after reads the new one whole") {
    withClone("graft_ivf_pinned", 3000000L) { (dir, batch, added) =>
      val v1 = Ann.ivfIndexRead(spark, dir)
      val base = vecIds(v1.assigned)
      val c1 = centersOf(v1)
      Ann.ivfIndexAppend(spark, dir, batch)
      assertWhole(v1, base, c1)
      val v2 = Ann.ivfIndexRead(spark, dir)
      assert(v2.pin.version == v1.pin.version + 1)
      assertWhole(v2, base ++ added, c1)
      // the append reused the base segment's shard and wrote one more
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def shards(v: Long) = graft.sources.Snapshot.shardRefsOf(fs, root, v).toSet
      assert(shards(v1.pin.version).subsetOf(shards(v2.pin.version)) &&
        shards(v2.pin.version).size == shards(v1.pin.version).size + 1)
      Ann.ivfIndexRebuild(spark, dir, 16)
      assertWhole(v2, base ++ added, c1)
      val v3 = Ann.ivfIndexRead(spark, dir)
      assert(v3.pin.version == v2.pin.version + 1)
      // the rebuild commits one segment holding the whole retrained index
      assert(v3.pin.files.map(_.takeWhile(_ != '/')).distinct.size == 1)
      assertWhole(v3, base ++ added, centersOf(v3))
      assert(centersOf(v3).keySet == (0 until 16).toSet)
    }
  }

  test("ivf index: a writer killed between staging and commit leaves the " +
       "old index readable; the next write's vacuum reaps its leftovers") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.hadoop.fs.{FileUtil, Path}
    withClone("graft_ivf_killed", 4000000L) { (dir, batch, added) =>
      val before = Ann.ivfIndexRead(spark, dir)
      val base = vecIds(before.assigned)
      val c1 = centersOf(before)
      // the dead writer's leftovers, each a whole copy of the live
      // segment: one still staged (hidden, older than the stage grace)
      // and one placed that no version references
      val live = before.pin.files.head.takeWhile(_ != '/')
      val staged = s".s2_${"d" * 12}"
      val placed = s"s2_${"e" * 12}"
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(dir).getFileSystem(conf)
      Seq(staged, placed).foreach(d =>
        FileUtil.copy(fs, new Path(dir, live), fs, new Path(dir, d), false, conf))
      Files.setLastModifiedTime(Paths.get(dir, staged), FileTime.fromMillis(
        System.currentTimeMillis() - graft.sources.Snapshot.StageGraceMs - 60000L))
      val during = Ann.ivfIndexRead(spark, dir)
      assert(during.pin == before.pin)
      assertWhole(during, base, c1)
      Ann.ivfIndexAppend(spark, dir, batch)
      assert(!Files.exists(Paths.get(dir, staged)) && !Files.exists(Paths.get(dir, placed)))
      assertWhole(Ann.ivfIndexRead(spark, dir), base ++ added, c1)
    }
  }

  test("plan-literal budget: forcing the broadcast-grid path (budget 0) " +
       "leaves knn_join and ann_ivf_pq results identical") {
    val litKnn = Ann.knnJoinPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val bcKnn = Ann.knnJoinPq(spark, sf01, literalBudget = 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(litKnn.nonEmpty && litKnn == bcKnn)
    val litPq = Ann.ivfPqTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val bcPq = Ann.ivfPqTopK(spark, sf01, literalBudget = 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(litPq.nonEmpty && litPq == bcPq)
  }

  test("ann_ivf_pq: ADC + re-rank recalls what plain IVF recalls") {
    val brute = Ann.bruteTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Ann.ivfPqTopK(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.4, s"ann_ivf_pq recall@10 = $recall")
    // quantization + re-rank must not lose ground against plain IVF
    // on the same probes: the exact re-rank sees `rerank` candidates,
    // so any gap is ADC ordering error — bound it
    val ivfRecall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= ivfRecall - 0.2,
      s"pq recall $recall far below ivf recall $ivfRecall")
    // output is well-formed: k rows per query, ranks 1..k
    val rows = Ann.ivfPqTopK(spark, sf01).collect()
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
  }

  test("ann_ivf_pq ADC ranking stage carries no vector column") {
    // the operator's premise is that the scan touches 8-byte code rows
    // and only the re-rank touches raw vectors: every column entering
    // the ADC ranking window must be scalar — a vector (array) column
    // there means 64× the shuffle width at 100 TB
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.types.ArrayType
    val plan = Ann.ivfPqTopK(spark, sf01).queryExecution.optimizedPlan
    val adcWindows = plan.collect {
      case w: Window if w.child.output.exists(_.name == "approx") => w
    }
    assert(adcWindows.nonEmpty, "ADC ranking window not found in plan")
    adcWindows.foreach { w =>
      val wide = w.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty, s"vector columns ride the ADC shuffle: $wide")
    }
  }

  test("ann_ivf_pq_indexed: persisted PQ index reproduces the in-memory answer off codes/") {
    val indexed = Ann.ivfPqTopKIndexed(spark, sf01)
    // identical output: same centers, same codebooks (doubles
    // round-trip parquet exactly), same integer codes, same ranking
    val mem = Ann.ivfPqTopK(spark, sf01).collect().map(_.toSeq).toSeq
    assert(indexed.collect().map(_.toSeq).toSeq == mem)
    // the ADC scan must read the persisted cell-partitioned codes
    // relation; raw vectors may come ONLY from the corpus table (the
    // re-rank), never from the index
    val idx = Ann.ivfPqIndexFor(spark, sf01, 16, 8, 16)
    val files = indexed.inputFiles
    assert(files.exists(f => f.contains(idx) && f.contains("/codes/") &&
      f.contains("cell=")), "codes/ must be read cell-partitioned")
    assert(!files.exists(_.contains("/assigned")),
      "the PQ search must not touch the raw-vector index relation")
  }

  test("keyword search ranks by exact integer tf-idf") {
    import spark.implicits._
    // N=4; df(cat)=3 → w=1, df(rare)=1 → w=4
    val docs = Seq(
      (1L, "cat cat cat"),          // score 3·1 = 3
      (2L, "cat rare"),             // score 1·1 + 1·4 = 5
      (3L, "cat dog"),              // score 1
      (4L, "dog dog")               // no hit — absent
    ).toDF("doc_id", "text")
    val r = TextAnalysis.keywordSearchOf(docs, Seq("cat", "rare"), k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((2L, 5L, 2L), (1L, 3L, 1L), (3L, 1L, 1L)), r.toSeq.toString)
  }

  test("chunk_docs covers every token with the declared overlap") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // win=64, stride=48 defaults; craft docs around the boundaries:
    // shorter than win (1 chunk), exactly win, win+1 (2 chunks, short
    // tail), and long enough for 3+ chunks
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, mk(10)), (2L, mk(64)), (3L, mk(65)), (4L, mk(150)))
    val out = TextAnalysis.chunkDocs(spark, sf, win = 64, stride = 48)
    // gate-scale smoke on real data is Verify's job; here: exact
    // expected chunking of the crafted docs via a scratch parquet dir
    val tmp = java.nio.file.Files.createTempDirectory("chunkspec").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.chunkDocs(spark, tmp, win = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val m = (math.max(toks.length - 64, 0) + 47) / 48
      (0 to m).map { i =>
        val c = toks.slice(i * 48, i * 48 + 64)
        (id, i.toLong, c.length.toLong, md5hex(c.mkString(" ")))
      }
    }
    assert(got.toSeq == expect,
      s"got=${got.toSeq.take(6)} expect=${expect.take(6)}")
    // every token index of doc 4 appears in >= 1 chunk and chunk
    // count is ceil((150-64)/48)+1 = 3
    assert(expect.count(_._1 == 4L) == 3)
    assert(out.columns.toSeq ==
      Seq("doc_id", "chunk_id", "n_toks", "chunk_hash"))
  }

  test("sample_token_budget keeps a hash-order prefix, overshoot <= 1 doc") {
    val budget = 800L
    val kept = Curation.sampleTokenBudget(spark, sf01, budgetTokens = budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.groupBy(_._2).foreach { case (src, rows) =>
      // every kept doc's cum_before is under budget (the keep rule)
      assert(rows.forall(_._4 < budget), s"$src over-budget row")
      // total kept tokens overshoot by at most the LAST doc: max
      // cum_before + its tokens may exceed budget, nothing else may
      val total = rows.map(_._3).sum
      val last = rows.maxBy(_._4)
      assert(total - last._3 < budget || rows.length == 1,
        s"$src kept ${total} tokens with budget $budget")
    }
  }

  test("bm25_topk equals a plain-Scala reference on the corpus") {
    // independent recompute of the whole operator — same rational
    // algebra, Double ops in the SAME association order, math.round
    // (floor(x+0.5), identical to SQL HALF_UP for positives)
    val terms = Seq("spark", "table", "window")
    val docs = Tables.documents(spark, sf01)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.replaceAll("\\s+", " ")
          .toLowerCase.split(" ", -1).toSeq)
    val n = docs.length.toLong
    val dTot = docs.map(_._2.length.toLong).sum
    val tf = docs.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      toks.filter(terms.contains).groupBy(identity)
        .map { case (t, xs) => (id, dl, t, xs.length.toLong) }
    }
    val df = tf.groupBy(_._3).map { case (t, xs) => t -> xs.length.toLong }
    val perDoc = tf.groupBy(_._1).map { case (id, xs) =>
      val s = xs.map { case (_, dl, t, f) =>
        math.round((1000000.0 * ((22.0 * f * dTot) * (2 * n - 2 * df(t) + 1))) /
          ((10.0 * f * dTot + 3.0 * dTot + 9.0 * dl * n) * (2 * df(t) + 1)))
      }.sum
      (id, s, xs.length.toLong)
    }
    val expect = perDoc.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(25)
    val got = TextAnalysis.bm25TopK(spark, sf01).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got == expect, s"got=${got.take(5)} expect=${expect.take(5)}")
    // length normalisation is live: at least one ranking inversion vs
    // the plain tf·idf keyword score would be ideal, but the minimum
    // honest claim is that scores are dl-sensitive — two docs with the
    // same tf/df pattern but different dl must not tie
    assert(expect.map(_._2).distinct.size > 1)
  }

  test("gopher rules: each rule gates exactly its shape") {
    import spark.implicits._
    val docs = Seq(
      // clean prose: every rule passes
      (1L, "the dog and the cat have fun with all of them here today"),
      // too few words
      (2L, "short of the"),
      // mean word length below 3.00
      (3L, "a b c d e f g h i j k l and the"),
      // mean word length above 10.00
      (4L, ("the and " + "x" * 30 + " ") * 6),
      // alphabetic-word fraction below 80%
      (5L, "1 2 3 4 5 6 7 8 9 10 11 12 the and"),
      // symbol-to-word ratio above 10%
      (6L, "the and cat dog fun here with good time more less fast " +
        "slow blue red green gold # # #"),
      // fewer than two distinct stopwords
      (7L, "cats dogs birds fish mice foxes wolves bears deer hawks owls")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRulesOf(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(6) == 1, s"clean doc must pass: ${r(1L)}")
    (2L to 7L).foreach(i =>
      assert(r(i).getLong(6) == 0, s"doc $i must fail: ${r(i)}"))
    // doc 1 metrics exactly: 13 words, 44 word-chars, all alpha,
    // no symbols, 5 distinct stopwords
    assert(r(1L).getLong(1) == 13 && r(1L).getLong(2) == 338 &&
      r(1L).getLong(3) == 10000 && r(1L).getLong(4) == 0 &&
      r(1L).getLong(5) == 5, r(1L).toString)
    // doc 6 fails ONLY the symbol rule (everything else in range)
    assert(r(6L).getLong(1) == 20 && r(6L).getLong(4) == 1500, r(6L).toString)
    assert(r(6L).getLong(2) >= 300 && r(6L).getLong(2) <= 1000 &&
      r(6L).getLong(3) >= 8000 && r(6L).getLong(5) >= 2, r(6L).toString)
  }

  test("cdc partial-dup pairs: shared-chunk counts are sane") {
    val pairs = Dedup.cdcPairs(spark, sf01, minShared = 1).collect()
    assert(pairs.forall(_.getLong(2) >= 1))
    println(s"[cdc] pairs at sf0.01 (minShared=1): ${pairs.length}")
  }

  test("cdc hot-chunk df cap keeps boilerplate from going quadratic") {
    import spark.implicits._
    // 60 docs sharing one long boilerplate passage + a unique tail:
    // without the cap the passage's chunks alone cost C(60,2) pairs
    val boiler = (1 to 40).map(i => s"boilerplate sentence $i.").mkString(" ")
    // tail embeds the doc id in every chunk-sized window, so no two
    // docs can share a tail chunk even after CDC boundary resync
    val docs = (0 until 60).map { i =>
      (i.toLong, boiler + (s" [#$i#]" * 60))
    }.toDF("doc_id", "txt")
    val uncapped = Dedup.cdcPairsOf(docs, minShared = 1, maxDf = 1000).count()
    val capped = Dedup.cdcPairsOf(docs, minShared = 1, maxDf = 10).count()
    assert(uncapped == 60L * 59 / 2, s"boilerplate should pair all docs: $uncapped")
    assert(capped == 0, s"df cap must drop corpus-wide chunks: $capped")
  }

  test("embedding dedup finds the known near-duplicate pairs") {
    val pairs = Dedup.embeddingPairs(spark, sf01, threshold = 0.45).collect()
    assert(pairs.length >= 1)
  }

  test("IVF-cell-blocked embedding dedup recalls the exact pairs") {
    val exact = Dedup.embeddingPairs(spark, sf01, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Dedup.embeddingPairsIvf(spark, sf01, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // multi-probe cells must recover the known pairs; any extra pairs
    // it finds are still cosine-verified, so only recall can differ
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall $recall over ${exact.size} pairs")
  }

  test("incremental embedding dedup recalls the exact cross-split pairs off the index alone") {
    // ground truth: the TRUE all-pairs relation (no label blocking —
    // the operator isn't label-blocked either), computed exactly on
    // the driver over the small test corpus, restricted to
    // (batch, corpus) pairs and oriented to (new, old)
    val vecs = graft.Tables.embeddings(spark, sf01)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
    }
    val exact = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia % 7 == 0 && ib % 7 != 0 && cos(va, vb) >= 0.45
    } yield (ia, ib)).toSet
    val inc = Dedup.embeddingIncremental(spark, sf01, threshold = 0.45)
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "the corpus must have cross-split embedding dups")
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"incremental ivf recall $recall over ${exact.size} pairs")
    // extras are cosine-verified, so precision is exact by construction;
    // and the probe reads ONLY the persisted IVF index
    val idx = graft.pipeline.Ann.ivfIndexFor(spark, sf01, 16)
    val foreign = inc.inputFiles.filterNot(_.contains(idx))
    assert(inc.inputFiles.nonEmpty && foreign.isEmpty, foreign.take(3).mkString(", "))
    // the inverted-list read is partition-pruned to the batch's cells
    assert(inc.queryExecution.executedPlan.toString
      .contains("dynamicpruning"), "probe must dynamic-partition-prune cells")
  }

  test("unionEdges: provenance mask is the bit-or of the detector bits") {
    val edges = Dedup.unionEdges(spark, sf01, includeCdc = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges.nonEmpty)
    val allBits = Dedup.NgramBit | Dedup.WinnowBit | Dedup.EmbeddingBit
    edges.values.foreach(m => assert(m >= 1 && (m | allBits) == allBits, m))
    // every detector's own pair set carries (at least) its bit — and a
    // pair found by two detectors carries both, which is what bit_or
    // guarantees and sum would have silently broken on duplicates
    val ngram = Dedup.ngramJaccardPairs(spark, sf01, minBp = 6500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = Dedup.winnowPairs(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.nonEmpty && winnow.nonEmpty)
    ngram.foreach(p => assert((edges(p) & Dedup.NgramBit) != 0, p))
    winnow.foreach(p => assert((edges(p) & Dedup.WinnowBit) != 0, p))
    (ngram & winnow).foreach(p =>
      assert((edges(p) & (Dedup.NgramBit | Dedup.WinnowBit)) ==
        (Dedup.NgramBit | Dedup.WinnowBit), p))
  }

  test("unionEdges production path sources embedding edges from IVF cells") {
    // the gate form (embIvf = false) uses the label-blocked exact
    // operator so the SQL oracle can rebuild the union; production
    // (embIvf = true) must ride the occupancy-bounded IVF blocking.
    // Every IVF pair must surface in the production union with the
    // embedding provenance bit, and the two unions must agree on all
    // non-embedding (ngram/winnow) edges by construction.
    val prod = Dedup.unionEdges(spark, sf01, includeCdc = false, embIvf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivf = Dedup.embeddingPairsIvf(spark, sf01, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    ivf.foreach(p => assert((prod(p) & Dedup.EmbeddingBit) != 0, p))
    val gate = Dedup.unionEdges(spark, sf01, includeCdc = false, embIvf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nonEmb = (m: Map[(Long, Long), Long]) =>
      m.collect { case (p, bits) if (bits & ~Dedup.EmbeddingBit) != 0 =>
        p -> (bits & ~Dedup.EmbeddingBit) }
    assert(nonEmb(prod) == nonEmb(gate))
  }

  test("keepDrop: every doc labelled, keeps are exactly the component reps") {
    val rows = Dedup.keepDrop(spark, sf01, includeCdc = false).collect()
    assert(rows.length == 500)
    val reps = rows.map(_.getLong(1)).toSet
    rows.foreach { r =>
      val (doc, rep, keep) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(rep <= doc, r) // label is the component min
      assert((keep == 1) == (doc == rep), r)
    }
    // the kept set is exactly the set of representatives
    assert(rows.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet == reps)
    // and dropping keeps at least one duplicate pair's loser out
    assert(rows.exists(_.getInt(2) == 0))
  }

  test("keepDrop superset property: cdc edges only merge components") {
    // adding an edge source can merge components but never split them,
    // so the keep set with cdc edges is a subset of the keep set
    // without — the invariant that lets the gate run includeCdc=false
    // while production runs the full union
    val keepsWithout = Dedup.keepDrop(spark, sf01, includeCdc = false)
      .collect().filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    val keepsWith = Dedup.keepDrop(spark, sf01, includeCdc = true)
      .collect().filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(keepsWith.subsetOf(keepsWithout),
      s"cdc edges must only merge: ${keepsWith -- keepsWithout}")
  }

  test("language id is deterministic and covers all docs") {
    val out = TextAnalysis.langId(spark, sf01).collect()
    assert(out.length == 500)
    assert(out.forall(r => r.getString(2) != null))
  }

  test("embedding outliers: every vector scored, flags mean far-from-centroid") {
    val rows = Ann.embeddingOutliers(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val total = graft.Tables.embeddings(spark, sf01).count()
    assert(rows.length == total, "one row per vector")
    assert(rows.map(_._1).distinct.length == rows.length)
    // the flag is exactly the documented threshold: d2·n > 4·Σd2
    rows.groupBy(_._2).foreach { case (label, vs) =>
      val n = vs.length.toLong
      val sd2 = vs.map(_._3).sum
      vs.foreach { case (id, _, d2, flag) =>
        val want = if (d2 * n > 4 * sd2) 1L else 0L
        assert(flag == want, s"vec $id label $label: flag $flag want $want")
      }
      // outliers are a minority by construction (mean-based threshold)
      assert(vs.count(_._4 == 1L) < vs.length / 2, s"label $label")
    }
    // flagged vectors (if any) are strictly farther than every
    // unflagged vector in the same label
    rows.groupBy(_._2).foreach { case (_, vs) =>
      val (out, in) = vs.partition(_._4 == 1L)
      if (out.nonEmpty && in.nonEmpty)
        assert(out.map(_._3).min > in.map(_._3).max)
    }
    // planted outlier: 40 vectors in a tight ball + one far away —
    // exactly the far one is flagged (testdata blobs are too uniform
    // to exercise the flag, so the synthetic case pins it)
    import spark.implicits._
    val syn = ((0 until 40).map { i =>
      (i.toLong, Array.fill(64)(0.1f + 0.001f * (i % 3)), 7)
    } :+ (99L, Array.fill(64)(0.9f), 7))
      .toDF("vec_id", "embedding", "label")
    val synRows = Ann.embeddingOutliersOf(syn).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(synRows.filter(_._2 == 1L).map(_._1).toSeq == Seq(99L),
      synRows.mkString(","))
  }

  test("substring spans recover a planted long duplicate, nothing else") {
    import spark.implicits._
    val k = 41; val s = 10
    // unique filler (index-stamped words never repeat across docs),
    // one 120-char passage shared verbatim by docs 1 and 2
    def filler(tag: String, n: Int): String =
      (0 until n).map(i => f"$tag$i%04d").mkString(" ")
    val dup = ("x" * 7 + " ") * 15 // 120 chars
    val off1 = filler("aa", 30) + " "   // planted at a known offset
    val docs = Seq(
      (1L, off1 + dup + " " + filler("bb", 30)),
      (2L, filler("cc", 40) + " " + dup + " " + filler("dd", 20)),
      (3L, filler("ee", 60))).toDF("doc_id", "txt")
      .select(col("doc_id"),
        graft.pipeline.TextAnalysis.normText(col("txt")).as("txt"))
    val got = Dedup.substringSpansOf(docs, k, s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // only the two docs holding the planted passage are flagged
    assert(got.map(_._1).toSeq == Seq(1L, 2L), got.toSeq.toString)
    got.foreach { case (_, nSpans, dupChars) =>
      assert(nSpans == 1L)
      // grid slack: a span may start up to (s-1) after and end up to
      // (k-1) short of the true passage, and extend ≤ k-1 past it
      assert(dupChars >= dup.length - (s - 1) - (k - 1), s"short: $dupChars")
      assert(dupChars <= dup.length + 2 * (k - 1), s"long: $dupChars")
    }
    // testdata sanity: near-dup clones share ≥50-char runs → non-empty,
    // spans stay inside their documents
    val real = Dedup.substringSpans(spark, sf01).collect()
    assert(real.nonEmpty)
    val lens = graft.Tables.documents(spark, sf01)
      .select(col("doc_id"), length(
        graft.pipeline.TextAnalysis.normText(col("text"))).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    real.foreach { r =>
      assert(r.getLong(2) <= lens(r.getLong(0)),
        s"span chars exceed doc length: $r")
    }
  }

  test("substring scrub removes planted duplicates and nothing else") {
    import spark.implicits._
    val k = 41; val s = 10
    def filler(tag: String, n: Int): String =
      (0 until n).map(i => f"$tag$i%04d").mkString(" ")
    val dup = ("x" * 7 + " ") * 15 // 120-char passage in docs 1 and 2
    val docs = Seq(
      (1L, filler("aa", 30) + " " + dup + " " + filler("bb", 30)),
      (2L, filler("cc", 40) + " " + dup + " " + filler("dd", 20)),
      (3L, filler("ee", 60))).toDF("doc_id", "txt")
      .select(col("doc_id"),
        TextAnalysis.normText(col("txt")).as("txt"))
    val raw = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Dedup.substringScrubOf(docs, k, s).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // untouched doc passes through verbatim
    assert(got(2)._2 == raw(3L) && got(2)._3 == 0L)
    got.take(2).foreach { case (id, clean, cut) =>
      // the planted passage is gone (grid slack may leave < k-1+s-1
      // chars of its fringe, far shorter than the passage itself)
      assert(!clean.contains(dup), s"doc $id still holds the passage")
      assert(cut >= dup.length - (s - 1) - (k - 1), s"doc $id cut $cut")
      assert(cut <= dup.length + 2 * (k - 1), s"doc $id cut $cut")
      // cut chars + kept chars = original
      assert(clean.length + cut == raw(id).length)
    }
    // scrub and span report agree on the removed char count, per doc
    val spans = Dedup.substringSpansOf(docs, k, s).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.take(2).foreach { case (id, _, cut) => assert(spans(id) == cut) }
    // corpus-level conservation at sf0.01
    val real = Dedup.substringScrub(spark, sf01).collect()
    val realSpans = Dedup.substringSpans(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    real.foreach { r =>
      assert(r.getLong(2) == realSpans.getOrElse(r.getLong(0), 0L))
    }
  }

  test("normalize chain cleans controls, quotes, hyphen wraps, whitespace") {
    import spark.implicits._
    val cases = Seq(
      (1L, "Hyphen-\nated line"),
      (2L, "curly ‘quotes’ and “double”"),
      (3L, "ctrl\u0001chars\u007Fhere"),
      (4L, "  Lots   of\t\twhitespace  "),
      (5L, "already clean"))
    val got = cases.toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.normalizeChain(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "hyphenated line")
    assert(got(2L) == "curly 'quotes' and \"double\"")
    assert(got(3L) == "ctrl chars here")
    assert(got(4L) == "lots of whitespace")
    assert(got(5L) == "already clean")
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    // k=5, w=4 → any common substring of length >= 8 must share one
    val fps = TextAnalysis.fingerprintWinnow(spark, sf01).collect()
      .groupBy(_.getLong(0)).map { case (d, rows) =>
        d -> rows.map(_.getString(1)).toSet
      }
    // find two docs known to be near-identical from exact ngram dedup
    val pair = Dedup.ngramJaccardPairs(spark, sf01, minBp = 8500)
      .select("doc_a", "doc_b").head()
    val (a, b) = (pair.getLong(0), pair.getLong(1))
    assert((fps(a) & fps(b)).nonEmpty,
      s"high-Jaccard docs $a/$b share no winnow fingerprint")
    // density sanity: winnowing samples ~2/(w+1) of positions, far
    // fewer fingerprints than grams
    assert(fps.values.map(_.size).sum < 500 * 500)
  }

  test("winnow pairs: near-identical docs surface; scattered overlap doesn't") {
    val pairs = Dedup.winnowPairs(spark, sf01, minShared = 20, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the winnowing guarantee covers CONTIGUOUS shared runs — docs that
    // are near-identical (ngram Jaccard ≥ 0.95) must share many
    // fingerprints; 0.65-Jaccard scrambled-token pairs need not (and on
    // this corpus do not — that's the semantic difference between the
    // two operators, not a bug)
    val nearIdentical = Dedup.ngramJaccardPairs(spark, sf01, minBp = 9500)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nearIdentical.nonEmpty)
    assert(nearIdentical.subsetOf(pairs),
      s"missed near-identical pairs: ${nearIdentical -- pairs}")
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("token df score: shared-vocabulary docs score higher than unique-vocab docs") {
    val scores = TextAnalysis.tokenDfScore(spark, sf01)
    // df_score_micro = mean df × 1e6 ≥ 1e6 (every term appears in ≥ 1
    // doc — itself) and the integer algebra holds per row
    val rows = scores.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, sum, score) = (r.getAs[Long]("n_terms"),
        r.getAs[Long]("sum_df"), r.getAs[Long]("df_score_micro"))
      assert(score == sum * 1000000L / n, r)
      assert(score >= 1000000L, r)
    }
  }

  test("tfidf top terms: ≤3 per doc, ranked by (tf desc, df asc, term)") {
    val top = TextAnalysis.tfidfTopTerms(spark, sf01).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(top.nonEmpty)
    top.values.foreach { rows =>
      assert(rows.length <= 3)
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      val keys = sorted.map(r => (-r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[String]("term")))
      assert(keys.sorted.sameElements(keys), rows.mkString("; "))
    }
  }

  test("vocab_build: contiguous frequency-ranked ids, tf/df consistent") {
    val v = TextAnalysis.vocabBuild(spark, sf01, k = 24).collect()
    assert(v.length == 24)
    assert(v.map(_.getAs[Long]("vocab_id")).toSeq == (1L to 24L))
    // ranked by (tf desc, token asc); df never exceeds tf or the corpus
    val keys = v.map(r => (-r.getAs[Long]("tf"), r.getAs[String]("token")))
    assert(keys.sorted.sameElements(keys))
    v.foreach { r =>
      assert(r.getAs[Long]("df") <= r.getAs[Long]("tf"), r)
      assert(r.getAs[Long]("df") <= 500L, r)
    }
    // independent check of the top token
    val counts = Tables.documents(spark, sf01)
      .select(explode(split(TextAnalysis.normText(col("text")), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val best = counts.minBy { case (t, c) => (-c, t) }
    assert(v.head.getAs[String]("token") == best._1)
    assert(v.head.getAs[Long]("tf") == best._2)
  }

  test("tokenize_ids: positions reconstruct the document, OOV is exactly id 0") {
    val k = 24
    val vocab = TextAnalysis.vocabBuild(spark, sf01, k).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("vocab_id")).toMap
    val enc = TextAnalysis.tokenizeIds(spark, sf01, k).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val docs = Tables.documents(spark, sf01)
      .select(col("doc_id"), TextAnalysis.normText(col("text")).as("txt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(enc.keySet == docs.keySet)
    docs.foreach { case (id, txt) =>
      val words = txt.split(" ", -1)
      val rows = enc(id).sortBy(_.getAs[Long]("pos"))
      assert(rows.map(_.getAs[Long]("pos")).toSeq == (1L to words.length),
        s"doc $id positions")
      rows.zip(words).foreach { case (r, w) =>
        assert(r.getAs[String]("token") == w, s"doc $id pos ${r.getAs[Long]("pos")}")
        assert(r.getAs[Long]("token_id") == vocab.getOrElse(w, 0L),
          s"doc $id token $w")
      }
    }
    // the k-bounded vocab must actually leave some OOV at sf0.01
    assert(enc.values.flatten.exists(_.getAs[Long]("token_id") == 0L),
      "no OOV tokens — k covers the whole corpus, gate is vacuous")
  }

  test("embedding_quantize: codes span 0..255, reconstruction bounded by step size") {
    val rows = Ann.embeddingQuantize(spark, sf01).collect()
    val byDim = rows.groupBy(_.getAs[Int]("dim"))
    assert(byDim.size == 64)
    byDim.foreach { case (dim, rs) =>
      val mn = rs.head.getAs[Long]("mn")
      val mx = rs.head.getAs[Long]("mx")
      assert(rs.forall(r => r.getAs[Long]("mn") == mn && r.getAs[Long]("mx") == mx))
      val codes = rs.map(_.getAs[Long]("code"))
      assert(codes.forall(c => c >= 0 && c <= 255), s"dim $dim out of range")
      // the extremes of the range hit the extreme codes
      assert(codes.min == 0, s"dim $dim min code ${codes.min}")
      if (mx > mn) assert(codes.max == 255, s"dim $dim max code ${codes.max}")
    }
    // reconstruction: the original micro-unit value lies within one
    // quantization step of mn + code*(mx-mn)/255
    val micro = Tables.embeddings(spark, sf01)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x").cast("double") * lit(1000000.0)).cast("long").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val mn = r.getAs[Long]("mn")
      val mx = r.getAs[Long]("mx")
      val step = if (mx > mn) (mx - mn) / 255.0 else 0.0
      val rec = mn + r.getAs[Long]("code") * step
      val v = micro((r.getAs[Long]("vec_id"), r.getAs[Int]("dim")))
      assert(math.abs(v - rec) <= step + 1.0,
        s"vec ${r.getAs[Long]("vec_id")} dim ${r.getAs[Int]("dim")}")
    }
  }

  test("repetition score omits sub-2-word docs instead of crashing (ANSI element_at)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello"), // single word: sequence(1,0) is DESCENDING in Spark
      (2L, "   "), // whitespace-only normalizes to one empty token
      (3L, "two words")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionScoreOf(docs).collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(3L), s"short docs must be omitted, got $got")
  }

  test("repetition score flags phrase-spam, passes varied text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now " * 50), // one bigram dominates
      (2L, (1 to 100).map(i => s"w$i").mkString(" "))) // all distinct
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionScoreOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val (spamDup, spamTop) = got(1L)
    val (cleanDup, cleanTop) = got(2L)
    assert(spamDup > 9000, s"spam dup_word_bp $spamDup") // 100 words, 2 distinct
    assert(spamTop > 4900, s"spam top_bigram_bp $spamTop") // 'buy now' ~half
    assert(cleanDup == 0 && cleanTop < 200, s"clean $cleanDup/$cleanTop")
  }

  test("language id separates genuinely multilingual text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the cat and the dog of the house and the barn"),
      (2L, "de", "der Hund und die Katze und der Vogel und die Maus"),
      (3L, "es", "el perro que los gatos y el raton que los pajaros"),
      (4L, "fr", "le chat et les oiseaux et le chien et les souris"),
      (5L, "und", "xyzzy plugh quux")) // no markers at all
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.langIdOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es",
      4L -> "fr", 5L -> "und"), got.toString)
  }

  test("mm_decode parses real PNG IHDR dims, stub otherwise") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13); bb.put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w); bb.putInt(h)
      bb.put(Array[Byte](8, 6, 0, 0, 0)) // depth/color/compress/filter/interlace
      bb.array()
    }
    val recs = Seq(
      Multimodal.MmRecord(1L, png(640, 123), Multimodal.MmMeta("png", 1, 1)),
      Multimodal.MmRecord(2L, "not a png".getBytes, Multimodal.MmMeta("png", 7, 9)),
      Multimodal.MmRecord(3L, png(10, 11), Multimodal.MmMeta("jpeg", 3, 4))).toDS()
    val out = Multimodal.decodeRecords(recs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ((640, 123))) // real header wins over metadata
    assert(out(2L) == ((7, 9))) // malformed payload → metadata fallback
    assert(out(3L) == ((3, 4))) // non-png format → stub path untouched
  }

  test("jpegDims walks the marker stream to SOF0, skipping prior segments") {
    // SOI + APP0 (JFIF-style filler) + DQT filler + SOF0 — the parser
    // must skip the leading segments by declared length
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] = {
      val len = payload.length + 2
      Array(0xff.toByte, marker.toByte,
        ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
    }
    val sof = seg(0xc0, Array[Byte](8, 1, 0x04, 2, 0x03, 3) ++
      Array[Byte](1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 2)) // h=260, w=515
    val stream = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, Array.fill[Byte](14)(0x4a)) ++
      seg(0xdb, Array.fill[Byte](65)(1)) ++ sof
    assert(Multimodal.jpegDims(stream).contains((515, 260)))
    assert(Multimodal.jpegDims("nope".getBytes).isEmpty)
    assert(Multimodal.jpegDims(Array(0xff, 0xd8).map(_.toByte)).isEmpty)
  }

  test("wavInfo reads fmt/data chunks little-endian, with chunk padding") {
    val h = Multimodal.wavHeader(12345)
    val wi = Multimodal.wavInfo(h ++ Array.fill[Byte](12345)(7))
    assert(wi.contains(Multimodal.WavInfo(8000, 1, 1, 12345L)))
    assert(wi.get.frames == 12345L)
    // an odd-sized unknown chunk before fmt must be skipped with its
    // pad byte (RIFF chunks are word-aligned)
    val odd = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 0)
    val shifted = h.take(12) ++ odd ++ h.drop(12)
    assert(Multimodal.wavInfo(shifted).contains(
      Multimodal.WavInfo(8000, 1, 1, 12345L)))
    assert(Multimodal.wavInfo("RIFFxxxxNOPE".getBytes).isEmpty)
  }

  test("multimodal decode: every fixture payload parses via its real header") {
    val out = Multimodal.decode(spark, sf01).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val fmt = r.getString(1)
      assert(r.getBoolean(7), s"doc ${r.getLong(0)} ($fmt) fell back to metadata")
      if (fmt == "wav")
        // frames = data-chunk bytes = body length (block align 1)
        assert(r.getLong(8) == r.getLong(4) - 44, s"doc ${r.getLong(0)} frames")
      else
        assert(r.getLong(8) == 1L)
    }
    // header dims are offset from metadata by construction — a
    // metadata fallback would be exactly (13, 7) smaller. Reconstruct
    // the metadata dims from the body length (n_bytes − header) and
    // check the parsed dims carry the offsets.
    val img = out.find(_.getString(1) == "png").get
    val bodyLen = img.getLong(4) - 33
    assert(img.getInt(2) == (bodyLen % 640 + 1 + Multimodal.WOff).toInt)
    assert(img.getInt(3) == (bodyLen * 7 % 480 + 1 + Multimodal.HOff).toInt)
  }

  test("token_diversity: Simpson index 0 on a one-token doc, maximal " +
       "on an all-distinct doc, ordered correctly between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),            // one token: gini = 0
      (2L, "a b c d"),                        // all distinct: gini = 1 - 1/4
      (3L, "a a b b"))                        // two tokens: gini = 1 - 1/2
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenDiversityOf(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == (0L, 1000000L))         // eff vocab = 1
    assert(got(2L) == (750000L, 4000000L))    // eff vocab = 4
    assert(got(3L) == (500000L, 2000000L))    // eff vocab = 2
    // plan shape: a pure aggregation chain — no join anywhere (the
    // scale argument: linear in corpus tokens, two partial-merged aggs)
    val plan = TextAnalysis.tokenDiversity(spark, sf01)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("dsir_weights: target-language documents score above the " +
       "corpus-average ratio; the per-token weight separates domains") {
    val w = Curation.dsirWeights(spark, sf01)
    val byLang = w.groupBy("lang")
      .agg(avg("w_per_tok_micro").as("avg_w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the en slice IS the target: its average smoothed likelihood
    // ratio must exceed every other language's, and sit above 1.0
    // (a target doc's tokens are by construction more target-like)
    assert(byLang("en") > 1000000.0, s"en avg ${byLang("en")}")
    byLang.filter(_._1 != "en").foreach { case (l, a) =>
      assert(byLang("en") > a, s"en ${byLang("en")} !> $l $a")
    }
    // selection flag consistent with its definition
    val bad = w.filter(
      (col("target_like") === 1L && col("w_per_tok_micro") < 1000000L) ||
      (col("target_like") === 0L && col("w_per_tok_micro") >= 1000000L))
      .count()
    assert(bad == 0L)
    // plan shape: exactly ONE join (doc-term tf ⋈ term ratios — the
    // inverted-index width), never a cartesian of documents
    val plan = w.queryExecution.optimizedPlan.toString
    assert(plan.split("Join", -1).length - 1 == 1, plan)
  }
}
