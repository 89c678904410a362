package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** One block of vectors, materialized as primitive arrays so the
  * all-pairs loop in [[Similarity.cosineNearDupPairs]] runs on flat
  * doubles (no per-pair Catalyst HOF eval). Public: Spark's encoder
  * codegen must construct/inspect it from generated classes. */
final case class VecBlock(
    blk: Int, ids: Array[Long], vecs: Array[Array[Double]],
    nrms: Array[Double])

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, one broadcast join of the
  * (small) query set against the corpus, no shuffle of the corpus.
  * Scale path: random-hyperplane LSH bucketing — candidates share a
  * signed-projection bucket, so the quadratic cross product never forms;
  * recall is tunable via number of planes / probed buckets.
  *
  * All arithmetic is double-precision higher-order-function pipelines
  * (zip_with + aggregate) — JVM-native, no Python/scala UDF serialization.
  */
object Similarity {

  /** Sequential-fold double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity via the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]) — bit-identical to the HOF
    * formulation `dot(a,b)/(norm(a)*norm(b))` but a single fused
    * primitive loop instead of per-element lambda evaluation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus is scanned
    * once with no shuffle beyond the final per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val scored = c.join(q, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "cid", "cos")
  }

  /** Hard-negative mining for contrastive/embedding training: for
    * each query (anchor), the top-k most-similar corpus vectors with
    * a DIFFERENT label — the "close but wrong" examples a triplet or
    * InfoNCE loss wants. Same broadcast-scan shape as
    * [[bruteForceTopK]] (queries broadcast, corpus scanned once, rank
    * window rewritten to WindowGroupLimit), with the label-mismatch
    * predicate applied inside the join so same-class pairs never
    * leave the map side. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv"), col(labelCol).as("qlbl")))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      col(labelCol).as("clbl"))
    val scored = c.join(q,
        col("qid") =!= col("cid") && col("qlbl") =!= col("clbl"))
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "cid", "cos")
  }

  /** Matryoshka truncation eval: for each query's exact top-k
    * neighbors (ranked by FULL-dimension cosine), the cosine
    * recomputed on the first `truncDim` coordinates — the number an
    * embedding-compression decision reads ("how much similarity
    * survives a prefix truncation"). One broadcast scan computes both
    * cosines; ranking uses the full-dim score so the pair set equals
    * [[bruteForceTopK]]'s. */
  def matryoshkaEval(corpus: DataFrame, queries: DataFrame, k: Int,
      truncDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && truncDim >= 1,
      s"bad k=$k / truncDim=$truncDim")
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val scored = c.join(q, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv")), 6).as("cos_full"),
        round(cosine(slice(col("qv"), 1, truncDim),
          slice(col("cv"), 1, truncDim)), 6).as("cos_trunc"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_full").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("qid", "cid", "cos_full", "cos_trunc")
  }

  /** All corpus pairs with cosine >= threshold (embedding near-dup).
    * Exact O(n^2) arithmetic, organized as a triangular block-pair join:
    * vectors hash into `nBlocks` blocks, the (nBlocks choose 2)+nBlocks
    * block pairs fan out across executors, and each task runs a tight
    * primitive dot-product loop over its two blocks. Total shuffle is
    * O(n * nBlocks) vector copies (each block meets every other block),
    * the classic all-pairs triangle. Per-element arithmetic is
    * float->double cast then sequential double accumulation —
    * bit-identical to the DuckDB oracle's list_dot_product. Use LSH
    * banding instead when n^2 itself is the problem.
    *
    * Each task materializes TWO whole blocks on-heap, so block size is a
    * hard memory bound, enforced rather than documented: `nBlocks <= 0`
    * (default) derives the block count from a one-pass count x dim
    * estimate so per-task bytes stay under `maxTaskBlockBytes` (and task
    * count ~ cluster parallelism); an explicit `nBlocks` that would
    * exceed the budget is rejected with the estimated bytes. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nBlocks: Int = 0, maxTaskBlockBytes: Long = 512L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // one cheap pruned pass: row count + vector width (the O(n^2) body
    // dwarfs it). Raw payload = n * dim doubles; a block-pair task holds
    // two blocks => per-task bytes ~ 2 * payload / nBlocks.
    val probe = df.agg(count(lit(1)), max(size(col(vecCol)))).first()
    val n = probe.getLong(0)
    val dim = if (probe.isNullAt(1)) 0 else probe.getInt(1)
    val payloadBytes = n * dim.toLong * 8
    val blks =
      if (nBlocks > 0) {
        val perTask = 2L * payloadBytes / nBlocks
        require(perTask <= maxTaskBlockBytes,
          s"cosineNearDupPairs: nBlocks=$nBlocks puts ~$perTask bytes of " +
            s"vectors in one task (n=$n, dim=$dim), over the " +
            s"$maxTaskBlockBytes budget - raise nBlocks to at least " +
            s"${math.ceil(2.0 * payloadBytes / maxTaskBlockBytes).toLong} " +
            "or use LSH banding")
        nBlocks
      } else {
        val forMem = math.ceil(2.0 * payloadBytes / maxTaskBlockBytes).toLong
        val forPar = math.ceil(math.sqrt(
          2.0 * spark.sparkContext.defaultParallelism)).toLong
        math.max(1L, math.max(forMem, forPar)).toInt
      }
    val blocks = df
      .select(pmod(hash(col(idCol)), lit(blks)).as("blk"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (blk, it) =>
        val rows = it.toArray
        VecBlock(blk, rows.map(_._2), rows.map(_._3),
          rows.map(r => math.sqrt(dotD(r._3, r._3))))
      }
    val a = blocks.alias("a")
    val b = blocks.alias("b")
    a.joinWith(b, col("a.blk") <= col("b.blk"))
      .flatMap { case (ba, bb) =>
        val same = ba.blk == bb.blk
        val out = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < ba.ids.length) {
          var j = if (same) i + 1 else 0
          while (j < bb.ids.length) {
            val c = dotD(ba.vecs(i), bb.vecs(j)) / (ba.nrms(i) * bb.nrms(j))
            // cheap pre-filter; exact decimal HALF_UP (= Spark/DuckDB
            // ROUND semantics) only for survivors near/above threshold
            if (c >= threshold - 1e-9) {
              val r = BigDecimal(c)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              if (r >= threshold) {
                val (x, y) = (ba.ids(i), bb.ids(j))
                out += (if (x < y) (x, y, r) else (y, x, r))
              }
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id_a", "id_b", "cos")
  }

  /** Sequential double dot product (matches SQL engines' fold order). */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nLists` cells; each query probes only
    * its `nProbe` nearest cells, so scored candidates shrink by
    * ~nProbe/nLists while recall stays high for clustered data. The
    * centroid table is tiny (nLists x dim): fit driver-side on a bounded
    * sample, broadcast, assign per-partition, join by list id — the
    * standard FAISS-style IVF layout. Queries must be small (collected
    * for probe assignment, same contract as bruteForceTopK's broadcast).
    *
    * `trainFraction` < 1 fits the coarse quantizer on a seeded sample —
    * the scale path: k-means needs only enough points to place nLists
    * centroids (FAISS trains on ~39*nLists..256*nLists points), so at
    * 100 TB the fit must NOT iterate over the full corpus. Assignment
    * stays exact over all rows regardless. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1]: $trainFraction")

    // cast pins the element type: the per-partition assignment below
    // reads getSeq[Float], which would ClassCastException on an
    // array<double> input (e.g. l2Normalize output) without it
    val feats = corpus.select(col(idCol).as("cid"),
      col(vecCol).cast("array<float>").as("cv"))
    val trainSet =
      if (trainFraction >= 1.0) feats
      else feats.sample(withReplacement = false, trainFraction, seed)

    // FAISS-style coarse-quantizer fit: the TRAINING SAMPLE is collected
    // and Lloyd runs driver-side — k-means needs only enough points to
    // place nLists centroids (FAISS trains on ~39..256 x nLists), so the
    // sample is driver-sized BY CONTRACT (capped below) even when the
    // corpus is 100 TB; a distributed fit over the full corpus would
    // spend ~2 jobs per Lloyd iteration routing probes no better.
    // Assignment over ALL rows stays distributed (mapPartitions with
    // broadcast centroids, primitive loops).
    val maxTrainPoints = 262144
    val trainVecs = trainSet.select(col("cv").cast("array<double>"))
      .limit(maxTrainPoints).collect()
      .map(_.getSeq[Double](0).toArray)
    require(trainVecs.length >= nLists,
      s"need at least nLists=$nLists training vectors, " +
        s"got ${trainVecs.length} — raise trainFraction")
    val centers = lloyd(trainVecs, nLists, seed, iters = 10)

    val bcCenters = spark.sparkContext.broadcast(centers)
    val assigned = {
      val rdd = feats.rdd.mapPartitions { rows =>
        val cs = bcCenters.value
        rows.map { r =>
          val v = r.getSeq[Float](1).toArray
          org.apache.spark.sql.Row(r.get(0), r.get(1), nearestCenter(cs, v))
        }
      }
      spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(
        feats.schema.fields :+ org.apache.spark.sql.types.StructField(
          "list", org.apache.spark.sql.types.IntegerType, nullable = false)))
    }
    val probes = queries.select(col(idCol).cast("long").as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
      .collect()
      .flatMap { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Double](1).toArray
        centers.indices
          .sortBy { c =>
            var s = 0.0; var j = 0
            val cv = centers(c)
            while (j < qv.length) {
              val dd = qv(j) - cv(j); s += dd * dd; j += 1
            }
            s
          }
          .take(nProbe)
          .map(list => (qid, qv.map(_.toFloat), list))
      }.toSeq.toDF("qid", "qv", "list")

    assigned.join(broadcast(probes), "list")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select("qid", "cid", "cos")
  }

  /** Driver-side Lloyd for the IVF coarse quantizer: seeded k-means++
    * init (D^2 sampling — random init places notably worse routing
    * centroids on near-uniform embeddings), empty clusters keep their
    * previous center. O(iters * n * k * dim) on a sample bounded by
    * `ivfTopK`'s `maxTrainPoints` — milliseconds where a distributed
    * k-means pays ~2 Spark jobs per iteration for centroids that only
    * route probes. */
  private[operators] def lloyd(xs: Array[Array[Double]], k: Int,
      seed: Long, iters: Int): Array[Array[Double]] = {
    val dim = xs(0).length
    val rng = new Random(seed)
    // k-means++ seeding
    val centers = new Array[Array[Double]](k)
    centers(0) = xs(rng.nextInt(xs.length)).clone
    val minD = Array.fill(xs.length)(Double.MaxValue)
    var ci = 1
    while (ci < k) {
      val prev = centers(ci - 1)
      var i = 0
      var total = 0.0
      while (i < xs.length) {
        val x = xs(i)
        var d = 0.0; var j = 0
        while (j < dim) { val dd = x(j) - prev(j); d += dd * dd; j += 1 }
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      var pick = rng.nextDouble() * total
      var sel = xs.length - 1
      i = 0
      var acc = 0.0
      while (i < xs.length && sel == xs.length - 1) {
        acc += minD(i)
        if (acc >= pick) sel = i
        i += 1
      }
      centers(ci) = xs(sel).clone
      ci += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, dim)
      val cnts = new Array[Long](k)
      var i = 0
      while (i < xs.length) {
        val x = xs(i)
        val c = nearestCenterD(centers, x)
        val s = sums(c)
        var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
        cnts(c) += 1
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          val s = sums(c)
          var j = 0
          while (j < dim) { s(j) /= cnts(c); j += 1 }
          centers(c) = s
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  private def nearestCenterD(cs: Array[Array[Double]], v: Array[Double])
      : Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      var d = 0.0; var j = 0
      while (j < v.length) { val dd = v(j) - ctr(j); d += dd * dd; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private[operators] def nearestCenter(cs: Array[Array[Double]],
      v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      var d = 0.0; var j = 0
      while (j < v.length) { val dd = v(j) - ctr(j); d += dd * dd; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** ORACLE-DETERMINISTIC distributed Lloyd k-means over the corpus —
    * the document-clustering surface (curriculum buckets, per-cluster
    * sampling caps, SemDeDup-style within-cluster dedup all consume
    * these assignments). Every arithmetic step is partitioning- AND
    * engine-independent (the [[Graph.pageRank]] discipline), so an ANSI
    * engine replays the full iteration bit-for-bit:
    *
    *  - init: the `k` lowest-id vectors (no RNG);
    *  - distance: left fold of the SORTED per-dim squared diffs,
    *    rounded 4dp — sum order fixed on every engine;
    *  - assignment: argmin with smallest-cluster-index tie-break
    *    (lexicographic struct min over (dist, j));
    *  - update: per-(cluster, dim) mean via sorted-fold sum / count,
    *    rounded 8dp; an emptied cluster keeps its previous centroid;
    *  - `iters` fixed Lloyd rounds, then a final assignment pass.
    *
    * Scale shape: the corpus is persisted once as double vectors; each
    * round is one map (k x dim literal distance expressions — no join,
    * centroids ride in the plan like [[planes]]) plus one
    * posexplode + groupBy(cluster, dim) aggregation whose result is
    * k x dim rows to the driver. The production coarse quantizer for
    * routing stays [[lloyd]] on a bounded sample (k-means++, RNG) —
    * this exact flavor is the verification surface, exactly like
    * zorderBuckets vs zorderRepartition. */
  def kmeansAssignExact(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val (base, cents) = lloydExact(emb, idCol, vecCol, k, iters)
    base.withColumn("cluster", assignExactCol(cents))
      .select(col("vid").as(idCol), col("cluster").cast("long").as("cluster"))
  }

  /** Sorted-fold squared distance from the cached `v` column to a
    * centroid literal — the oracle-deterministic distance shared by
    * the exact Lloyd family. */
  private def distExactTo(c: Seq[Double]): Column =
    aggregate(
      sort_array(zip_with(col("v"), array(c.map(lit): _*),
        (x, y) => (x - y) * (x - y))),
      lit(0.0), (acc, t) => acc + t)

  /** Argmin cluster index over centroid literals: lexicographic struct
    * min over (round(dist,4), j) — ties go to the lowest cluster. */
  private def assignExactCol(cents: IndexedSeq[Seq[Double]]): Column =
    array_min(array(cents.zipWithIndex.map { case (c, j) =>
      struct(round(distExactTo(c), 4).as("d"), lit(j).as("j"))
    }: _*)).getField("j")

  /** The deterministic Lloyd loop behind [[kmeansAssignExact]] and
    * [[silhouetteExact]]: returns the cached `(vid, v)` corpus and the
    * final centroids (init = k lowest-id vectors; per-round update =
    * sorted-fold mean rounded 8dp; an emptied cluster keeps its
    * previous centroid). */
  private def lloydExact(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, IndexedSeq[Seq[Double]]) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 0, s"iters must be >= 0: $iters")
    val base = TrackedCaches.persist(
      emb.select(col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    var cents: IndexedSeq[Seq[Double]] = base.orderBy("vid").limit(k)
      .collect().map(_.getSeq[Double](1)).toIndexedSeq
    require(cents.length == k, s"fewer than $k vectors in the corpus")
    for (_ <- 1 to iters) {
      val upd = base.withColumn("cl", assignExactCol(cents))
        .select(col("cl"), posexplode(col("v")))
        .groupBy("cl", "pos")
        .agg(round(
          aggregate(sort_array(collect_list(col("col"))), lit(0.0),
            (acc, t) => acc + t) / count(lit(1)), 8).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          cl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.indices.map(j => upd.getOrElse(j, cents(j)))
    }
    (base, cents)
  }

  /** Per-vector cosine to its LABEL's centroid — the intra-class
    * cohesion readout ("are my labels embedding-coherent?") run before
    * trusting labels for supervised filtering. Centroids are per-
    * (label, dim) means computed with the [[kmeansAssignExact]] update
    * discipline (sorted-fold sums, rounded 8dp — engine-replayable);
    * the per-row cosine folds the dims in INDEX order, identical on
    * any engine, rounded 6dp. Output: `(id, label, cos_centroid)` —
    * per-vector rows, no cross-row float sums; class means are a
    * trivial downstream aggregate.
    *
    * Scale shape: one posexplode + (label, dim) aggregate (labels ×
    * dims rows), one broadcast join back, one map. */
  def labelCohesion(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val base = emb
      .filter(col(labelCol).isNotNull)
      .select(col(idCol).as("vid"), col(labelCol).as("lbl"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
    val cents = base
      .select(col("lbl"), posexplode(col("v")))
      .groupBy("lbl", "pos")
      .agg(round(
        aggregate(sort_array(collect_list(col("col"))), lit(0.0),
          (acc, t) => acc + t) / count(lit(1)), 8).as("m"))
      .groupBy("lbl")
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("__pm"))
      .select(col("lbl"),
        transform(col("__pm"), p => p.getField("m")).as("c"))
    val dot = aggregate(zip_with(col("v"), col("c"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t)
    val qv = aggregate(transform(col("v"), x => x * x), lit(0.0),
      (acc, t) => acc + t)
    val qc = aggregate(transform(col("c"), x => x * x), lit(0.0),
      (acc, t) => acc + t)
    base.join(broadcast(cents), Seq("lbl"))
      .select(col("vid").as(idCol), col("lbl").as(labelCol),
        round(when(qv > 0 && qc > 0, dot / (sqrt(qv) * sqrt(qc)))
          .otherwise(lit(0.0)), 6).as("cos_centroid"))
  }

  /** Simplified (centroid-based) silhouette per vector over the SAME
    * deterministic Lloyd clustering as [[kmeansAssignExact]] — the
    * standard "are my clusters tight and separated" readout at the
    * only cost that scales (full silhouette is O(n²); the
    * centroid-distance variant is the accepted large-n form and is
    * map-only given the k centroid literals). Per vector:
    * `a` = Euclidean distance to its own centroid, `b` = distance to
    * the nearest OTHER centroid, silhouette = (b − a)/max(a, b)
    * (0 when both are 0). Output:
    * `(id, cluster, a_dist, b_dist, silhouette)` — per-vector rows, so
    * every value is a deterministic per-row expression (sorted-fold
    * squared distances rounded 4dp like the assignment, sqrt, ratios
    * off the ROUNDED 6dp distances — no cross-row float sums
    * anywhere); cluster means are one trivial aggregate downstream.
    *
    * Scale shape: the Lloyd rounds as in [[kmeansAssignExact]], then
    * ONE map over the corpus with a k-entry sorted distance array in
    * the plan. */
  def silhouetteExact(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2 clusters: $k")
    val (base, cents) = lloydExact(emb, idCol, vecCol, k, iters)
    val darr = array_sort(array(cents.zipWithIndex.map { case (c, j) =>
      struct(round(distExactTo(c), 4).as("d"), lit(j).as("j"))
    }: _*))
    val a = round(sqrt(element_at(darr, 1).getField("d")), 6)
    val b = round(sqrt(element_at(darr, 2).getField("d")), 6)
    base.select(col("vid").as(idCol),
        element_at(darr, 1).getField("j").cast("long").as("cluster"),
        a.as("a_dist"), b.as("b_dist"))
      .withColumn("silhouette",
        round(when(greatest(col("a_dist"), col("b_dist")) > 0,
          (col("b_dist") - col("a_dist")) /
            greatest(col("a_dist"), col("b_dist")))
          .otherwise(lit(0.0)), 6))
  }

  /** Product-quantization codes: split each vector into `m` contiguous
    * subspaces and assign every subvector to its nearest of `k`
    * per-subspace centroids ([[kmeansAssignExact]] per slice — the
    * oracle-deterministic Lloyd). PQ is THE memory-bound ANN scale
    * technique: 64 floats (256 B) compress to `m` byte codes, and
    * asymmetric distance against a query is `m` table lookups over the
    * same codes — at 100 TB the code table is what fits in RAM when
    * the vectors don't. Output: `(id, c0..c{m-1})`, one long code per
    * subspace.
    *
    * Scale shape: `m` independent slice-projected kmeans runs (each
    * map-only per round with centroids as plan literals, k x subdim
    * collect per round) joined back on the id — the join keys are
    * co-partitioned projections of the SAME cached frame. Codebook
    * training on the full corpus is the exact flavor; production
    * trains on a bounded sample exactly like [[ivfTopK]]'s router. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, k: Int = 8, iters: Int = 2, dim: Int = 64)
      : DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    // the m sub-space Lloyd loops are INDEPENDENT (disjoint slices of
    // the same corpus) but each runs iters+1 sequential driver-side
    // jobs — overlap them from a small thread pool (guide §2.6) so one
    // subspace's argmin collect back-fills the cores another's tail
    // leaves idle (r14; sequential they serialized m x (iters+2) tiny
    // jobs). Results are unchanged: each loop is a pure function of
    // its slice.
    // r15 (advisor note): a DEDICATED m-sized pool, not the global EC —
    // each future blocks on Spark actions (the per-iteration argmin
    // collects), and m blocked threads on the shared global pool could
    // starve unrelated work (or deadlock if pqCodes were ever called
    // FROM the global EC). A bounded Await (vs Duration.Inf) turns a
    // hung subspace into a diagnosable timeout instead of a wedged
    // driver; generous because it bounds hangs, not honest work.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val parts = (0 until m).map { s =>
        Future {
          kmeansAssignExact(
            emb.select(col(idCol),
              slice(col(vecCol), s * sub + 1, sub).as("sv")),
            idCol, "sv", k, iters)
            .select(col(idCol), col("cluster").as(s"c$s"))
        }
      }
      Await.result(Future.sequence(parts), 1.hour)
        .reduce(_.join(_, idCol))
    } finally pool.shutdown()
  }

  /** Deterministic random hyperplanes (seeded driver-side, inlined as
    * plan literals — tiny: nPlanes x dim doubles). `private[graft]` so
    * the oracle harness can inline the SAME plane values into its SQL
    * (q_ann_lsh_buckets replays the signed projections in DuckDB). */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long)
      : Seq[Array[Double]] = {
    val rng = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Signed-random-projection bucket id for each vector: bit j = sign of
    * <v, plane_j>. Shuffle-free projection; same seed => same buckets. */
  def lshBucket(vecCol: Column, nPlanes: Int, dim: Int, seed: Long): Column =
    planes(nPlanes, dim, seed).zipWithIndex.map { case (p, j) =>
      val proj = aggregate(
        zip_with(vecCol, array(p.map(lit): _*),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k: exact cosine ranking within LSH buckets. Each
    * vector is compared only to same-bucket vectors — at scale this is
    * the difference between a cross join and an equi-join. Recall loses
    * only cross-bucket neighbors; raise recall by lowering nPlanes or
    * multi-probing (union of several seeds). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = lshBucket(col("v"), nPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("v"))
      .withColumn("bkt", bucket).withColumnRenamed("v", "cv")
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("v"))
      .withColumn("bkt", bucket).withColumnRenamed("v", "qv"))
    val cA = c.as("c")
    val qA = q.as("q")
    cA.join(qA,
        col("q.qid") =!= col("c.cid") && col("q.bkt") === col("c.bkt"))
      .select(col("q.qid").as("qid"), col("c.cid").as("cid"),
        round(cosine(col("q.qv"), col("c.cv")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select("qid", "cid", "cos")
  }

  /** Mutual nearest neighbors within LSH buckets — pairs where each
    * vector is the OTHER's best same-bucket cosine match, the classic
    * high-precision filter on ANN candidates (a one-way best match is
    * often a hub artifact; a mutual one is a genuine pairing). Best
    * picks use the composite `(cos desc, id)` order so ties are
    * deterministic; each mutual pair is emitted once (`id_a < id_b`).
    * Scale rides the same bucket equi-join bound as [[lshTopK]] /
    * [[semanticDedup]] — never a corpus cross join. */
  def mutualNearestNeighbors(df: DataFrame, nPlanes: Int = 4,
      dim: Int = 64, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bkt", lshBucket(col("v"), nPlanes, dim, seed))
    val l = b.select(col("id").as("ida"), col("v").as("va"),
      col("bkt"))
    val r = b.select(col("id").as("idb"), col("v").as("vb"),
      col("bkt").as("bktb"))
    // persist the per-node best match (r14): the mutuality check joins
    // `best` against its own reversal, so uncached the bucket join +
    // rank window ran twice. Frame is node-sized (one row per id).
    val best = TrackedCaches.persist(l.join(r,
        col("bkt") === col("bktb") && col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("ida")
          .orderBy(col("cos").desc, col("idb"))))
      .filter(col("__rk") === 1)
      .select("ida", "idb", "cos"))
    // reversed copy with EVERY column renamed (the self-join lineage
    // convention): mutual = best(a)=b AND best(b)=a
    val rev = best.select(col("ida").as("__rb"), col("idb").as("__ra"))
    best.join(rev,
        col("ida") === col("__ra") && col("idb") === col("__rb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id_a"), col("idb").as("id_b"), col("cos"))
      .orderBy("id_a")
  }

  /** LSH-layered k-NN GRAPH construction — the prebuilt neighbor graph
    * a graph-ANN (HNSW-class) search walks. Per hash layer (one seed
    * each), every vector keeps its top-`degree` same-bucket cosine
    * neighbors (deterministic `(cos 6dp desc, id asc)` order); layers
    * union and the graph is made undirected. MULTIPLE layers are the
    * point: a single signed-projection layer can only connect
    * same-bucket nodes, but different seeds cut the space differently,
    * so the union is cross-bucket-navigable — beam search can reach
    * true neighbors no single probe finds.
    *
    * Scale: each layer is the [[lshTopK]] bucket equi-join (never a
    * cross join), the rank pre-trims via WindowGroupLimit, and the
    * edge list is at most `2 * degree * layers * n` rows. Construction
    * is the expensive half of graph ANN everywhere (HNSW inserts are
    * sequential); this distributed bucket formulation is the honest
    * batch equivalent, trading HNSW's long-range links for hash-layer
    * diversity. */
  def nnGraph(df: DataFrame, degree: Int = 4, nPlanes: Int = 4,
      dim: Int = 64, seeds: Seq[Long] = Seq(42L, 43L),
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(degree >= 1 && degree <= 64, s"bad degree: $degree")
    require(seeds.nonEmpty && seeds.size <= 8,
      s"bad layer count: ${seeds.size}")
    // same kernel as the stored-index family so the direct build and
    // nnGraphLayered+flatten cannot drift
    val layers = seeds.map { s =>
      layerEdges(df, df, degree, nPlanes, dim, s, idCol, vecCol)
        .select("src", "dst")
    }
    undirect(layers.reduce(_ unionAll _))
  }

  /** Both directions of a directed edge list in ONE pass (explode),
    * deduplicated — replaces the `e.unionAll(e.select(dst, src))`
    * idiom, which referenced the (expensive — bucket join + rank
    * window per layer) edge computation TWICE and therefore ran it
    * twice (r14; the symEdges lesson from Graph.scala). Same row
    * multiset, so `distinct()` output is unchanged. */
  private def undirect(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()

  /** `(id, v, bkt)` projection of a corpus under one hash layer — the
    * bucket column computed ONCE so downstream joins are plain
    * equi-joins, not expression re-evaluations. */
  private def bucketed(df: DataFrame, nPlanes: Int, dim: Int,
      seed: Long, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bkt", lshBucket(col("v"), nPlanes, dim, seed))

  /** Directed top-`degree` same-bucket adjacency over pre-bucketed
    * frames — the shared kernel of [[nnGraph]] and the
    * incremental-maintenance family. */
  private def topDegreeEdges(lb: DataFrame, rb: DataFrame,
      degree: Int): DataFrame = {
    val l = lb.select(col("id").as("src"), col("v").as("sv"), col("bkt"))
    val r = rb.select(col("id").as("dst"), col("v").as("dv"),
      col("bkt").as("bktd"))
    l.join(r, col("bkt") === col("bktd") && col("src") =!= col("dst"))
      .select(col("bkt"), col("src"), col("dst"),
        round(cosine(col("sv"), col("dv")), 6).as("cos"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))))
      .filter(col("__rk") <= degree)
      .select("bkt", "src", "dst")
  }

  private def layerEdges(lhs: DataFrame, rhs: DataFrame, degree: Int,
      nPlanes: Int, dim: Int, seed: Long, idCol: String,
      vecCol: String): DataFrame =
    topDegreeEdges(bucketed(lhs, nPlanes, dim, seed, idCol, vecCol),
      bucketed(rhs, nPlanes, dim, seed, idCol, vecCol), degree)

  /** STORED-INDEX flavor of [[nnGraph]]: the per-layer directed
    * top-`degree` adjacency `(layer, bkt, src, dst)` BEFORE the
    * flatten — the format the incremental maintenance operators
    * ([[nnGraphUpsert]], [[nnGraphDelete]]) update in place. The
    * carried `bkt` (src's bucket in that layer) is what makes
    * maintenance a map-side prune: touched rows select by a broadcast
    * bucket-list filter, no corpus join. [[flattenNnGraph]] of this
    * frame equals [[nnGraph]] exactly (NnGraphMaintenanceSpec). */
  def nnGraphLayered(df: DataFrame, degree: Int = 4, nPlanes: Int = 4,
      dim: Int = 64, seeds: Seq[Long] = Seq(42L, 43L),
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(degree >= 1 && degree <= 64, s"bad degree: $degree")
    require(seeds.nonEmpty && seeds.size <= 8,
      s"bad layer count: ${seeds.size}")
    seeds.zipWithIndex.map { case (s, i) =>
      layerEdges(df, df, degree, nPlanes, dim, s, idCol, vecCol)
        .select(lit(i).as("layer"), col("bkt"), col("src"), col("dst"))
    }.reduce(_ unionAll _)
  }

  /** The beam-searchable undirected edge set of a layered index —
    * identical to what [[nnGraph]] builds directly. */
  def flattenNnGraph(layered: DataFrame): DataFrame =
    undirect(layered.select(col("src"), col("dst")))

  /** INCREMENTAL index maintenance — fold a batch of NEW vectors into
    * an existing layered index without an O(corpus) rebuild: the
    * daily-append contract of a 100 TB embedding pipeline, the exact
    * mirror of the manifest-based incremental dedup. Per layer, edges
    * live only within a bucket, so the ONLY rows a new batch can
    * change are those in buckets the batch lands in: untouched-bucket
    * rows are kept verbatim via a broadcast bucket-list filter
    * (map-side, no join), and touched buckets are recomputed over
    * their full membership — which makes the result EQUAL, row for
    * row, to `nnGraphLayered(old ++ fresh)` (all scoring is 6dp +
    * id-tiebreak deterministic; the oracle replays the full rebuild).
    *
    * Touch cost ∝ occupancy of touched buckets, not corpus size: the
    * recompute side prunes both corpus scans by the broadcast bucket
    * list, so a corpus table written partitioned/bucketed by bucket id
    * reads only the touched partitions. `fresh` ids must be disjoint
    * from `corpus` ids (the usual append contract; violations surface
    * as duplicate src rows). Plane count is PINNED at index creation —
    * the layout is versioned like any IVF/LSH index; use
    * [[graphIndexStale]] as the measured rebuild trigger when
    * occupancy drifts. */
  def nnGraphUpsert(layered: DataFrame, corpus: DataFrame,
      fresh: DataFrame, degree: Int = 4, nPlanes: Int = 4,
      dim: Int = 64, seeds: Seq[Long] = Seq(42L, 43L),
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(degree >= 1 && degree <= 64, s"bad degree: $degree")
    val full = corpus.select(col(idCol), col(vecCol))
      .unionAll(fresh.select(col(idCol), col(vecCol)))
    seeds.zipWithIndex.map { case (s, i) =>
      // the batch's bucket list: small (<= batch size), broadcastable
      val touched = fresh
        .select(lshBucket(col(vecCol), nPlanes, dim, s).as("bkt"))
        .distinct()
      val kept = layered.filter(col("layer") === i)
        .join(broadcast(touched), Seq("bkt"), "left_anti")
      // one corpus scan: hash each row's bucket ONCE, broadcast-semi
      // down to the touched footprint, and MATERIALIZE it — the
      // candidate set is batch-footprint-sized (<= |batch| buckets x
      // occupancy), and the self-join below must not re-run the scan
      // + hash once per side
      val inTouched = bucketed(full, nPlanes, dim, s, idCol, vecCol)
        .join(broadcast(touched), Seq("bkt"), "left_semi")
        .localCheckpoint()
      val recomputed = topDegreeEdges(inTouched, inTouched, degree)
        .select(lit(i).as("layer"), col("bkt"), col("src"), col("dst"))
      kept.select("layer", "bkt", "src", "dst").unionAll(recomputed)
    }.reduce(_ unionAll _)
  }

  /** Incremental DELETE: drop `dead` ids from a layered index and heal
    * the adjacency. Edges only exist within a bucket, so every row a
    * deletion can invalidate (a dead src, or a live src whose list
    * references a dead dst) lives in one of the dead nodes' buckets —
    * recomputing exactly those buckets over their surviving members
    * reproduces `nnGraphLayered(corpus minus dead)` row for row. Same
    * broadcast-prune cost shape as [[nnGraphUpsert]]. `dead` is a
    * one-column frame of ids. */
  def nnGraphDelete(layered: DataFrame, corpus: DataFrame,
      dead: DataFrame, degree: Int = 4, nPlanes: Int = 4,
      dim: Int = 64, seeds: Seq[Long] = Seq(42L, 43L),
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val deadIds = dead.select(col(dead.columns.head).as("__dead"))
    val survivors = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(deadIds), col(idCol) === col("__dead"),
        "left_anti")
    seeds.zipWithIndex.map { case (s, i) =>
      val touched = corpus
        .join(broadcast(deadIds), col(idCol) === col("__dead"),
          "left_semi")
        .select(lshBucket(col(vecCol), nPlanes, dim, s).as("bkt"))
        .distinct()
      val kept = layered.filter(col("layer") === i)
        .join(broadcast(touched), Seq("bkt"), "left_anti")
      // same one-scan + materialize discipline as the upsert path
      val inTouched = bucketed(survivors, nPlanes, dim, s, idCol,
        vecCol)
        .join(broadcast(touched), Seq("bkt"), "left_semi")
        .localCheckpoint()
      val recomputed = topDegreeEdges(inTouched, inTouched, degree)
        .select(lit(i).as("layer"), col("bkt"), col("src"), col("dst"))
      kept.select("layer", "bkt", "src", "dst").unionAll(recomputed)
    }.reduce(_ unionAll _)
  }

  /** Measured REBUILD TRIGGER for a pinned-layout index: one row
    * `(n_vectors, current_planes, recommended_planes, stale)` where
    * `recommended` is the [[occupancyPlanes]] derivation on today's
    * corpus. Incremental maintenance holds the bucket layout fixed
    * (it must — changing planes moves every bucket boundary), so
    * occupancy drifts as the corpus grows; this is the cheap periodic
    * check that says when the O(corpus) rebuild is actually due. */
  def graphIndexStale(df: DataFrame, currentPlanes: Int,
      targetOccupancy: Int = 128, dim: Int = 64, seed: Long = 42L,
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val rec = occupancyPlanes(df, n, targetOccupancy, dim, seed, vecCol)
    Seq((n, currentPlanes, rec, rec > currentPlanes))
      .toDF("n_vectors", "current_planes", "recommended_planes", "stale")
  }

  /** [[nnGraph]] with the per-layer plane count DERIVED from a cheap
    * corpus count so expected bucket occupancy stays near
    * `targetOccupancy` — the [[semanticDedupAuto]] discipline. A FIXED
    * plane count is quadratic in disguise: within-bucket pair work is
    * O(sum occupancy^2), and the round-12 fresh-DGP rehearsal measured
    * the fixed-4-plane build at exponent 1.61 (7.7 s -> 312 s at 10x,
    * 50k vectors / 16 buckets = 3125^2 x 16 x layers pairs) versus the
    * bounded-occupancy build's sublinear decade. Use THIS at scale;
    * the fixed-plane flavor remains for small oracle-pinned corpora
    * where the plane literals are inlined into the SQL twin. */
  def nnGraphAuto(df: DataFrame, degree: Int = 4,
      targetOccupancy: Int = 128, dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L), idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(targetOccupancy >= 8, s"bad targetOccupancy: $targetOccupancy")
    val n = df.count()
    val nPlanes = math.min(24, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt))
    nnGraph(df, degree, nPlanes, dim, seeds, idCol, vecCol)
  }

  /** [[nnGraph]] with MULTI-PROBE candidate generation — the recall
    * lever for graph ANN (classic multi-probe LSH, Lv et al. 2007,
    * applied at graph-BUILD time where graph search recall is won).
    * Per layer, each vector's edge candidates come not only from its
    * own signed-projection bucket but also from the `probes` buckets
    * reached by flipping its LEAST-CONFIDENT hash bits — the planes
    * with the smallest |projection| margin, i.e. the boundaries a true
    * neighbor most likely sits just across. Candidate pool per node is
    * (1+probes) x occupancy, still bucket-bounded — never a cross
    * join.
    *
    * Deterministic and SQL-replayable: the flip choice ranks planes by
    * `(round(|proj|, 6) asc, plane-index asc)` — the quantized-key
    * discipline every cross-engine ordering in this library rides —
    * and edges keep the usual `(cos 6dp desc, id asc)` top-`degree`.
    * Measured on the clustered rehearsal DGP (32 centroids, the shape
    * real embeddings have): recall@5 jumps from the single-probe
    * build's because same-cluster neighbors split by one marginal
    * hyperplane get reconnected; see MultiProbeAnnSpec and the
    * ScaleRehearsal `ann_graph_mp_recall` leg. */
  def nnGraphMultiProbe(df: DataFrame, degree: Int = 4,
      nPlanes: Int = 4, dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L), probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(degree >= 1 && degree <= 64, s"bad degree: $degree")
    require(probes >= 1 && probes <= nPlanes,
      s"need 1 <= probes <= nPlanes: $probes vs $nPlanes")
    require(seeds.nonEmpty && seeds.size <= 8,
      s"bad layer count: ${seeds.size}")
    val layers = seeds.map { s =>
      val projArr = array(planes(nPlanes, dim, s).map { p =>
        aggregate(zip_with(col("v"), array(p.map(lit): _*),
          (x, w) => x.cast("double") * w), lit(0.0), (acc, v) => acc + v)
      }: _*)
      val b = df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("bkt", lshBucket(col("v"), nPlanes, dim, s))
      // 1L << j as an exact literal chain (no float pow, no dynamic
      // shift): j is bounded by nPlanes <= 24
      val bit = (0 until nPlanes).map(j =>
        when(col("j") === j, lit(1L << j))).reduce(coalesce(_, _))
      val flips = b
        .select(col("id"), col("v"), col("bkt"),
          posexplode(projArr).as(Seq("j", "proj")))
        .withColumn("__rk", row_number().over(Window.partitionBy("id")
          .orderBy(round(abs(col("proj")), 6), col("j"))))
        .filter(col("__rk") <= probes)
        .select(col("id"), col("v"), col("bkt").bitwiseXOR(bit).as("pbkt"))
      // base bucket + flipped buckets; a flip always differs from the
      // base and two flips differ from each other, so no distinct
      val probed = b.select(col("id"), col("v"), col("bkt").as("pbkt"))
        .unionAll(flips)
      val r = b.select(col("id").as("dst"), col("v").as("dv"),
        col("bkt").as("bktd"))
      probed.join(r,
          col("pbkt") === col("bktd") && col("id") =!= col("dst"))
        .select(col("id").as("src"), col("dst"),
          round(cosine(col("v"), col("dv")), 6).as("cos"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))))
        .filter(col("__rk") <= degree)
        .select("src", "dst")
    }
    undirect(layers.reduce(_ unionAll _))
  }

  /** Plane count derived from the MEASURED bucket-occupancy tail, not
    * the balanced-split expectation. The expectation formula
    * (log2(n/target)) assumes signed projections split evenly — true
    * for centered near-random vectors, FALSE for clustered corpora
    * (the shape real embeddings have): a cluster's members agree with
    * its centroid on every plane that doesn't cut the cluster, so
    * whole clusters land in one bucket and within-bucket pair work
    * grows quadratically in cluster size no matter what n/target
    * says. Measured on the clustered rehearsal DGP: the
    * expectation-derived build read decade exponent 0.83; bounding the
    * observed p99 occupancy restores the bucket-bounded contract.
    *
    * Escalation is a handful of cheap count jobs: start at the
    * expectation estimate, measure the p99 bucket occupancy, and jump
    * by log2(excess) planes until p99 <= slack x target or the 24-bit
    * cap. Deterministic: a pure function of (corpus, seed) — at the
    * oracle test SFs the near-balanced testdata never escalates, so
    * the inlined 4-plane SQL twins replay unchanged. */
  private[graft] def occupancyPlanes(df: DataFrame, n: Long,
      targetOccupancy: Int, dim: Int, seed: Long, vecCol: String,
      slack: Int = 4): Int = {
    var p = math.min(24, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt))
    // empty corpus: no buckets to measure (the percentile aggregate
    // would be null) — the expectation estimate, floored at 4, is the
    // answer, exactly as the pre-measurement derivation returned
    if (n <= 0) return p
    val bound = slack.toLong * targetOccupancy
    while (p < 24) {
      // EXACT percentile, not approx_percentile: the grouped frame is
      // at most 2^p rows, and approx_percentile is not
      // partition-invariant — near the slack boundary an approximate
      // tail could flip the derived plane count run-to-run, breaking
      // the documented pure-function-of-(corpus, seed) contract the
      // inlined-literal oracles replay against
      val occ99 = math.ceil(df
        .select(lshBucket(col(vecCol), p, dim, seed).as("bkt"))
        .groupBy("bkt").count()
        .agg(expr("percentile(count, 0.99)"))
        .head().getDouble(0)).toLong
      if (occ99 <= bound) return p
      p += math.max(1, math.ceil(
        math.log(occ99.toDouble / bound) / math.log(2.0)).toInt)
    }
    24
  }

  /** [[nnGraphMultiProbe]] with the plane count derived from the
    * measured occupancy tail ([[occupancyPlanes]]) and the probe
    * count widened alongside: every escalation past the expectation
    * estimate means hyperplanes are cutting clusters, and each cut
    * plane is a boundary a true neighbor sits just across — so probe
    * one extra flip per two extra planes (capped at 4) to buy the
    * recall back that the deeper split spends. */
  def nnGraphMultiProbeAuto(df: DataFrame, degree: Int = 4,
      targetOccupancy: Int = 128, dim: Int = 64,
      seeds: Seq[Long] = Seq(42L, 43L), probes: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(targetOccupancy >= 8, s"bad targetOccupancy: $targetOccupancy")
    val n = df.count()
    val expect = math.min(24, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt))
    val nPlanes = occupancyPlanes(df, n, targetOccupancy, dim,
      seeds.head, vecCol)
    val p = math.min(4, math.max(probes, probes + (nPlanes - expect) / 2))
    // escalation past the expectation estimate means the corpus is
    // cluster-skewed: add one extra hash layer (a different random
    // cut of the space) alongside the extra probes — layer diversity
    // recovers neighbors that every probe of one layer still misses
    val s = if (nPlanes > expect && seeds.size < 8)
      seeds :+ (seeds.max + 1L) else seeds
    nnGraphMultiProbe(df, degree, nPlanes, dim, s,
      math.min(p, nPlanes), idCol, vecCol)
  }

  /** Beam search over a prebuilt neighbor graph ([[nnGraph]]) — the
    * HNSW-style query path as ITERATIVE BOUNDED JOINS: each round
    * expands the beam by one graph hop (beam join edges), scores the
    * candidates exactly, and keeps the top `beamWidth` per query by
    * `(cos 6dp desc, id asc)`. Queries are corpus-internal and
    * self-seeded (the entry point is the query's own node). After
    * `rounds` hops the top `k` non-self beam members are the answer.
    *
    * Every round is (beam x degree)-bounded — never a cross join (the
    * plan spec asserts it) — and cut with localCheckpoint (the
    * iterative-loop lineage discipline). Fully deterministic: rounded
    * scores, id tiebreaks, so the result replays exactly in SQL as an
    * unrolled CTE chain — a graph-ANN whose approximate answer is
    * still a pure function of (corpus, seeds). */
  def graphBeamSearch(corpus: DataFrame, queries: DataFrame,
      graph: DataFrame, k: Int, beamWidth: Int = 8, rounds: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1 && beamWidth > k,
      s"need beamWidth > k: $beamWidth <= $k")
    require(rounds >= 1 && rounds <= 8, s"bad rounds: $rounds")
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qv")))
    val cv = corpus.select(col(idCol).as("node"), col(vecCol).as("nv"))
    // persist the edge set (r14): `graph` is typically the EXPENSIVE
    // index build (per-layer bucket join + rank window) and each hop
    // round joins it again — uncached, the build re-ran once per round
    // (measured at sf0.1: the multi-probe build is ~2.5 s of the 5.4 s
    // q_ann_graph_mp_topk; rounds = 2 paid it twice). Shared registry
    // so harnesses can release it.
    val g = TrackedCaches.persist(graph.select(col("src"), col("dst")))
    val rank = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("node"))
    var beam = q.select(col("qid"), col("qid").as("node"))
    var scored: DataFrame = null
    for (r <- 1 to rounds) {
      val cand = beam.unionAll(
          beam.join(g, col("node") === col("src"))
            .select(col("qid"), col("dst").as("node")))
        .distinct()
      scored = cand.join(cv, Seq("node")).join(q, Seq("qid"))
        .select(col("qid"), col("node"),
          round(cosine(col("qv"), col("nv")), 6).as("cos"))
      // the final answer reads the LAST round's scored candidates
      // directly — materializing a beam that nothing consumes would
      // pay one extra window+checkpoint job per query batch
      if (r < rounds)
        beam = scored.withColumn("__rk", row_number().over(rank))
          .filter(col("__rk") <= beamWidth)
          .select("qid", "node")
          .localCheckpoint()
    }
    // final answer: the last round's beam, self excluded, top-k
    scored.withColumn("__rk", row_number().over(rank))
      .filter(col("__rk") <= beamWidth && col("node") =!= col("qid"))
      .withColumn("__rk2", row_number().over(rank))
      .filter(col("__rk2") <= k)
      .select(col("qid"), col("node").as("cid"), col("cos"))
  }

  /** Recall@k report for [[graphBeamSearch]] against the exact
    * [[bruteForceTopK]] answer — the honesty meter every approximate
    * index ships with. One row per query: hits inside the true top-k
    * and the recall ratio. Both sides are deterministic (6dp + id
    * tiebreaks), so the whole report replays in SQL. */
  def graphAnnRecall(corpus: DataFrame, queries: DataFrame,
      graph: DataFrame, k: Int, beamWidth: Int = 8, rounds: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val t = graphBeamSearch(corpus, queries, graph, k, beamWidth,
      rounds, idCol, vecCol)
    val bf = bruteForceTopK(corpus, queries, k, idCol, vecCol)
    bf.select(col("qid"), col("cid"))
      .join(t.select(col("qid"), col("cid"), lit(1L).as("__hit")),
        Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_hit"),
        round(col("n_hit").cast("double") / k, 6).as("recall"))
  }

  /** [[semanticDedup]] with `nPlanes` DERIVED from a cheap corpus count
    * so expected bucket occupancy stays near `targetOccupancy`: the
    * within-bucket work is O(sum of occupancy^2), so a FIXED plane
    * count turns quadratic as the corpus grows (measured: exponent
    * ~1.0 at 10x with 8 planes on clustered vectors) while a bounded
    * occupancy keeps per-vector work constant. Same auto-sizing shape
    * as the cosine block guard and packSequences' bucket derivation.
    * Cluster-shaped data still skews occupancy (SemDeDup's accepted
    * trade); the bound is in expectation over a balanced split. */
  def semanticDedupAuto(df: DataFrame, threshold: Double,
      targetOccupancy: Int = 128, dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(targetOccupancy >= 8, s"bad targetOccupancy: $targetOccupancy")
    // r13: derive from the MEASURED occupancy tail, not the
    // balanced-split expectation — on cluster-skewed corpora the
    // expectation under-splits and the in-bucket pair work goes
    // quadratic in cluster size (the [[occupancyPlanes]] rationale;
    // near-balanced corpora derive the same count either way)
    val nPlanes = occupancyPlanes(df, df.count(), targetOccupancy, dim,
      seed, vecCol)
    semanticDedup(df, threshold, nPlanes, dim, seed, idCol, vecCol)
  }

  /** [[mutualNearestNeighbors]] with the plane count derived from the
    * measured occupancy tail ([[occupancyPlanes]]) — the scale path
    * for the one fixed-plane quadratic the r13 sf1 one-shot measured
    * (exp 0.97 at fixed 4 planes on 20k vectors: in-bucket occupancy
    * grows linearly with n, so the best-match pair work is quadratic
    * BY CONSTRUCTION unless planes track the corpus). Near-balanced
    * corpora at the oracle SFs derive exactly 4 planes, so the same
    * inlined-literal SQL twin gates this flavor too. */
  def mutualNearestNeighborsAuto(df: DataFrame,
      targetOccupancy: Int = 128, dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(targetOccupancy >= 8, s"bad targetOccupancy: $targetOccupancy")
    val nPlanes = occupancyPlanes(df, df.count(), targetOccupancy, dim,
      seed, vecCol)
    mutualNearestNeighbors(df, nPlanes, dim, seed, idCol, vecCol)
  }

  /** SemDeDup-style semantic dedup: signed-projection buckets partition
    * the embedding space (shuffle-free transform), then EXACT cosine is
    * computed only within a bucket, and a vector is removed when a
    * SMALLER-id bucket-mate sits at cosine >= threshold (greedy min-id
    * survivor — the usual SemDeDup keep-one-per-neighborhood rule, not
    * a transitive closure). Returns survivors as (id, bucket).
    *
    * Cosines are rounded to 6dp BEFORE thresholding so the keep/kill
    * decision never rides float summation order.
    *
    * Scale shape: candidate generation is an equi-join on the bucket id
    * — the only quadratic work is per-bucket, which `nPlanes` controls
    * (expected bucket occupancy n / 2^nPlanes for centered data; raise
    * nPlanes as the corpus grows, recall crossing bucket boundaries is
    * the accepted SemDeDup trade). Misses only cross-bucket neighbors,
    * exactly like the cluster-local comparison in the SemDeDup paper.
    */
  def semanticDedup(df: DataFrame, threshold: Double, nPlanes: Int = 4,
      dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the bucketed projection feeds three plan branches (both sides of
    // the self-join + the anti-join) — cache it or the scan and the
    // nPlanes x dim projections run three times
    val b = TrackedCaches.persist(
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("bkt", lshBucket(col("v"), nPlanes, dim, seed)))
    val removed = b.as("a").join(b.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .filter(round(cosine(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("b.id").as("id")).distinct()
    b.join(removed, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("bkt"))
  }

  /** Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein
    * 1998): greedily pick the vector maximizing
    * `lambda * rel - (1 - lambda) * maxSimToSelected` — the standard
    * "representative yet diverse" selector for eval-set and few-shot
    * example picking. Relevance here is cosine to the corpus centroid
    * (the parameterless default; callers wanting a query vector
    * substitute their own rel column upstream).
    *
    * Deterministic AND cross-engine-replayable: the centroid is
    * QUANTIZED to 6dp before any cosine (removing mean summation-order
    * sensitivity), every cosine rounds to 6dp, ties break by id, and
    * the greedy argmax unrolls round-for-round in SQL. Each of the `k`
    * rounds is one map-only scoring pass (selected vectors ride inline
    * as literals — at most k-1 of them) + a TakeOrdered(1); the corpus
    * never self-joins and never shuffles at width. */
  def mmrSelect(df: DataFrame, k: Int = 5, lambda: Double = 0.7,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"bad k: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"bad lambda: $lambda")
    val spark = df.sparkSession
    import spark.implicits._
    val mu = 1 - lambda // SAME arithmetic the generated oracle embeds
    // zero-norm vectors are excluded up front: their cosine is NaN, and
    // NaN sorts GREATEST in Spark's descending order (it would hijack
    // rank 1 and poison later rounds' diversity terms) while DuckDB's
    // NaN ordering need not agree — the oracle carries the same filter
    val e = TrackedCaches.persist(df.select(
        col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(dot(col("v"), col("v")) > 0))
    val cent = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(round(avg("x"), 6).as("a"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)
    val rel = TrackedCaches.persist(e.withColumn("rel",
      round(cosine(col("v"), array(cent.map(lit(_)): _*)), 6)))
    // clamp to the available population: k beyond it returns the full
    // ranking rather than crashing on an empty argmax (the wordVectors
    // dim-capping convention)
    val kEff = math.min(k.toLong, e.count()).toInt
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double], Double)]
    (1 to kEff).foreach { _ =>
      val scored =
        if (selected.isEmpty)
          rel.withColumn("score", round(lit(lambda) * col("rel"), 6))
        else {
          val sims = selected.map { case (_, sv, _) =>
            round(cosine(col("v"), array(sv.map(lit(_)): _*)), 6)
          }.toSeq
          val ms = if (sims.size == 1) sims.head else greatest(sims: _*)
          rel.filter(!col("vid").isInCollection(selected.map(_._1)))
            .withColumn("score",
              round(lit(lambda) * col("rel") - lit(mu) * ms, 6))
        }
      val top = scored.orderBy(col("score").desc, col("vid"))
        .select("vid", "v", "score").limit(1).collect().head
      selected += ((top.getLong(0), top.getSeq[Double](1), top.getDouble(2)))
    }
    rel.unpersist(); e.unpersist()
    selected.zipWithIndex
      .map { case ((id, _, sc), i) => (i + 1, id, sc) }.toSeq
      .toDF("rank", idCol, "score")
  }
}
