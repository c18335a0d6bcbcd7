package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding similarity search over an Array[Float] column.
  *
  * - bruteForceTopK: exact cosine against every row — the correctness
  *   baseline; one broadcast of the (small) probe set, map-side scan, no
  *   shuffle until the per-probe top-k.
  * - Random-hyperplane LSH: deterministic ±1 planes derived from the shared
  *   md5 hash; ANN search compares only within the probe's bucket — the
  *   100 TB path (bucket equi-join instead of cross join).
  *
  * The kernels run through the codegen'd DotProduct Catalyst expression
  * (graft.functions.DotProduct) with norms precomputed once per vector;
  * accumulation order matches SQL list_sum exactly, so results stay
  * bit-identical to the DuckDB oracle.
  */
object Similarity {
  import VectorFunctions.{dot, norm, toDoubleArray}

  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  /** (id, vec_double, norm) — norms computed once, not per pair. */
  private def prepared(corpus: DataFrame, idCol: String, vecCol: String,
      id: String, vec: String, nrm: String): DataFrame =
    corpus.select(col(idCol).as(id), toDoubleArray(col(vecCol)).as(vec))
      .withColumn(nrm, norm(col(vec)))

  /** Exact top-k neighbors for each probe id. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int): DataFrame = {
    val base = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
    val probes = base.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"), col("cnorm").as("pnorm"))
    val scored = base.join(broadcast(probes), col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** Exact radius (range) search: every corpus vector with cosine ≥ tau of
    * each probe — the retrieval/dedup primitive where the neighbor COUNT is
    * data-dependent instead of a fixed k. Same scan shape as
    * [[bruteForceTopK]] minus the ranking window: probes broadcast, the
    * corpus never shuffles, and the threshold filter is applied map-side,
    * so the whole operator is one codegen'd pass over the corpus.
    */
  def radiusSearch(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], tau: Double): DataFrame = {
    val base = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
    val probes = base.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"), col("cnorm").as("pnorm"))
    base.join(broadcast(probes), col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
      .where(col("sim") >= tau)
      .select(col("pid"), col("cid"), col("sim"))
  }

  /** Maximal-marginal-relevance top-k (Carbonell–Goldstein, SIGIR 1998):
    * greedy diversity-aware re-rank of each probe's top-`poolSize`
    * cosine pool — pick 1 = the most similar candidate, pick i maximizes
    * `0.5·sim(probe, c) − 0.5·max_{s∈picked} sim(c, s)` with ties to the
    * smaller id. λ is fixed at ½ (an exact power of two, so both
    * engines' score arithmetic is the identical correctly-rounded
    * multiply-subtract — the e1 hash-stability argument extends to the
    * whole score column).
    *
    * Scale shape: the pool selection and all pool-internal pairwise
    * cosines run distributed (broadcast probes; a per-probe
    * poolSize²-row self-join); only the greedy selection itself runs on
    * the driver, over the ≤ probes·poolSize² collected rows — the
    * bounded re-rank class, constant in corpus size by construction.
    */
  def mmrTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, poolSize: Int = 20): DataFrame = {
    // the greedy selection collects ≤ probes·poolSize² pairwise rows to the
    // driver — fail loudly on an oversized probe set instead of OOMing
    // (the kmeansQuantized guard pattern; r12 VERDICT ask #7)
    require(probeIds.size.toLong * poolSize * poolSize <= 4000000L,
      s"mmrTopK driver greedy is bounded at 4M pairwise rows; " +
        s"${probeIds.size} probes × $poolSize² exceeds it — shrink the " +
        "probe set or poolSize")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
    val probes = base.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"),
        col("cnorm").as("pnorm"))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    val pool = base.join(broadcast(probes), col("cid") =!= col("pid"))
      .withColumn("sim",
        dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= poolSize)
      .select(col("pid"), col("cid"), col("sim"), col("cvec"), col("cnorm"))
      .localCheckpoint(true)
    val a = pool.select(col("pid"), col("cid").as("a"),
      col("cvec").as("avec"), col("cnorm").as("anorm"))
    val b = pool.select(col("pid").as("pid2"), col("cid").as("b"),
      col("cvec").as("bvec"), col("cnorm").as("bnorm"))
    val cc = a.join(b, a("pid") === b("pid2") && col("a") =!= col("b"))
      .withColumn("s",
        dot(col("avec"), col("bvec")) / (col("anorm") * col("bnorm")))
      .select(col("pid"), col("a"), col("b"), col("s"))
    val simq = pool.select(col("pid"), col("cid"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pair = cc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // Dataset.unpersist would only clear CacheManager entries, not the
    // localCheckpoint's persisted RDD (r12 ADVICE) — release the actual
    // checkpoint blocks; everything below is driver-local
    graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(pool))
    val picks = for {
      p <- probeIds.sorted
      cands = simq.keys.collect { case (`p`, c) => c }.toSeq
      if cands.nonEmpty
      row <- {
        var selected = Vector.empty[Long]
        (1 to math.min(k, cands.size)).map { r =>
          val best = cands.filterNot(selected.contains).map { c =>
            val score =
              if (r == 1) simq((p, c))
              else 0.5 * simq((p, c)) -
                0.5 * selected.map(s => pair((p, c, s))).max
            (c, score)
          }.minBy { case (c, score) => (-score, c) }
          selected :+= best._1
          (p, r.toLong, best._1, best._2)
        }
      }
    } yield row
    picks.toDF("pid", "rank", "cid", "score")
  }

  /** Deterministic ±1 hyperplane for plane m: component j has the parity of
    * the shared md5-prefix hash of "plane{m}_{j}" — computed once on the
    * driver, shipped as a literal array (the SQL oracle recomputes the same
    * values per row).
    */
  def planeVector(m: Int, dim: Int): Array[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      val hex = md.digest(s"plane${m}_$j".getBytes(StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }.toArray
  }

  /** Sign-bit LSH bucket of a vector under nPlanes hyperplanes. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int = 64): Column = {
    val bits = (0 until nPlanes).map { m =>
      val plane = array(planeVector(m, dim).map(lit).toIndexedSeq: _*)
      when(dot(vec, plane) > 0, lit(1L << m)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** ANN top-k: exact cosine restricted to the probe's LSH bucket. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nPlanes: Int = 8): DataFrame = {
    val bucketed = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
      .withColumn("bucket", lshBucket(col("cvec"), nPlanes))
    val probes = bucketed.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"),
        col("cnorm").as("pnorm"), col("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** Multi-probe ANN top-k: like annTopK but each probe also searches every
    * bucket at hamming distance 1 from its own (flip one sign bit) —
    * recovers most of the recall a single probe bucket loses at the cost of
    * (nPlanes+1)× more probe rows, which stays tiny and broadcastable.
    * The corpus side is untouched: still one bucket per vector, one
    * equi-join, no cross join.
    */
  def annTopKMultiProbe(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nPlanes: Int = 8): DataFrame = {
    val bucketed = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
      .withColumn("bucket", lshBucket(col("cvec"), nPlanes))
    val probes = bucketed.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"),
        col("cnorm").as("pnorm"), col("bucket"))
      // own bucket + all 1-bit-flip neighbors; each (pid, cid) pair can
      // match at most once since a corpus vector lives in exactly one bucket
      .withColumn("bucket", explode(array(
        (col("bucket") +: (0 until nPlanes).map(m =>
          col("bucket").bitwiseXOR(lit(1L << m)))).toIndexedSeq: _*)))
    val scored = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of nLists centroids
    * partitions the corpus; probes search only the nProbe nearest lists.
    *
    * Centroids here are deterministic corpus samples (the nLists vectors
    * with the smallest h32(id) — a seedless uniform sample), which is the
    * standard bootstrap before k-means refinement; at 100 TB the centroid
    * set stays tiny (√n ≈ 10k rows) and is broadcast, corpus assignment is
    * one broadcast-join scan (n × nLists codegen'd dot products), and the
    * probe join touches only nProbe/nLists of the data.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int, nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val base = prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
    val centroids = base
      .withColumn("__h", TextHash.h32(col("cid").cast("string")))
      .orderBy(col("__h"), col("cid")).limit(nLists)
      .select(col("cid").as("centid"), col("cvec").as("centvec"),
        col("cnorm").as("centnorm"))
    // list assignment: nearest-centroid(s) by cosine (broadcast centroids,
    // map-side scan; the per-row window partitions on the unique id)
    def assign(df: DataFrame, idC: String, vec: String, nrm: String,
        topN: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(centroids))
        .withColumn("__csim",
          dot(col(vec), col("centvec")) / (col(nrm) * col("centnorm")))
      val w = Window.partitionBy(col(idC)).orderBy(col("__csim").desc, col("centid"))
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= topN)
        .select(df.columns.map(col).toIndexedSeq :+ col("centid").as("list_id"): _*)
    }
    val assigned = assign(base, "cid", "cvec", "cnorm", 1)
    val probes = assign(
      base.filter(col("cid").isin(probeIds: _*))
        .select(col("cid").as("pid"), col("cvec").as("pvec"), col("cnorm").as("pnorm")),
      "pid", "pvec", "pnorm", nProbe)
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max |component| (floored at 1e-30 so zero vectors stay zero), each
    * component → floor(x·127/scale + 0.5). Quantized components are kept
    * as integer-VALUED doubles: every value, product and 64-term sum is
    * exactly representable, so downstream similarity arithmetic is
    * order-independent and bit-identical across engines. At 100 TB this is
    * the standard 4× (vs float32) embedding-store compression; `scale`
    * rides along for dequantization.
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = toDoubleArray(col(vecCol))
    df.select(col(idCol).as("id"), vd.as("__v"))
      .withColumn("scale", greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-30)))
      .select(col("id"), col("scale"),
        // Spark floor returns LONG; the kernels take array<double> —
        // the values are integers either way, exactly representable
        transform(col("__v"),
          x => floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("double"))
          .as("qvec"))
  }

  /** Exact-arithmetic top-k over the int8-quantized vectors: cosine on the
    * quantized components (integer-valued doubles — every op exact). The
    * quality loss vs full precision is measured by `recallAtK` in the e4
    * gate, mirroring how a production int8 index is validated.
    */
  def quantizedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probeIds: Seq[Long], k: Int): DataFrame = {
    val q = quantize(corpus, idCol, vecCol)
      .select(col("id").as("cid"), col("qvec").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val probes = q.filter(col("cid").isin(probeIds: _*))
      .select(col("cid").as("pid"), col("cvec").as("pvec"), col("cnorm").as("pnorm"))
    val scored = q.join(broadcast(probes), col("cid") =!= col("pid"))
      .withColumn("sim", dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** Recall@k of an approximate top-k result against the exact one. Both
    * inputs carry (pid, rank, cid) rows (the bruteForceTopK/annTopK shape);
    * returns one row per probe: (pid, hits, recall). Deterministic given
    * deterministic inputs — this turns the ANN family's accuracy into an
    * oracle-checkable number instead of a rows-only smoke check.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val ex = exact.where(col("rank") <= k).select(col("pid"), col("cid"))
    val ap = approx.where(col("rank") <= k).select(col("pid"), col("cid"))
    val hits = ex.join(ap, Seq("pid", "cid"), "left_semi")
      .groupBy(col("pid")).agg(count(lit(1)).as("hits"))
    ex.select(col("pid")).distinct()
      .join(hits, Seq("pid"), "left")
      .select(col("pid"), coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, a < b. All-pairs
    * here; at scale, pre-bucket with lshBucket and join on bucket first.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = prepared(corpus, idCol, vecCol, "a", "va", "na")
    val b = prepared(corpus, idCol, vecCol, "b", "vb", "nb")
    a.join(b, col("a") < col("b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Near-duplicate pairs, bucketed: the pair join is confined to vectors
    * sharing an LSH bucket — the 100 TB path (high-cosine pairs land in the
    * same bucket with probability (1 - θ/π)^nPlanes; fewer planes = higher
    * recall, bigger buckets). Same output shape as nearDupPairs.
    */
  def nearDupPairsBucketed(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8): DataFrame = {
    val bucketed = prepared(corpus, idCol, vecCol, "id", "v", "n")
      .withColumn("bucket", lshBucket(col("v"), nPlanes))
    bucketed.select(col("id").as("a"), col("v").as("va"), col("n").as("na"), col("bucket"))
      .join(bucketed.select(col("id").as("b"), col("v").as("vb"), col("n").as("nb"), col("bucket")),
        Seq("bucket"))
      .filter(col("a") < col("b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Directed kNN relation: every vector probes its OWN LSH bucket (the
    * annTopK confinement applied corpus-to-corpus — never all-pairs) and
    * keeps its k nearest bucket-mates by exact cosine. Returns
    * (pid, rank, cid, sim), the annTopK shape with the whole corpus as
    * the probe set. The within-bucket join costs Σ|bucket|² — the same
    * quadratic hazard class as semDedupDropped, guarded the same way: the
    * largest bucket must hold ≤ maxBucketSize vectors (one cheap one-row
    * digest) or the call fails loudly pointing at a larger nPlanes.
    *
    * EAGER-EXECUTION NOTE (r17 ADVICE): because the guard digest must run
    * before the hazard it guards, CONSTRUCTING this DataFrame executes the
    * bucketing job (an EXPLAIN or dry-run registration is not free), and
    * the returned plan reads a localCheckpoint that stays pinned until the
    * harness sweep (Verify/Bench sweep getPersistentRDDs per query; a
    * resident caller releases it once the result is collected/written:
    * Checkpoints.release over the ids Checkpoints.idsOf reads off the
    * result, less those of its inputs). A guard FAILURE releases the
    * checkpoint before throwing — a rejected call leaks nothing.
    */
  def knnTopK(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 8, maxBucketSize: Long = 8192L): DataFrame = {
    require(k >= 1, s"knnTopK: k must be >= 1, got $k")
    // materialize the bucketing ONCE (the editDistancePairs shingle
    // pattern — r17 review): the guard digest plus both sides of the
    // self-join would otherwise recompute toDoubleArray + norm + the
    // plane dot products over the full corpus three times
    val (bucketed, releaseBucketed) = graft.util.Checkpoints.tracked(
      prepared(corpus, idCol, vecCol, "cid", "cvec", "cnorm")
        .withColumn("bucket", lshBucket(col("cvec"), nPlanes)),
      eager = true)
    val maxN = try {
      val maxRow = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n")).agg(max(col("n"))).head()
      if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    } catch { case t: Throwable => releaseBucketed(); throw t }
    if (maxN > maxBucketSize) releaseBucketed() // reject without leaking
    require(maxN <= maxBucketSize,
      s"knnTopK: largest LSH bucket holds $maxN vectors (> maxBucketSize " +
        s"= $maxBucketSize) — the within-bucket join is |bucket|^2. Raise " +
        "nPlanes (expected bucket size ~ n / 2^nPlanes) or raise " +
        "maxBucketSize deliberately")
    val probes = bucketed.select(col("cid").as("pid"),
      col("cvec").as("pvec"), col("cnorm").as("pnorm"), col("bucket"))
    val scored = bucketed.join(probes, Seq("bucket"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim",
        dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm")))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("rank"), col("cid"), col("sim"))
  }

  /** kNN-GRAPH construction — the standard bridge from an embedding
    * corpus to the graph algorithms: [[knnTopK]] symmetrized into an
    * undirected weighted edge relation (an edge exists when EITHER
    * endpoint lists the other in its top-k; cosine is symmetric and the
    * fixed-fold dot is term-order-identical in both directions, so the
    * two directions carry the SAME double and collapse under DISTINCT).
    * The weight is the e1-class sim snapped to the exact integer grid
    * w_ppm = floor(sim·10⁶ + 0.5) — positive LONG, directly consumable
    * by GraphAlgorithms.louvainLevels(weightCol) (which rejects ≤ 0
    * loudly, so non-positive-cosine edges are dropped here). Output:
    * (src, dst, w_ppm) with src < dst.
    */
  def knnGraphEdges(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 8, maxBucketSize: Long = 8192L): DataFrame =
    knnTopK(corpus, idCol, vecCol, k, nPlanes, maxBucketSize)
      .select(least(col("pid"), col("cid")).as("src"),
        greatest(col("pid"), col("cid")).as("dst"), col("sim"))
      .distinct()
      .withColumn("w_ppm",
        floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long"))
      .where(col("w_ppm") > 0L)
      .select(col("src"), col("dst"), col("w_ppm"))
}
