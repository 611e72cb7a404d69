package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.functions.Numeric

/** Embedding similarity search: brute-force cosine top-k (baseline) and
  * bucket-pruned top-k (the scale path).
  *
  * Numerics: dot products and norms are computed as exact scaled
  * integers — each elementwise product is snapped to an integer multiple
  * of 10^-12 (exact IEEE ops) and summed as int64, so the result is
  * independent of summation order, engine, and partitioning. The final
  * cosine is a handful of deterministic IEEE ops (sqrt is
  * correctly-rounded everywhere).
  *
  * Scale design: queries are broadcast (small side); the corpus is never
  * shuffled — brute force is one scan of the corpus, and the bucketed
  * variant is a hash join on the bucket id that prunes the scan to
  * matching buckets (the IVF pattern: at 100 TB, bucket = centroid cell
  * from an offline k-means, stored as a partition column so bucket
  * pruning happens at the parquet scan; here the testdata `label` column
  * plays that role). Top-k is a per-query window over the tiny scored set.
  */
object Similarity {

  val Scale = 1000000000000L // 1e12: |v| ≤ ~0.6 ⇒ per-term ≤ 3.6e11, 64-dim sums ≪ 2^53

  /** Exact scaled-integer dot product of two float-array columns — the
    * custom codegen'd Catalyst expression ([[graft.functions.DotProductScaled]]);
    * the equivalent `aggregate(zip_with(...))` formulation is interpreted
    * (higher-order functions don't codegen) and ~an order of magnitude
    * slower in the ANN hot loop.
    */
  def dotScaled(a: Column, b: Column): Column =
    graft.functions.DotProductScaled.dotScaled(a, b, Scale)

  /** The composable built-ins-only formulation, kept as a semantics
    * cross-check for the custom expression (tested equal).
    */
  def dotScaledHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => floor(x.cast("double") * y.cast("double") * lit(Scale) + lit(0.5))),
      lit(0L), (acc, x) => acc + x)

  /** Squared-norm of a vector, same scaled-integer scheme. */
  def norm2Scaled(a: Column): Column = dotScaled(a, a)

  /** Cosine from scaled dot + scaled squared-norms, rounded to 6 decimals
    * order-independently.
    */
  def cosineFromScaled(dotS: Column, n2a: Column, n2b: Column): Column =
    Numeric.roundBin(
      (dotS.cast("double") / lit(Scale)) /
        (sqrt(n2a.cast("double") / lit(Scale)) * sqrt(n2b.cast("double") / lit(Scale))), 6)

  private def topK(scored: DataFrame, k: Int, outCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(outCols.map(col): _*)
  }

  /** Brute-force cosine top-k: every query (broadcast) against every
    * corpus row — one corpus scan, no shuffle until the tiny top-k window.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm2Scaled(col(vecCol)).as("c_n2"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm2Scaled(col(vecCol)).as("q_n2"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("q_vec"), col("c_vec")), col("q_n2"), col("c_n2")))
    topK(scored, k, Seq("query_id", "neighbor_id", "cos_sim"))
  }

  /** Bucket-pruned top-k (IVF shape): candidates limited to corpus rows
    * in the query's bucket — an equi-join on the bucket id instead of a
    * cross product.
    */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, bucketCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm2Scaled(col(vecCol)).as("c_n2"), col(bucketCol).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm2Scaled(col(vecCol)).as("q_n2"), col(bucketCol).as("q_bucket"))
    val scored = c.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("q_vec"), col("c_vec")), col("q_n2"), col("c_n2")))
    topK(scored, k, Seq("query_id", "neighbor_id", "bucket", "cos_sim"))
  }

  // ------------------------------------------------------------- real IVF

  /** Centroid component quantum for the k-means update: 10⁻⁶. Component
    * averages are computed as exact scaled-integer sums (`scaledAvg`
    * scheme), so centroids are bit-identical at any parallelism and in
    * any engine — which is what makes a LEARNED index oracle-checkable.
    */
  val IvfScale = 6

  /** One Lloyd assignment pass: nearest centroid by squared euclidean
    * distance, computed as scaled-integer `‖c‖² − 2⟨x,c⟩` (the ‖x‖² term
    * is constant per row and drops out of the argmin). All-integer ⇒ the
    * argmin (tie → smallest cluster id, via lexicographic struct-min) is
    * deterministic. Centroids are broadcast — the corpus is scanned once,
    * never shuffled; the groupBy is on the row id.
    */
  private def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String,
                        probeStored: Boolean = false): DataFrame = {
    // LITERAL-CENTROID fast shape (r17): when the model table is already
    // locally known (driver-solved trainer / tiny stats checkpoint /
    // probed stored model), the per-row argmin is a codegen'd least()
    // chain over k literal vectors — a MAP-ONLY projection. The
    // relational spelling below pays a broadcast build job plus a
    // corpus-sized groupBy(id) exchange that carries the vectors, purely
    // to reduce the k-way crossJoin back to one row per id — at any
    // scale that exchange moves the whole corpus once per assign pass.
    // Identical rows for unique non-null ids (the ANN corpus contract;
    // the argmin algebra — least(struct(dist, cid)) — IS Min's update
    // expression, so ties and null-distance handling match bit-for-bit;
    // SimilaritySolveSpec differential). Falls through untouched for
    // lazy model plans (the Lloyd loop), big models, or a session whose
    // broadcast threshold is off ([[smallModelRows]]).
    smallModelRows(centroids, probeStored) match {
      case Some(cents) if cents.nonEmpty =>
        corpus.select(col(idCol), col(vecCol),
          argminCell(col(vecCol), cents).getField("cluster_id").as("cluster_id"))
      case _ =>
        val c = centroids.select(col("cluster_id"), col("cvec"),
          norm2Scaled(col("cvec")).as("c_n2s"))
        corpus.select(col(idCol), col(vecCol))
          .crossJoin(broadcast(c))
          .withColumn("dist_s", col("c_n2s") - lit(2L) * dotScaled(col(vecCol), col("cvec")))
          .groupBy(col(idCol))
          .agg(min(struct(col("dist_s"), col("cluster_id"))).as("m"),
            first(col(vecCol)).as(vecCol))
          .select(col(idCol), col(vecCol), col("m.cluster_id").as("cluster_id"))
    }
  }

  /** Plan-size bound for the literal argmin chains: k literal vectors
    * inline k dot-product expressions per row — fine at demo/model
    * sizes, wrong past it (codegen blow-up; and a model that large
    * should broadcast-join anyway). sizedNClusters-scale models (√n at
    * 100 TB) never pass this, so the relational shape stays the scale
    * path.
    */
  private final val MaxLiteralCells = 64

  /** Collected rows of a SMALL model table for the literal-argmin
    * assigns, or None to keep the relational path. Inlining a model
    * collects it to the driver, so it passes the same gate as the
    * driver solves, [[shims.broadcastSmall]] — the session's broadcast
    * threshold is the one switch (-1 keeps every assign relational).
    * Collects only what is free or known-bounded: a LocalRelation
    * (driver-solved trainer — no job), a measured stats checkpoint
    * under [[MaxLiteralCells]] rows (local blocks — one trivial job),
    * or — only when `probeStored` (the per-batch sinks, whose model is
    * a just-written tiny parquet dir) — a limit-bounded collect. Lazy
    * plans (the Lloyd loop's per-round models) are never probed.
    */
  private def smallModelRows(model: DataFrame, probeStored: Boolean)
      : Option[Array[org.apache.spark.sql.Row]] = {
    if (!shims.broadcastSmall(model)) return None
    def conv(rows: Array[org.apache.spark.sql.Row]): Option[Array[org.apache.spark.sql.Row]] =
      if (rows.length <= MaxLiteralCells &&
        rows.forall(r => !r.anyNull &&
          r.getSeq[Any](r.length - 1).forall(_ != null))) Some(rows)
      else None
    model.queryExecution.analyzed match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        conv(model.collect()) // LocalTableScan: no job
      case _: org.apache.spark.sql.execution.LogicalRDD
        if shims.statsRowCount(model).exists(_ <= MaxLiteralCells) =>
        conv(model.collect())
      case _ if probeStored =>
        conv(model.limit(MaxLiteralCells + 1).collect())
      case _ => None
    }
  }

  /** The literal-argmin cell: least over k struct(dist_s, cluster_id)
    * expressions — dist_s = ‖c‖²ₛ − 2⟨x,c⟩ₛ with the centroid norm
    * folded on the driver (same [[dotScaledLocal]] ops the codegen'd
    * expression runs). Min's update expression IS least, so this is the
    * aggregate argmin verbatim, without the exchange.
    */
  private def argminCell(vec: Column, cents: Array[org.apache.spark.sql.Row]): Column = {
    val structs = cents.map { r =>
      val cid = r.getInt(r.length - 2)
      val cv = r.getSeq[Float](r.length - 1).toArray
      struct((lit(dotScaledLocal(cv, cv)) - lit(2L) * dotScaled(vec, lit(cv)))
        .as("dist_s"), lit(cid).as("cluster_id"))
    }
    if (structs.length == 1) structs.head else least(structs.toIndexedSeq: _*)
  }

  /** Centroid update: per-(cluster, dimension) order-independent scaled
    * average, reassembled into a float vector (double→float rounding is
    * IEEE-defined, mirrored by CAST(… AS REAL) in the oracle). The only
    * shuffle is the (cluster, dim) groupBy — k·dims groups.
    */
  private def ivfUpdate(assigned: DataFrame, vecCol: String): DataFrame =
    assigned.select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(Numeric.scaledAvg(col("v").cast("double"), IvfScale).as("cv"))
      .groupBy(col("cluster_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("cluster_id"),
        transform(col("pairs"), p => p.getField("cv").cast("float")).as("cvec"))

  // ------------------------- broadcast-small driver-solved Lloyd (r17)

  /** Max rows the driver-solve gate will ever materialize to decide:
    * [[AutoSampledTrainingRows]] — full Lloyd training is only ever
    * auto-chosen below it, and the sampled trainers bound their samples
    * far under it, so the probe's cost is capped at the corpus sizes
    * full training actually runs on.
    */
  // def, not val: AutoSampledTrainingRows is declared later in the
  // object and a val here would read 0 during initialization
  private def MaxLocalTrainRows: Long = AutoSampledTrainingRows

  /** Gate + collect for the driver-solved Lloyd trainers (the r16
    * fixed-round graph-solve pattern applied to k-means): when the
    * TRAINING SET'S measured footprint fits the session's broadcast
    * threshold — the same bytes a broadcast join would ship to the
    * driver — the fixed-round Lloyd algebra runs on the collected rows
    * instead of paying ~4 jobs/round of tiny distributed stages
    * (measured: each Lloyd trainer is 9 sequential jobs at sf0.1 for
    * 2000 vectors ≈ 0.5 MB; wall-clock tracks job count ~120 ms/job).
    *
    * Honest gates, all falling through to the distributed loop:
    *  - [[shims.broadcastSmall]] on the probe below — planOnly, or the
    *    session's broadcast threshold off (-1) or exceeded, keeps the
    *    loop; that threshold is the one switch;
    *  - id must be BIGINT and the vector ARRAY<FLOAT> (the repo-wide
    *    contract types the local twin mirrors);
    *  - a stats-checkpointed input (the sampled trainers' case — ALWAYS
    *    bounded, at any corpus scale) gates on its measured stats with
    *    no extra job; any other input pays one bounded
    *    limit(max+1)-checkpoint probe — capped at
    *    [[MaxLocalTrainRows]]+1 rows regardless of corpus size;
    *  - collected rows must have unique non-null ids, non-null vectors
    *    with non-null elements, uniform length (== `requireLen` when
    *    given): exactly the regime where the relational argmin/update
    *    algebra is well-defined row-per-row and the local twin is
    *    bit-identical (randomized differential in SimilaritySolveSpec;
    *    anything else bails to the loop).
    *
    * At 100 TB the sampled trainers (the production default past
    * [[AutoSampledTrainingRows]]) always satisfy the gate — their
    * samples are bounded by construction — while a forced full training
    * on an over-threshold corpus fails it and keeps the distributed
    * rounds. Exact numerics: the local twin replays the same IEEE ops
    * ([[graft.functions.DotProductScaled]]'s floor(x·y·scale + 0.5)
    * int64 sums, [[Numeric.scaledAvg]]'s floor(sum/count + 0.5)/10^s,
    * double→float rounding), so centroids/codebooks are bit-identical
    * to the distributed rounds — pinned by the differential spec and
    * the ANN oracle rows.
    */
  private def collectSmallTraining(corpus: DataFrame, idCol: String,
      vecCol: String, requireLen: Option[Int]): Option[Array[(Long, Array[Float])]] = {
    // the gate's session half, checked first so a gate that is off
    // anyway costs no probe job below
    val spark = corpus.sparkSession
    if (shims.planOnly(spark) || shims.autoBroadcastThresholdBytes(spark) <= 0L)
      return None
    val idOk = corpus.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    val vecOk = corpus.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (!idOk || !vecOk) return None
    def fits(df: DataFrame): Boolean =
      shims.statsRowCount(df).exists(n => n >= 0 && n <= MaxLocalTrainRows) &&
        shims.broadcastSmall(df)
    val (probe, ownedCk) = corpus.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => (corpus, None)
      case _ =>
        val ck = shims.checkpointWithStats(
          corpus.select(col(idCol), col(vecCol))
            .limit(MaxLocalTrainRows.toInt + 1))
        (ck, Some(ck))
    }
    try {
      if (!fits(probe)) return None
      val rows = probe.select(col(idCol), col(vecCol)).collect()
      val out = new Array[(Long, Array[Float])](rows.length)
      val seen = new java.util.HashSet[Long](rows.length * 2)
      var i = 0
      var len = -1
      while (i < rows.length) {
        val r = rows(i)
        if (r.isNullAt(0) || r.isNullAt(1)) return None
        val id = r.getLong(0)
        if (!seen.add(id)) return None // duplicate id: groupBy semantics differ
        val s = r.getSeq[Any](1)
        val v = new Array[Float](s.length)
        var j = 0
        while (j < s.length) {
          val e = s(j)
          if (e == null) return None
          v(j) = e.asInstanceOf[Float]
          j += 1
        }
        if (len < 0) len = v.length
        else if (len != v.length) return None // non-uniform dims: null-dist algebra
        if (requireLen.exists(_ != v.length)) return None
        out(i) = (id, v)
        i += 1
      }
      Some(out)
    } finally ownedCk.foreach(shims.unpersistLocalCheckpoint)
  }

  /** floor(x·y·scale + 0.5) int64 term — the exact per-element op of
    * [[graft.functions.DotProductScaled]], replayed on the driver.
    */
  @inline private def dotTerm(x: Float, y: Float, scale: Long): Long =
    math.floor(x.toDouble * y.toDouble * scale + 0.5).toLong

  private def dotScaledLocal(a: Array[Float], b: Array[Float]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += dotTerm(a(i), b(i), Scale); i += 1 }
    acc
  }

  /** [[Numeric.scaledAvg]] at [[IvfScale]], replayed on the driver:
    * floor(CAST(Σ floor(v·10^s + 0.5) AS DOUBLE) / count + 0.5) / 10^s.
    * `sum` is the BIGINT sum of [[scaledTermLocal]] terms, accumulated
    * with [[addTerm]] exactly as the distributed sum is, so the twin
    * stays bit-identical at any magnitude, past 2^53 included.
    */
  @inline private def scaledAvgLocal(sum: Long, cnt: Long): Double = {
    val f = 1000000L // 10^IvfScale
    math.floor(sum.toDouble / cnt + 0.5) / f
  }

  /** floor(v·10^s + 0.5) as Spark's `floor` returns it: a BIGINT. */
  @inline private def scaledTermLocal(v: Float): Long =
    math.floor(v.toDouble * 1000000L + 0.5).toLong

  /** One step of the distributed BIGINT sum: ANSI mode fails on overflow. */
  @inline private def addTerm(sum: Long, term: Long): Long = Math.addExact(sum, term)

  /** One set of per-cluster [[Numeric.scaledAvg]] means — the
    * [[ivfUpdate]] algebra on driver arrays: per (cluster, dim)
    * scaled average, reassembled in dim order, double→float cast.
    * Clusters with no members vanish (groupBy semantics). Returned
    * sorted by cluster id (output order is irrelevant downstream;
    * sorted for determinism of the LocalRelation).
    */
  private def lloydMeans(members: java.util.TreeMap[Int, (Array[Long], Array[Long])])
      : Array[(Int, Array[Float])] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Array[Float])](members.size)
    members.forEach { (cid, sc) =>
      val (sums, cnts) = sc
      val v = new Array[Float](sums.length)
      var d = 0
      while (d < sums.length) {
        v(d) = scaledAvgLocal(sums(d), cnts(d)).toFloat
        d += 1
      }
      out += ((cid, v))
    }
    out.toArray
  }

  /** Driver twin of the [[ivfCentroids]] loop: same deterministic seed
    * (vectors of the k smallest ids), same per-round assign
    * (argmin of ‖c‖²ₛ − 2⟨x,c⟩ₛ, tie → smallest cluster id) and update
    * ([[scaledAvgLocal]] per (cluster, dim)) — bit-identical by
    * construction (differential-pinned).
    */
  private def localIvfCentroids(rows: Array[(Long, Array[Float])],
      nClusters: Int, iterations: Int): Array[(Int, Array[Float])] = {
    val sorted = rows.sortBy(_._1)
    var cents: Array[(Int, Array[Float])] =
      sorted.take(nClusters).zipWithIndex.map { case ((_, v), j) => (j, v) }
    for (_ <- 1 to iterations) {
      val n2s = cents.map { case (cid, c) => (cid, dotScaledLocal(c, c)) }
      val members = new java.util.TreeMap[Int, (Array[Long], Array[Long])]()
      rows.foreach { case (_, v) =>
        var bestD = Long.MaxValue; var bestC = Int.MaxValue; var j = 0
        while (j < cents.length) {
          val d = n2s(j)._2 - 2L * dotScaledLocal(v, cents(j)._2)
          if (d < bestD || (d == bestD && n2s(j)._1 < bestC)) {
            bestD = d; bestC = n2s(j)._1
          }
          j += 1
        }
        val sc = members.computeIfAbsent(bestC,
          _ => (new Array[Long](v.length), new Array[Long](v.length)))
        var d = 0
        while (d < v.length) {
          sc._1(d) = addTerm(sc._1(d), scaledTermLocal(v(d))); sc._2(d) += 1L; d += 1
        }
      }
      cents = lloydMeans(members)
    }
    cents
  }

  /** Driver twin of the [[pqCodebooks]] loop — m independent
    * [[localIvfCentroids]]-shaped k-means over the subvector slices,
    * same seed rule (slices of the ks smallest ids' vectors).
    */
  private def localPqCodebooks(rows: Array[(Long, Array[Float])],
      m: Int, subDim: Int, ks: Int, iterations: Int): Array[(Int, Int, Array[Float])] = {
    val sorted = rows.sortBy(_._1)
    def slices(v: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m)(s => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
    // books(s) = Array[(code, cvec)] for subspace s
    var books: Array[Array[(Int, Array[Float])]] = {
      val seeds = sorted.take(ks).zipWithIndex
      Array.tabulate(m)(s => seeds.map { case ((_, v), j) => (j, slices(v)(s)) })
    }
    for (_ <- 1 to iterations) {
      val next = new Array[Array[(Int, Array[Float])]](m)
      var s = 0
      while (s < m) {
        val bk = books(s)
        val n2s = bk.map { case (cid, c) => (cid, dotScaledLocal(c, c)) }
        val members = new java.util.TreeMap[Int, (Array[Long], Array[Long])]()
        rows.foreach { case (_, v) =>
          val sv = java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)
          var bestD = Long.MaxValue; var bestC = Int.MaxValue; var j = 0
          while (j < bk.length) {
            val d = n2s(j)._2 - 2L * dotScaledLocal(sv, bk(j)._2)
            if (d < bestD || (d == bestD && n2s(j)._1 < bestC)) {
              bestD = d; bestC = n2s(j)._1
            }
            j += 1
          }
          val sc = members.computeIfAbsent(bestC,
            _ => (new Array[Long](sv.length), new Array[Long](sv.length)))
          var d = 0
          while (d < sv.length) {
            sc._1(d) = addTerm(sc._1(d), scaledTermLocal(sv(d))); sc._2(d) += 1L; d += 1
          }
        }
        next(s) = lloydMeans(members)
        s += 1
      }
      books = next
    }
    books.zipWithIndex.flatMap { case (bk, s) =>
      bk.map { case (cid, v) => (s, cid, v) }
    }
  }

  /** A driver-solved model table as a DataFrame: leading INT id columns
    * plus the trailing ARRAY<FLOAT> vector — the exact column set and
    * types the distributed trainers produce.
    */
  private def localModelFrame(spark: org.apache.spark.sql.SparkSession,
      names: Seq[String], rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val fields = names.init.map(n => org.apache.spark.sql.types.StructField(
      n, org.apache.spark.sql.types.IntegerType, nullable = false)) :+
      org.apache.spark.sql.types.StructField(names.last,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = true)
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      org.apache.spark.sql.types.StructType(fields))
  }

  /** IVF index build: `iterations` full Lloyd rounds from a deterministic
    * seed (the vectors of the `nClusters` smallest ids — expressible
    * identically in any engine, unlike random init). Fixed iteration
    * count, not convergence-tested: an ANN index needs a GOOD partition,
    * not the k-means optimum, and a fixed count keeps the result a pure
    * function of the data. Returns (cluster_id, cvec) centroids.
    *
    * A training set that fits the session's broadcast threshold is
    * solved on the driver ([[collectSmallTraining]]); setting
    * `spark.sql.autoBroadcastJoinThreshold` to -1 forces the
    * distributed loop (the differential spec does).
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nClusters: Int, iterations: Int): DataFrame = {
    collectSmallTraining(corpus, idCol, vecCol, requireLen = None) match {
      case Some(rows) =>
        val cents = localIvfCentroids(rows, nClusters, iterations)
        return localModelFrame(corpus.sparkSession, Seq("cluster_id", "cvec"),
          cents.toSeq.map { case (cid, v) =>
            org.apache.spark.sql.Row(cid, v.toSeq) })
      case None => ()
    }
    val w = Window.orderBy(col(idCol))
    var cents = corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(nClusters)
      .select((row_number().over(w) - 1).as("cluster_id"), col(vecCol).as("cvec"))
    (1 to iterations).foreach { _ =>
      cents = ivfUpdate(ivfAssign(corpus, cents, idCol, vecCol), vecCol)
    }
    cents
  }

  /** Corpus-sized IVF cluster count — the classic ~√n rule (balances
    * probe cost n/k·nProbe against centroid-table scan cost k), clamped
    * to [4, 65536]. At 10⁹ rows that is ~32k cells of ~32k vectors; the
    * registry's fixed `nClusters = 4` is the demo spelling, same status
    * as the LSH demo bands ([[sizedRowsPerBand]]).
    */
  def sizedNClusters(corpusRows: Long): Int =
    math.min(1 << 16,
      math.max(4, math.ceil(math.sqrt(math.max(0L, corpusRows).toDouble)).toInt))

  /** Centroid training on a bounded deterministic sample — the
    * corpus-scale spelling of [[ivfCentroids]]. Full Lloyd assignment
    * costs n·k dot products PER ITERATION — with the √n cluster rule
    * that is n^1.5 per round, the one superlinear term in the IVF
    * build — so production trainers fit centroids on ~`trainPerCluster`
    * vectors per cell and pay the full corpus only the single
    * assignment pass that writes the inverted lists ([[ivfBuild]]).
    * The sample is md5-bottom-k over the id (deterministic,
    * engine-neutral, one scan + TakeOrdered — no shuffle of the
    * corpus), so the centroids stay a pure function of the data like
    * the full-Lloyd path. Measured (SCALE.md "Round 15: IVF centroid
    * training sized and sampled"):
    * training cost goes flat in corpus size while recall@k against the
    * full-corpus trainer's index is statistically indistinguishable.
    */
  def ivfCentroidsSampled(corpus: DataFrame, idCol: String, vecCol: String,
                          nClusters: Int, iterations: Int,
                          trainPerCluster: Int = 64): DataFrame = {
    val sampleN = math.max(nClusters * trainPerCluster, nClusters * 2)
    // stats-carrying checkpoint: every Lloyd iteration reads the sample,
    // and an unmaterialized TakeOrdered would re-scan the CORPUS per
    // round — exactly the cost sampling exists to avoid (measured: the
    // sampled trainer read SLOWER than full Lloyd at 20k rows before
    // this). The sample is bounded (≤ trainPerCluster·k vectors), so
    // the checkpoint is small by construction — and freed before
    // returning: the centroids are materialized here (they are k rows;
    // a lazy return would pin the sample's blocks for the session).
    val sample = shims.checkpointWithStats(
      corpus.select(col(idCol), col(vecCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(sampleN))
    // finally, not sequential: a Lloyd round that throws (lost executor,
    // cancelled job group) must not leave the sample's blocks pinned for
    // the session — the shims contract says nothing else will free them
    try ensureStatsCheckpoint(
      ivfCentroids(sample, idCol, vecCol, nClusters, iterations))
    finally shims.unpersistLocalCheckpoint(sample)
  }

  /** Corpus-row threshold above which the STORED-index builders train
    * on the bounded md5-bottom-k sample by default (r15 VERDICT #5:
    * `sampledTraining` was a caller flag with a measured crossover —
    * make the default follow the measurement). SCALE.md "Round 15: IVF
    * centroid training sized and sampled" brackets the crossover: at 20k
    * rows the sample's checkpoint + scan overhead ties or loses to full
    * Lloyd; at 200k full training is 12.7× slower at statistically-equal
    * recall. 2^16
    * sits inside that measured gap — below it the demo/oracle corpora
    * (≤ tens of k) keep bit-identical full training, above it a build
    * would otherwise pay the n^1.5 (IVF) / corpus-bound-per-round (PQ)
    * Lloyd term the sampled trainers exist to remove. The decision
    * input is one `corpus.count()` — metadata-cheap against a parquet
    * source, and a build already scans the corpus many times over.
    */
  val AutoSampledTrainingRows = 65536L

  /** The auto rule the stored builders apply when the caller does not
    * force a mode (threshold documented on [[AutoSampledTrainingRows]]).
    */
  def autoSampledTraining(corpusRows: Long): Boolean =
    corpusRows >= AutoSampledTrainingRows

  /** IVF search: assign the corpus to its learned cells (the inverted
    * lists), probe each query's `nProbe` nearest cells, exact-score only
    * the listed vectors, take cosine top-k. The candidate join is an
    * equi-join on cluster_id with the probe table broadcast — at 100 TB
    * the inverted lists are written `partitionBy(cluster_id)` once and
    * every query batch prunes to nProbe/nClusters of the corpus at the
    * parquet scan, the same pruning this plan does in memory.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, nClusters: Int = 4, iterations: Int = 2,
              nProbe: Int = 2, k: Int = 3): DataFrame = {
    // stats-carrying checkpoint: stops re-deriving k-means per use AND
    // lets the probe/score joins see the model table's real (tiny) size
    // instead of a stats-less scan — no broadcast hints needed downstream
    val cents = ensureStatsCheckpoint(
      ivfCentroids(corpus, idCol, vecCol, nClusters, iterations))
    val lists = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("cluster_id"), norm2Scaled(col(vecCol)).as("c_n2"))
    ivfSearch(lists, cents, queries, idCol, vecCol, nProbe, k)
  }

  /** [[ivfTopK]] with caller-supplied centroids — the entry point for
    * sampled training ([[ivfCentroidsSampled]]) or an externally-fit
    * model: one full-corpus assignment pass builds the lists, then the
    * standard probe-and-score. Same plan shape as ivfTopK.
    */
  /** Stats checkpoint unless the frame already IS one: the sampled
    * trainers return materialized stats checkpoints, and re-wrapping a
    * bare LogicalRDD leaf would re-materialize the model table and
    * strand the inner blocks for the session (the r15 ADVICE
    * double-checkpoint shape). Lazy frames (e.g. a raw [[ivfCentroids]]
    * plan handed to [[ivfTopKWithCentroids]]) still get checkpointed —
    * the search reads the model twice.
    */
  private def ensureStatsCheckpoint(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      // a driver-solved model (r17): literal rows, exact LocalRelation
      // stats, free to "re-derive" — wrapping would only add a job
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
      case _ => shims.checkpointWithStats(df)
    }

  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, centroids: DataFrame,
                           nProbe: Int, k: Int): DataFrame = {
    val cents = ensureStatsCheckpoint(centroids)
    val lists = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("cluster_id"), norm2Scaled(col(vecCol)).as("c_n2"))
    ivfSearch(lists, cents, queries, idCol, vecCol, nProbe, k)
  }

  /** Probe-and-score stage shared by the in-memory and stored-index IVF
    * paths: rank each query's cells by centroid distance, keep `nProbe`,
    * equi-join the (broadcast) probe table against the inverted lists on
    * cluster_id, exact-score, cosine top-k.
    */
  private def ivfSearch(lists: DataFrame, cents: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val c = cents.select(col("cluster_id"), col("cvec"),
      norm2Scaled(col("cvec")).as("c_n2s"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_s"), col("cluster_id"))
    // `c` arrives with usable stats on both call paths (stats-carrying
    // checkpoint in ivfTopK, parquet scan in the stored path), so the
    // planner broadcasts it from measured size — no hint
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        norm2Scaled(col(vecCol)).as("q_n2"))
      .crossJoin(c)
      .withColumn("dist_s", col("c_n2s") - lit(2L) * dotScaled(col("q_vec"), col("cvec")))
      .withColumn("__rn", row_number().over(probeW)).filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("q_n2"),
        col("cluster_id").as("p_cluster"))
    val scored = lists.join(broadcast(probes),
        col("cluster_id") === col("p_cluster") &&
          col("neighbor_id") =!= col("query_id"))
      .drop("p_cluster")
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("q_vec"), col("c_vec")), col("q_n2"), col("c_n2")))
    topK(scored, k, Seq("query_id", "neighbor_id", "cluster_id", "cos_sim"))
  }

  /** Declared schemas for the stored-index layouts (r17, guide §6):
    * every piece of an index has a FIXED schema determined by the
    * builder, so probe/sink paths pass it explicitly instead of paying
    * driver-side footer inference per read — and zero-file layouts
    * (empty corpus) read as empty tables instead of failing inference.
    */
  private val CentroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cvec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  private val PqBookSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sub",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cvec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  /** Stored inverted lists ([[writeIvfIndex]], [[ivfSink]]): the corpus
    * contract's BIGINT id and ARRAY<FLOAT> vector, pinned like
    * [[Retrieval.bm25TopKStored]]'s posting schema, whatever the types
    * of the query frame that probes them.
    */
  private val ListsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("c_n2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.IntegerType)))

  /** Stored PQ codes, with `coarse_id` for IVF-PQ; `neighbor_id` pinned
    * BIGINT as in [[ListsSchema]].
    */
  private def pqCodesSchema(withCoarse: Boolean): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType)) ++
      (if (withCoarse) Seq(org.apache.spark.sql.types.StructField("coarse_id",
        org.apache.spark.sql.types.IntegerType)) else Nil))

  /** Materialize the IVF index — the build-once half of the 100 TB
    * contract ivfTopK's doc describes: the tiny centroid model table
    * plus the inverted lists written `partitionBy(cluster_id)`, so every
    * later query batch reads nProbe/nClusters of the corpus FROM DISK
    * (dynamic partition pruning at the parquet scan), not just in
    * memory. Precomputed per-vector norms ride along — search never
    * touches raw vectors it doesn't score.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, iterations: Int, path: String,
                    sampledTraining: Option[Boolean] = None): Unit = {
    // Some(true) = the corpus-scale build ([[ivfCentroidsSampled]]):
    // training cost goes flat in n, the full corpus pays only the one
    // list-assignment pass below. None = AUTO — sampled iff the corpus
    // clears [[AutoSampledTrainingRows]], so the oracle-checked demo
    // builds (small corpora) stay bit-identical with no caller change
    // while production-sized builds stop paying the n^1.5 Lloyd term by
    // default. The sampled trainer already RETURNS a stats checkpoint —
    // wrapping it again would re-materialize the model table and strand
    // the inner blocks (r15 ADVICE).
    val sampled = sampledTraining.getOrElse(autoSampledTraining(corpus.count()))
    val cents =
      if (sampled)
        ivfCentroidsSampled(corpus, idCol, vecCol, nClusters, iterations)
      else ensureStatsCheckpoint(
        ivfCentroids(corpus, idCol, vecCol, nClusters, iterations))
    try {
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      // salted clustering before the partitioned write (r17, guide §6 —
      // see [[graft.operators.Bucketed.clusterForPartitionBy]]): bounds
      // files per cell dir and keeps hot cells parallel
      graft.operators.Bucketed.clusterForPartitionBy(
          ivfAssign(corpus, cents, idCol, vecCol)
            .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
              norm2Scaled(col(vecCol)).as("c_n2"), col("cluster_id")),
          "cluster_id", "neighbor_id")
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$path/lists")
    } finally
      // the checkpoint is dead once the index is on disk (and on a failed
      // write there is nothing left to read it) — free its blocks now
      shims.unpersistLocalCheckpoint(cents)
  }

  /** Search a stored index ([[writeIvfIndex]]): identical results to
    * [[ivfTopK]] with the same build parameters, but the k-means build
    * is amortized across query batches and the broadcast equi-join on
    * the partition column prunes unprobed cluster directories at the
    * scan (asserted in IvfStoredSpec).
    */
  def ivfTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    nProbe: Int = 2, k: Int = 3): DataFrame = {
    val cents = spark.read.schema(CentroidSchema).parquet(s"$path/centroids")
    // DECLARED schema, not footer inference (r17, guide §6 — the probe
    // paths re-inferred these fixed layouts per call; the bm25TopKStored
    // posture): cluster_id keeps its original int type so DPP prunes on
    // the bare attribute, and an EMPTY corpus's zero partition dirs
    // (schema-less layout) read as an empty index instead of failing
    // inference — the declared schema covers what the old try/catch did.
    val lists = spark.read.schema(ListsSchema)
      .parquet(s"$path/lists")
    ivfSearch(lists, cents, queries, idCol, vecCol, nProbe, k)
  }

  // ------------------------------------------- streaming IVF maintenance

  /** Train + persist the standing CENTROID MODEL only — the streaming
    * index's prerequisite (the build half of [[writeIvfIndex]] without
    * the inverted lists, which [[ivfSink]] maintains incrementally).
    * The model is the slow-moving part of an ANN index: production
    * retrains it rarely (a new model is a new index), while vectors
    * stream in continuously against the standing cells.
    */
  def writeIvfModel(corpus: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, iterations: Int, path: String,
                    sampledTraining: Option[Boolean] = None): Unit =
    if (sampledTraining.getOrElse(autoSampledTraining(corpus.count()))) {
      // the sampled trainer returns a stats CHECKPOINT (its Lloyd loop
      // re-reads the sample) — free the model-table blocks once the
      // parquet write has them (r15 ADVICE: this path leaked them)
      val cents = ivfCentroidsSampled(corpus, idCol, vecCol, nClusters, iterations)
      try cents.write.mode("overwrite").parquet(s"$path/centroids")
      finally shims.unpersistLocalCheckpoint(cents)
    } else
      // full Lloyd yields a LAZY frame: the write is its only
      // materialization, nothing persists past it
      ivfCentroids(corpus, idCol, vecCol, nClusters, iterations)
        .write.mode("overwrite").parquet(s"$path/centroids")

  /** STREAMING inverted-list maintenance — IVM for ANN, closing the one
    * asymmetry left in the streaming-index family (BM25 had a full
    * incremental sink, the IVF index was batch-built only): each
    * micro-batch of new vectors is assigned to the STANDING centroids
    * on arrival and lands as a `batch=<id>` shard of the lists table,
    * `cluster_id`-partitioned INSIDE the shard so probe-side cell
    * pruning keeps working. Inverted lists are mergeable across shards
    * by construction — a vector is assigned in exactly one batch and
    * assignment depends only on (vector, centroids) — so the maintained
    * index is IDENTICAL to a from-scratch [[writeIvfIndex]] lists build
    * over all vectors, for any micro-batch split (the t13 oracle).
    *
    * Replay idempotence needs no marker: a re-delivered batch
    * overwrites its own shard bit-for-bit (no additive state — the
    * bm25Sink posture). Per-batch cost is O(delta × nClusters) with the
    * (tiny) centroid table broadcast from measured parquet stats.
    */
  def ivfSink(indexPath: String, idCol: String, vecCol: String)
             (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // declared model schema: the standing-model read runs EVERY batch,
    // and footer inference is per-batch driver work the fold doesn't need
    val cents = spark.read.schema(CentroidSchema).parquet(s"$indexPath/centroids")
    // probeStored: the standing model is a tiny just-written dir — a
    // bounded collect replaces the per-batch broadcast build + exchange
    // NOT salt-clustered like the batch builder (measured +0.1-0.15 s
    // per fold for an exchange the shard doesn't need): a micro-batch
    // shard's file count is bounded by the delta's own task count, and
    // the offline consolidation path ([[compactIvfLists]] ->
    // Compact.compactShards) re-clusters to the target layout anyway —
    // that is where the 100 TB file-count control for streamed shards
    // lives.
    ivfAssign(batch, cents, idCol, vecCol, probeStored = true)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        norm2Scaled(col(vecCol)).as("c_n2"), col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$indexPath/lists/batch=$batchId")
  }

  /** Probe the stream-maintained index: identical results to
    * [[ivfTopKStored]] over every vector any shard has indexed (parity
    * pinned in StreamingAnnSpec and the `t13_streaming_ann` oracle).
    * The lists read goes through [[graft.operators.ShardStore]] —
    * shard-union + any consolidated live dir, declared schema (ids are
    * BIGINT, the repo-wide contract) so empty shards read as zero
    * candidates — and the probe's cluster_id equi-join prunes unprobed
    * cells exactly as the batch stored path does.
    */
  def ivfTopKStreamed(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      nProbe: Int = 2, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.types._
    val cents = spark.read.schema(CentroidSchema).parquet(s"$path/centroids")
    val schema = graft.operators.ShardStore.withBatch(StructType(Seq(
      StructField("neighbor_id", queries.schema(idCol).dataType),
      StructField("c_vec", queries.schema(vecCol).dataType),
      StructField("c_n2", LongType),
      StructField("cluster_id", IntegerType))))
    val lists = graft.operators.ShardStore
      .read(spark, s"$path/lists", schema).drop("batch")
    ivfSearch(lists, cents, queries, idCol, vecCol, nProbe, k)
  }

  /** Offline/drain-tail maintenance for the stream-maintained lists:
    * consolidate the `batch=` shards via the crash-atomic
    * [[graft.operators.Compact.compactShards]]; `cluster_id` stays a
    * partition column of the live dir so cell pruning is preserved and
    * the probe result is unchanged (StreamingAnnSpec pins parity).
    * Same safety contract as the BM25 index: consolidate only batches
    * beyond replay (after an AvailableNow drain terminates, or
    * `upTo` = the owning stream's committed watermark). `minor`/
    * `maxRuns` run the tiered LSM schedule; the `maxRuns` default is
    * the measured probe-latency knee (SCALE.md r14).
    */
  def compactIvfLists(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetBytes: Long = 128L << 20,
      upTo: Long = Long.MaxValue,
      graceMs: Long = 0L,
      minor: Boolean = false,
      maxRuns: Int = graft.operators.Compact.DefaultMaxRuns): graft.operators.Compact.Report =
    graft.operators.Compact.compactShards(spark, s"$indexPath/lists",
      targetBytes, nested = Seq("cluster_id"), upTo = upTo, graceMs = graceMs,
      minor = minor, maxRuns = maxRuns)

  /** Shared drain harness for the streaming-ANN chains (t13/t14): 3-way
    * embedding file-stream → AvailableNow drain through `sink` — ONE
    * spelling of the drain mechanics (source write, readStream options,
    * clamped width, checkpointing) so an edge-case fix cannot apply to
    * one index layout and not the other. Returns the embedding frame
    * for the caller's probe.
    */
  private def drainEmbeddings(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, work: String,
      sink: (DataFrame, Long) => Unit): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = s"$work/vecs"
    val emb = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    emb.repartition(3).write.parquet(src)
    // the stream reads back what was just written from `emb` — its schema
    // IS emb's (parquet-inferred, nullable), no re-inference needed
    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
    graft.streaming.DrainWidth.clamped(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
      q.awaitTermination()
    }
    emb
  }

  /** The whole chain drained end-to-end (the `t13_streaming_ann` driver
    * query): standing centroid model trained once from the corpus →
    * embeddings file-stream (3 arbitrary splits) → per-batch inverted-
    * list shards → stream-index probe. Equals [[ivfTopKStored]] with
    * the same build parameters for any split (oracle-pinned — the
    * `x_ann_ivf` oracle, since assignment is a pure per-vector function
    * of the standing model). With `compact=true` the drain tail
    * consolidates the lists shards behind the drained checkpoint
    * (every batch is committed once AvailableNow terminates) before
    * probing — the opt-in maintenance posture, result-identical.
    */
  def availableNowIvf(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, compact: Boolean = false): DataFrame = {
    val work = graft.streaming.DrainWork.tempDir("graft_stream_ann")
    val idx = s"$work/index"
    writeIvfModel(graft.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding"), "vec_id", "embedding",
      nClusters = 4, iterations = 2, path = idx)
    val emb = drainEmbeddings(spark, sfDir, work,
      ivfSink(idx, "vec_id", "embedding") _)
    // zero-vector drains write no lists dirs at all — explicit path
    // probing, not exception catching (the availableNowBm25 rationale)
    val lists = new org.apache.hadoop.fs.Path(s"$idx/lists")
    val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lists))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id BIGINT, neighbor_id BIGINT, cluster_id BIGINT, cos_sim DOUBLE"))
    if (compact) compactIvfLists(spark, idx)
    ivfTopKStreamed(spark, idx, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", nProbe = 2, k = 3)
      .withColumn("cluster_id", col("cluster_id").cast("bigint"))
  }

  // ------------------------------------------------ product quantization

  /** Explode each vector into `m` contiguous `subDim`-wide subvectors:
    * (id, sub, svec). One `posexplode` over an array of `slice`s — a
    * map-only rewrite, no shuffle; the (id, sub) pair is the PQ unit of
    * work everywhere below.
    */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), posexplode(array(
      (0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
      .as(Seq("sub", "svec")))

  /** One PQ Lloyd assignment pass: per (vector, subspace), the nearest
    * sub-centroid by scaled-integer `‖c‖² − 2⟨x,c⟩` (the ‖x‖² term is
    * constant per row and drops out of the argmin — same trick as
    * [[ivfAssign]]). The codebook table (m·ks rows) is broadcast and the
    * join key is the subspace id, so the exploded corpus is scanned once
    * and never shuffled before the per-(id, sub) argmin.
    */
  private def pqAssign(sv: DataFrame, codebooks: DataFrame,
                       idCol: String): DataFrame =
    // literal-codebook fast shape (see [[ivfAssign]]): per (row, sub)
    // argmin as a sub-dispatched least() chain — map-only, no broadcast
    // build, no (id, sub) exchange. The inner join on sub drops rows
    // whose subspace has no codebook entries; the isNotNull filter
    // reproduces that. Identical rows for unique ids (differential).
    perSubCodeExpr(codebooks, probeStored = false) match {
      case Some(codeCol) =>
        sv.select(col(idCol), col("sub"), col("svec"), codeCol.as("code"))
          .filter(col("code").isNotNull)
      case None =>
        val c = codebooks.select(col("sub").as("c_sub"), col("cluster_id"),
          col("cvec"), norm2Scaled(col("cvec")).as("c_n2s"))
        sv.join(broadcast(c), col("sub") === col("c_sub"))
          .withColumn("dist_s", col("c_n2s") - lit(2L) * dotScaled(col("svec"), col("cvec")))
          .groupBy(col(idCol), col("sub"))
          .agg(min(struct(col("dist_s"), col("cluster_id"))).as("m"),
            first(col("svec")).as("svec"))
          .select(col(idCol), col("sub"), col("svec"), col("m.cluster_id").as("code"))
    }

  /** CASE sub WHEN s THEN argmin-over-books(s) … — the literal
    * per-subspace code expression over `svec`, or None when the
    * codebook table isn't literal-able ([[smallModelRows]]). No
    * otherwise branch: a sub absent from the books yields NULL, which
    * callers filter — the inner-join drop semantics.
    */
  private def perSubCodeExpr(codebooks: DataFrame,
      probeStored: Boolean): Option[Column] =
    smallModelRows(codebooks, probeStored).filter(_.nonEmpty).map { rows =>
      val bySub = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      val cases = bySub.map { case (s, arr) =>
        (s, argminCell(col("svec"), arr).getField("cluster_id"))
      }
      cases.tail.foldLeft(when(col("sub") === cases.head._1, cases.head._2)) {
        case (acc, (s, e)) => acc.when(col("sub") === s, e)
      }
    }

  /** Sub-codebook update: per (subspace, code, dimension) scaled average
    * (order-independent — [[Numeric.scaledAvg]]), reassembled into float
    * subvectors. The only shuffle is the (sub, code, dim) groupBy —
    * m·ks·subDim groups regardless of corpus size.
    */
  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("sub"), col("code").as("cluster_id"),
        posexplode(col("svec")).as(Seq("dim", "v")))
      .groupBy(col("sub"), col("cluster_id"), col("dim"))
      .agg(Numeric.scaledAvg(col("v").cast("double"), IvfScale).as("cv"))
      .groupBy(col("sub"), col("cluster_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("sub"), col("cluster_id"),
        transform(col("pairs"), p => p.getField("cv").cast("float")).as("cvec"))

  /** PQ codebook training: `iterations` full Lloyd rounds PER SUBSPACE
    * from the same deterministic seed rule as [[ivfCentroids]] (the
    * subvectors of the `ks` smallest ids), all rounds running for every
    * subspace in ONE set of jobs (the subspace id is just another group
    * key — m independent k-means for the price of one). Returns
    * (sub, cluster_id, cvec). The driver solve and its one switch, the
    * session's broadcast threshold, are [[ivfCentroids]]'.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, subDim: Int, ks: Int, iterations: Int): DataFrame = {
    // broadcast-small DRIVER SOLVE (see [[collectSmallTraining]]); the
    // uniform-length gate tightens to len == m·subDim so every slice is
    // exactly subDim wide — the only regime where the local twin's
    // copyOfRange mirrors slice() and the sub-codebook dots can't hit
    // the length-mismatch NULL algebra
    collectSmallTraining(corpus, idCol, vecCol, requireLen = Some(m * subDim)) match {
      case Some(rows) =>
        val books = localPqCodebooks(rows, m, subDim, ks, iterations)
        return localModelFrame(corpus.sparkSession,
          Seq("sub", "cluster_id", "cvec"),
          books.toSeq.map { case (s, cid, v) =>
            org.apache.spark.sql.Row(s, cid, v.toSeq) })
      case None => ()
    }
    val sv = subVectors(corpus, idCol, vecCol, m, subDim)
    val w = Window.orderBy(col(idCol))
    var books = corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(ks)
      .select((row_number().over(w) - 1).as("cluster_id"), col(vecCol))
      .select(col("cluster_id"), posexplode(array(
        (0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "cvec")))
      .select(col("sub"), col("cluster_id"), col("cvec"))
    (1 to iterations).foreach { _ =>
      books = pqUpdate(pqAssign(sv, books, idCol))
    }
    books
  }

  /** PQ codebook training on a bounded deterministic sample — the
    * corpus-scale twin of [[ivfCentroidsSampled]]. Full training costs
    * n·ks sub-distance evaluations per iteration (ks is fixed, so the
    * term is linear — but corpus-bound: every Lloyd round re-scans all
    * n). The sample bounds training to ~`trainPerCode`·ks vectors
    * REGARDLESS of corpus size (ks=256 → 16k rows at any n); the full
    * corpus is paid only by the one [[pqEncode]] pass that produces the
    * codes — which is the index build's irreducible scan. Same
    * md5-bottom-k sample and stats-checkpoint discipline as the IVF
    * trainer (every round reads the sample). Measured: the PQ rows of
    * SCALE.md "Round 15: IVF centroid training sized and sampled".
    */
  def pqCodebooksSampled(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int, ks: Int, iterations: Int,
                         trainPerCode: Int = 64): DataFrame = {
    val sampleN = math.max(ks * trainPerCode, ks * 2)
    val sample = shims.checkpointWithStats(
      corpus.select(col(idCol), col(vecCol))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(sampleN))
    // materialize-and-free (in finally — the ivfCentroidsSampled
    // rationale): the books are m·ks rows; returning them lazy would pin
    // the sample's blocks
    try ensureStatsCheckpoint(
      pqCodebooks(sample, idCol, vecCol, m, subDim, ks, iterations))
    finally shims.unpersistLocalCheckpoint(sample)
  }

  /** Encode the corpus against trained codebooks: (id, sub, code) — the
    * compressed representation ADC search scans. At 64 dims / m=4 this
    * is ~4 small ints per vector vs 256 bytes of float32: the scan-size
    * reduction (~64×) is the whole point of PQ at corpus scale.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
               vecCol: String, m: Int, subDim: Int): DataFrame =
    pqAssign(subVectors(corpus, idCol, vecCol, m, subDim), codebooks, idCol)
      .select(col(idCol).as("neighbor_id"), col("sub"), col("code"))

  /** ADC (asymmetric-distance) scoring shared by the inline and stored
    * paths. Per query: a distance table of (sub, code) → scaled partial
    * distance `‖c‖² − 2⟨q_sub,c⟩` (the Σ‖q_sub‖² term is constant per
    * query and drops out of the per-query ranking), nq·m·ks rows,
    * BROADCAST; the code table equi-joins it on (sub, code) — the
    * compressed corpus is scanned once, codes for one vector are
    * co-located so the per-(query, neighbor) sum combines map-side, and
    * the only data-sized shuffle carries n·nq partial rows.
    */
  private def pqSearch(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, m: Int, subDim: Int,
                       k: Int): DataFrame = {
    val c = codebooks.select(col("sub").as("c_sub"), col("cluster_id"),
      col("cvec"), norm2Scaled(col("cvec")).as("c_n2s"))
    val qtab = subVectors(queries, idCol, vecCol, m, subDim)
      .join(c, col("sub") === col("c_sub"))
      .select(col(idCol).as("query_id"), col("sub"), col("cluster_id").as("code"),
        (col("c_n2s") - lit(2L) * dotScaled(col("svec"), col("cvec"))).as("d_s"))
    val scored = codes.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d_s")).as("adist_s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_s"), col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist_s"))
  }

  /** Product-quantization ANN top-k, end to end: train m sub-codebooks
    * (deterministic Lloyd — the learned codebooks themselves are
    * oracle-checkable, like the IVF cells), encode the corpus to m codes
    * per vector, rank by asymmetric distance (query subvectors against
    * codebook entries, summed over subspaces via the code equi-join).
    * All arithmetic is scaled-integer (Scale=1e12; subDim·0.36·1e12 ≈
    * 6e12 per partial, ×m ≪ 2^63), so `adist_s` is exact cross-engine.
    *
    * This is the Jégou et al. PQ design re-expressed relationally: the
    * distance table is a broadcast dimension, the code table is the
    * fact, and ADC is one equi-join + keyed sum. Recall follows the
    * quantizer quality (ks^m effective cells); the exactness contract is
    * on the ADC DISTANCES, not on equality with exact top-k.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, m: Int = 4, subDim: Int = 16, ks: Int = 4,
             iterations: Int = 2, k: Int = 3): DataFrame = {
    val books = ensureStatsCheckpoint(
      pqCodebooks(corpus, idCol, vecCol, m, subDim, ks, iterations))
    pqSearch(pqEncode(corpus, books, idCol, vecCol, m, subDim), books,
      queries, idCol, vecCol, m, subDim, k)
  }

  /** [[pqTopK]] with caller-supplied codebooks — the entry point for
    * sampled training ([[pqCodebooksSampled]]) or an externally-fit
    * quantizer: one full-corpus encode pass, then standard ADC search.
    */
  def pqTopKWithCodebooks(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, codebooks: DataFrame,
                          m: Int, subDim: Int, k: Int): DataFrame = {
    val books = ensureStatsCheckpoint(codebooks)
    pqSearch(pqEncode(corpus, books, idCol, vecCol, m, subDim), books,
      queries, idCol, vecCol, m, subDim, k)
  }

  /** Materialize the PQ index: the tiny codebook table plus the code
    * table — the build-once half of the ADC contract. The codes are
    * written sorted by neighbor_id so one vector's m codes share a
    * row-group (the map-side-combine locality [[pqSearch]] relies on).
    */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int, subDim: Int, ks: Int, iterations: Int,
                   path: String, sampledTraining: Option[Boolean] = None): Unit = {
    // None = auto (see [[AutoSampledTrainingRows]]); the sampled trainer
    // already returns a stats checkpoint — a second wrap would
    // re-materialize and strand the inner blocks (r15 ADVICE)
    val books =
      if (sampledTraining.getOrElse(autoSampledTraining(corpus.count())))
        pqCodebooksSampled(corpus, idCol, vecCol, m, subDim, ks, iterations)
      else ensureStatsCheckpoint(
        pqCodebooks(corpus, idCol, vecCol, m, subDim, ks, iterations))
    try {
      books.write.mode("overwrite").parquet(s"$path/codebooks")
      pqEncode(corpus, books, idCol, vecCol, m, subDim)
        .sortWithinPartitions(col("neighbor_id"), col("sub"))
        .write.mode("overwrite").parquet(s"$path/codes")
    } finally
      // the checkpoint is dead once the index is on disk — free its
      // blocks now, don't wait for GC (the bfsHops/ssspRounds discipline)
      shims.unpersistLocalCheckpoint(books)
  }

  /** Search a stored PQ index ([[writePqIndex]]): identical results to
    * [[pqTopK]] with the same build parameters, with the training and
    * encode amortized across query batches — the scan is the ~64×
    * compressed code table, never the raw vectors.
    */
  def pqTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   m: Int = 4, subDim: Int = 16, k: Int = 3): DataFrame =
    // declared index schemas — no per-probe footer inference (guide §6)
    pqSearch(
      spark.read.schema(pqCodesSchema(withCoarse = false))
        .parquet(s"$path/codes"),
      spark.read.schema(PqBookSchema).parquet(s"$path/codebooks"),
      queries, idCol, vecCol, m, subDim, k)

  /** Two-stage PQ serving: ADC shortlists `r` candidates per query off
    * the compressed codes ([[pqTopK]]), then ONLY those r·nq rows join
    * back to raw vectors for an exact cosine re-rank — the standard
    * refine step that recovers exact-metric ordering while the corpus
    * scan stays on the ~64× smaller code table. The shortlist is
    * broadcast against the corpus (vector fetch = one broadcast
    * semi-shaped join, no corpus shuffle); output is exact-cosine top-k
    * within the ADC shortlist.
    */
  def pqRefineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, m: Int = 4, subDim: Int = 16,
                   ks: Int = 4, iterations: Int = 2, r: Int = 10,
                   k: Int = 3): DataFrame = {
    val shortlist = pqTopK(corpus, queries, idCol, vecCol, m, subDim, ks,
      iterations, r).select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm2Scaled(col(vecCol)).as("c_n2"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm2Scaled(col(vecCol)).as("q_n2"))
    val scored = c.join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("q_vec"), col("c_vec")), col("q_n2"), col("c_n2")))
    topK(scored, k, Seq("query_id", "neighbor_id", "cos_sim"))
  }

  // --------------------------------------------------- IVF-PQ (residual)

  /** Per-vector residual against its assigned coarse centroid:
    * (id, coarse_id, rvec). The float32 subtraction is a single IEEE op
    * per element — bit-identical cross-engine — and the `zip_with` HOF
    * is acceptable here because residual materialization runs ONCE at
    * build time (the hot search path touches only codes and the tiny
    * distance tables).
    */
  private def residuals(corpus: DataFrame, coarse: DataFrame,
                        idCol: String, vecCol: String,
                        probeStored: Boolean = false): DataFrame =
    // literal-centroid fast shape (see [[ivfAssign]]): the cell lookup
    // becomes CASE cluster_id WHEN cid THEN zip_with(v, <literal cvec>)
    // — the broadcast cvec join disappears; only the matched branch
    // evaluates, so the per-row cost is the same one zip_with.
    smallModelRows(coarse, probeStored) match {
      case Some(cents) if cents.nonEmpty =>
        // inline the literal assign (one smallModelRows collect, not two)
        val assigned = corpus.select(col(idCol), col(vecCol),
          argminCell(col(vecCol), cents).getField("cluster_id").as("cluster_id"))
        val cases = cents.map { r =>
          (r.getInt(0), lit(r.getSeq[Float](1).toArray))
        }
        val rvec = cases.tail.foldLeft(
          when(col("cluster_id") === cases.head._1,
            zip_with(col(vecCol), cases.head._2, (a, b) => a - b))) {
          case (acc, (cid, cv)) => acc.when(col("cluster_id") === cid,
            zip_with(col(vecCol), cv, (a, b) => a - b))
        }
        assigned.select(col(idCol), col("cluster_id").as("coarse_id"),
          rvec.as("rvec"))
      case _ =>
        ivfAssign(corpus, coarse, idCol, vecCol, probeStored)
          .join(broadcast(coarse.select(col("cluster_id"), col("cvec"))), "cluster_id")
          .select(col(idCol), col("cluster_id").as("coarse_id"),
            zip_with(col(vecCol), col("cvec"), (a, b) => a - b).as("rvec"))
    }

  /** Residual-PQ encode of a residual frame against trained sub-
    * codebooks: (neighbor_id, sub, code, coarse_id) — the single code
    * spelling shared by the batch model build and the streaming sink.
    * The cell id is CARRIED through the argmin aggregation (constant
    * per id → first()) instead of re-joining codes against the
    * corpus-sized residual table — drops a big-big SortMergeJoin from
    * the build.
    */
  private def encodeResiduals(resid: DataFrame, books: DataFrame,
                              idCol: String, m: Int, subDim: Int,
                              probeStored: Boolean = false): DataFrame = {
    val exploded = resid.select(col(idCol), col("coarse_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("rvec"), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "svec")))
    // literal-codebook fast shape (see [[pqAssign]]): map-only encode,
    // no broadcast build, no (id, sub) exchange — coarse_id is just
    // projected through instead of first()-carried
    perSubCodeExpr(books, probeStored) match {
      case Some(codeCol) =>
        exploded.select(col(idCol).as("neighbor_id"), col("sub"),
            codeCol.as("code"), col("coarse_id"))
          .filter(col("code").isNotNull)
      case None =>
        val c = books.select(col("sub").as("c_sub"), col("cluster_id"),
          col("cvec"), norm2Scaled(col("cvec")).as("c_n2s"))
        exploded
          .join(broadcast(c), col("sub") === col("c_sub"))
          .withColumn("dist_s",
            col("c_n2s") - lit(2L) * dotScaled(col("svec"), col("cvec")))
          .groupBy(col(idCol), col("sub"))
          .agg(min(struct(col("dist_s"), col("cluster_id"))).as("m"),
            first(col("coarse_id")).as("coarse_id"))
          .select(col(idCol).as("neighbor_id"), col("sub"),
            col("m.cluster_id").as("code"), col("coarse_id"))
    }
  }

  private def ivfPqModel(corpus: DataFrame, idCol: String, vecCol: String,
                         nCoarse: Int, coarseIters: Int, m: Int, subDim: Int,
                         ks: Int, pqIters: Int,
                         sampledTraining: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // sampled trainer output is already a stats checkpoint — no second
    // wrap (r15 ADVICE: the double checkpoint stranded the inner blocks)
    val coarse =
      if (sampledTraining)
        ivfCentroidsSampled(corpus, idCol, vecCol, nCoarse, coarseIters)
      else ensureStatsCheckpoint(
        ivfCentroids(corpus, idCol, vecCol, nCoarse, coarseIters))
    // checkpointed: the Lloyd loop below re-reads the residuals every
    // round, and the code/cell lookup reads them twice more. The
    // residuals themselves are corpus-sized in BOTH modes — codes need
    // every vector's residual, that pass is the build's irreducible
    // scan; sampling bounds only the codebook Lloyd rounds.
    val resid = shims.checkpointWithStats(
      residuals(corpus, coarse, idCol, vecCol))
    val books =
      if (!sampledTraining)
        ensureStatsCheckpoint(
          pqCodebooks(resid, idCol, "rvec", m, subDim, ks, pqIters))
      else {
        val trainResid = shims.checkpointWithStats(
          resid.select(col(idCol), col("rvec"))
            .orderBy(md5(col(idCol).cast("string")), col(idCol))
            .limit(math.max(ks * 64, ks * 2)))
        // the training sample is dead once the books are materialized —
        // freed in finally so a failed Lloyd round can't strand it
        try ensureStatsCheckpoint(
          pqCodebooks(trainResid, idCol, "rvec", m, subDim, ks, pqIters))
        finally shims.unpersistLocalCheckpoint(trainResid)
      }
    val codes = encodeResiduals(resid, books, idCol, m, subDim)
    (coarse, books, codes, resid)
  }

  /** Probe-and-score shared by the inline and stored IVF-PQ paths: rank
    * coarse cells per query, keep `nProbe`, form the query RESIDUAL per
    * probed cell, build the per-(cell, sub, code) distance table
    * (broadcast — nq·nProbe·m·ks rows), and ADC-sum over the
    * (coarse_id, sub, code) equi-join against the code table. Only
    * corpus codes in probed cells join; the raw vectors are never read
    * at search time.
    */
  private def ivfPqSearch(codes: DataFrame, coarse: DataFrame, books: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          m: Int, subDim: Int, nProbe: Int, k: Int): DataFrame = {
    val c = coarse.select(col("cluster_id"), col("cvec"),
      norm2Scaled(col("cvec")).as("c_n2s"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_s"), col("cluster_id"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(c))
      .withColumn("dist_s", col("c_n2s") - lit(2L) * dotScaled(col("q_vec"), col("cvec")))
      .withColumn("__rn", row_number().over(probeW)).filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("cluster_id").as("coarse_id"),
        zip_with(col("q_vec"), col("cvec"), (a, b) => a - b).as("q_rvec"))
    val bq = books.select(col("sub").as("b_sub"), col("cluster_id"),
      col("cvec"), norm2Scaled(col("cvec")).as("b_n2s"))
    // FULL squared distance ‖rq_sub − c‖², not the ‖c‖²−2⟨rq,c⟩ shortcut
    // the single-table PQ uses: the dropped ‖rq‖² term is constant per
    // query THERE, but here the query residual differs per probed CELL,
    // so dropping it would make adist incomparable across cells (a
    // far-off cell's large ‖rq‖² would fake arbitrarily negative
    // distances). Spec pins the resulting invariant: an exact
    // duplicate's adist is the global minimum.
    val qtab = probes.select(col("query_id"), col("coarse_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("q_rvec"), s * subDim + 1, subDim)): _*))
          .as(Seq("sub", "qsvec")))
      .join(broadcast(bq), col("sub") === col("b_sub"))
      .select(col("query_id"), col("coarse_id"), col("sub"),
        col("cluster_id").as("code"),
        (norm2Scaled(col("qsvec")) + col("b_n2s")
          - lit(2L) * dotScaled(col("qsvec"), col("cvec"))).as("d_s"))
    val scored = codes.join(broadcast(qtab), Seq("coarse_id", "sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"), col("coarse_id"))
      .agg(sum(col("d_s")).as("adist_s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_s"), col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("coarse_id").cast("bigint").as("coarse_id"), col("adist_s"))
  }

  /** IVF-PQ ANN, end to end: coarse cells partition the corpus
    * ([[ivfCentroids]]), PQ codebooks quantize the RESIDUAL against the
    * assigned centroid (m sub-codebooks, shared across cells —
    * [[pqCodebooks]] on the residual frame), search probes `nProbe`
    * cells and ADC-ranks their codes with per-cell query residuals.
    * This is the IVFADC layout every billion-vector ANN store runs —
    * cell pruning bounds the candidates, residual PQ shrinks what a
    * probe scans (~64× under these defaults) — expressed as three
    * deterministic relational stages, so the full learned index is
    * oracle-checkable cross-engine like its IVF and PQ parts.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, nCoarse: Int = 4, coarseIters: Int = 2,
                m: Int = 4, subDim: Int = 16, ks: Int = 4, pqIters: Int = 2,
                nProbe: Int = 2, k: Int = 3): DataFrame = {
    val (coarse, books, codes, _) = ivfPqModel(corpus, idCol, vecCol,
      nCoarse, coarseIters, m, subDim, ks, pqIters)
    ivfPqSearch(codes, coarse, books, queries, idCol, vecCol, m, subDim,
      nProbe, k)
  }

  /** Materialize the IVF-PQ index: two tiny model tables (coarse
    * centroids, sub-codebooks) plus the code table written
    * `partitionBy(coarse_id)` — a probe reads nProbe/nCoarse of the
    * COMPRESSED corpus from disk (partition pruning on the cell, same
    * contract as [[writeIvfIndex]], at PQ's scan width).
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      nCoarse: Int, coarseIters: Int, m: Int, subDim: Int,
                      ks: Int, pqIters: Int, path: String,
                      sampledTraining: Option[Boolean] = None): Unit = {
    // None = auto (see [[AutoSampledTrainingRows]]) — resolved ONCE here
    // so the coarse and sub-codebook trainers can't disagree
    val (coarse, books, codes, resid) = ivfPqModel(corpus, idCol, vecCol,
      nCoarse, coarseIters, m, subDim, ks, pqIters,
      sampledTraining.getOrElse(autoSampledTraining(corpus.count())))
    try {
      coarse.write.mode("overwrite").parquet(s"$path/coarse")
      books.write.mode("overwrite").parquet(s"$path/codebooks")
      graft.operators.Bucketed.clusterForPartitionBy(
          codes, "coarse_id", "neighbor_id")
        .write.mode("overwrite").partitionBy("coarse_id")
        .parquet(s"$path/codes")
    } finally
      // all three model checkpoints (incl. the corpus-sized residuals)
      // are dead once the index is on disk (or the build failed) — free
      // them eagerly
      Seq(coarse, resid, books).foreach(shims.unpersistLocalCheckpoint)
  }

  /** Search a stored IVF-PQ index ([[writeIvfPqIndex]]): identical
    * results to [[ivfPqTopK]] with the same build parameters; training,
    * residuals, and encode all amortize, and the probe scans only the
    * probed cells' code partitions.
    */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      m: Int = 4, subDim: Int = 16, nProbe: Int = 2,
                      k: Int = 3): DataFrame = {
    // DECLARED schemas (guide §6 — no per-probe footer inference): an
    // EMPTY corpus's zero code partitions (schema-less layout, same as
    // writeIvfIndex's lists) read as an empty index under the declared
    // schema — covers what the old inference-failure catch did.
    val codes = spark.read
      .schema(pqCodesSchema(withCoarse = true))
      .parquet(s"$path/codes")
    ivfPqSearch(codes,
      spark.read.schema(CentroidSchema).parquet(s"$path/coarse"),
      spark.read.schema(PqBookSchema).parquet(s"$path/codebooks"),
      queries, idCol, vecCol, m, subDim, nProbe, k)
  }

  // ------------------------------------ streaming IVF-PQ maintenance (t14)

  /** Train + persist the standing IVF-PQ MODEL only (coarse centroids +
    * residual sub-codebooks) — the streaming sink's prerequisite, the
    * [[writeIvfModel]] move applied to the IVFADC layout: models retrain
    * rarely, vectors stream in continuously against the standing model.
    * Training needs the corpus residuals (for the sub-codebook Lloyd
    * rounds) but persists none of them.
    */
  def writeIvfPqModel(corpus: DataFrame, idCol: String, vecCol: String,
                      nCoarse: Int, coarseIters: Int, m: Int, subDim: Int,
                      ks: Int, pqIters: Int, path: String,
                      sampledTraining: Option[Boolean] = None): Unit = {
    // the one training pipeline (t14 parity depends on this path and
    // writeIvfPqIndex training bit-identical models — both resolve auto
    // through the same [[autoSampledTraining]] rule on the same corpus);
    // codes is lazy, so discarding it costs nothing
    val (coarse, books, _, resid) = ivfPqModel(corpus, idCol, vecCol,
      nCoarse, coarseIters, m, subDim, ks, pqIters,
      sampledTraining.getOrElse(autoSampledTraining(corpus.count())))
    try {
      coarse.write.mode("overwrite").parquet(s"$path/coarse")
      books.write.mode("overwrite").parquet(s"$path/codebooks")
    } finally Seq(coarse, resid, books).foreach(shims.unpersistLocalCheckpoint)
  }

  /** STREAMING code-table maintenance for the IVF-PQ index — the
    * [[ivfSink]] pattern at the compressed layout: each micro-batch of
    * new vectors is residual-encoded against the STANDING model
    * (coarse assignment → residual → per-subspace code argmin) and
    * lands as a `batch=<id>` shard of the codes table,
    * `coarse_id`-partitioned INSIDE the shard so probe-side cell
    * pruning keeps working. A vector's codes depend only on
    * (vector, standing model), so the maintained code table is
    * IDENTICAL to a from-scratch [[writeIvfPqIndex]] build with the
    * same model parameters, for any micro-batch split (the t14 oracle).
    * Replay idempotence needs no marker: a re-delivered batch
    * overwrites its own shard bit-for-bit (no additive state).
    */
  def ivfPqSink(indexPath: String, idCol: String, vecCol: String,
                m: Int, subDim: Int)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // declared model schemas — the standing-model reads run EVERY batch
    val coarse = spark.read.schema(CentroidSchema).parquet(s"$indexPath/coarse")
    val books = spark.read.schema(PqBookSchema).parquet(s"$indexPath/codebooks")
    // probeStored: both standing model tables are tiny just-written dirs
    // not salt-clustered — the ivfSink rationale: shard file counts are
    // delta-bounded, consolidation re-clusters
    encodeResiduals(residuals(batch, coarse, idCol, vecCol, probeStored = true),
        books, idCol, m, subDim, probeStored = true)
      .write.mode("overwrite").partitionBy("coarse_id")
      .parquet(s"$indexPath/codes/batch=$batchId")
  }

  /** Probe the stream-maintained IVF-PQ index: identical results to
    * [[ivfPqTopKStored]] over every vector any shard has encoded. The
    * codes read goes through [[graft.operators.ShardStore]] (shard
    * union + any consolidated live dir, declared schema) and the ADC
    * equi-join prunes unprobed cells exactly as the batch path does.
    */
  def ivfPqTopKStreamed(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame, idCol: String,
                        vecCol: String, m: Int = 4, subDim: Int = 16,
                        nProbe: Int = 2, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = graft.operators.ShardStore.withBatch(StructType(Seq(
      StructField("neighbor_id", queries.schema(idCol).dataType),
      StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("coarse_id", IntegerType))))
    val codes = graft.operators.ShardStore
      .read(spark, s"$path/codes", schema).drop("batch")
    ivfPqSearch(codes,
      spark.read.schema(CentroidSchema).parquet(s"$path/coarse"),
      spark.read.schema(PqBookSchema).parquet(s"$path/codebooks"),
      queries, idCol, vecCol, m, subDim, nProbe, k)
  }

  /** Drain-tail/offline consolidation for the stream-maintained codes:
    * same contract as [[compactIvfLists]] — `coarse_id` stays a
    * partition column of the live dir, so cell pruning and the probe
    * result are unchanged. Consolidate only behind the replay
    * watermark.
    */
  def compactIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetBytes: Long = 128L << 20,
      upTo: Long = Long.MaxValue,
      graceMs: Long = 0L,
      minor: Boolean = false,
      maxRuns: Int = graft.operators.Compact.DefaultMaxRuns): graft.operators.Compact.Report =
    graft.operators.Compact.compactShards(spark, s"$indexPath/codes",
      targetBytes, nested = Seq("coarse_id"), upTo = upTo, graceMs = graceMs,
      minor = minor, maxRuns = maxRuns)

  /** The whole IVF-PQ chain drained end-to-end (the
    * `t14_streaming_ivfpq` driver query): standing model trained once →
    * embeddings file-stream (3 arbitrary splits) → per-batch residual-
    * code shards → stream-index ADC probe. Equals [[ivfPqTopKStored]]
    * with the same build parameters for any split (oracle-pinned — the
    * `x_ann_ivfpq` oracle). With `compact=true` the drain tail
    * consolidates the code shards behind the drained checkpoint before
    * probing — opt-in maintenance, result-identical.
    */
  def availableNowIvfPq(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, compact: Boolean = false): DataFrame = {
    val work = graft.streaming.DrainWork.tempDir("graft_stream_ivfpq")
    val idx = s"$work/index"
    writeIvfPqModel(graft.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding"), "vec_id", "embedding", nCoarse = 4,
      coarseIters = 2, m = 4, subDim = 16, ks = 4, pqIters = 2, path = idx)
    val emb = drainEmbeddings(spark, sfDir, work,
      ivfPqSink(idx, "vec_id", "embedding", m = 4, subDim = 16) _)
    // zero-vector drains write no codes dirs at all — explicit path
    // probing, not exception catching (the availableNowIvf rationale)
    val codes = new org.apache.hadoop.fs.Path(s"$idx/codes")
    val fs = codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(codes))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id BIGINT, neighbor_id BIGINT, coarse_id BIGINT, adist_s BIGINT"))
    if (compact) compactIvfPqCodes(spark, idx)
    ivfPqTopKStreamed(spark, idx, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", m = 4, subDim = 16, nProbe = 2, k = 3)
  }

  // -------------------------------------------- embedding-cosine near-dup

  /** Per-component scale for sign-bit quantization: |v| < 1 ⇒ per-term
    * ≤ 1e6, 64-term sums ≪ 2^53; sign of the integer sum is
    * order/engine-independent.
    */
  val BitScale = 1000000L

  /** Deterministic ±1 random-hyperplane matrix: component (j,i) is the
    * parity of the first MD5 byte of "plane:j|i". Derivable as literal
    * constants in any engine — embedded verbatim into the DuckDB oracle,
    * so the bucketing is bit-identical cross-engine (same reason the
    * MinHash family uses md5, not murmur/xxhash).
    */
  def hyperplanes(nPlanes: Int, dims: Int): Array[Array[Int]] =
    Array.tabulate(nPlanes, dims) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane:$j|$i".getBytes("UTF-8"))
      if ((d(0) & 1) == 0) 1 else -1
    }

  /** SimHash-for-embeddings banding: sign bit of ⟨v, plane_j⟩ per
    * hyperplane, grouped into bands of `rowsPerBand` bits →
    * (id, band_idx, band_key). Vectors at angle θ agree per bit with
    * probability 1 − θ/π, so near-dups collide in some band w.h.p.
    *
    * Each signed sum is the codegen'd [[graft.functions.DotProductScaled]]
    * against a ±1 float plane literal — Σᵢ floor(vᵢ·pᵢ·BitScale + 0.5)
    * as int64, exact IEEE ops, so the sign is order/engine-independent
    * and the oracle embeds the identical formula. (The composable
    * `aggregate(zip_with(...))` formulation is interpreted per element —
    * 16 planes × dims lambda dispatches per row dominated the whole
    * operator at the 10× smoke scale.)
    */
  def signBitBands(emb: DataFrame, idCol: String, vecCol: String,
                   planes: Array[Array[Int]], rowsPerBand: Int): DataFrame = {
    // One fused expression for all band keys ([[SignBitBandKeys]]): the
    // per-plane DotProductScaled spelling built a ~4·nPlanes-node tree
    // with nPlanes·dims literals, whose analysis+codegen dominated the
    // query (measured 1.6 s/plan at 64×64). Same bits, same guards:
    // NULL vectors are excluded (a NULL key never equi-joins); a
    // present-but-wrong-width vector fails the task loudly inside the
    // expression — silently sharing one band key would degenerate the
    // candidate join to a cross product.
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(graft.functions.SignBitBandKeys.bandKeys(
        col(vecCol), planes, rowsPerBand, BitScale))
        .as(Seq("band_idx", "band_key")))
  }

  private def scoredPairs(emb: DataFrame, idCol: String, vecCol: String,
                          pairs: DataFrame): DataFrame = {
    val sides = emb.select(col(idCol), col(vecCol).as("v"),
      norm2Scaled(col(vecCol)).as("n2"))
    pairs
      .join(sides.select(col(idCol).as("vec_a"), col("v").as("va"), col("n2").as("na")), "vec_a")
      .join(sides.select(col(idCol).as("vec_b"), col("v").as("vb"), col("n2").as("nb")), "vec_b")
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("va"), col("vb")), col("na"), col("nb")))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Exact embedding-cosine near-dup: all pairs (a < b) with cosine ≥
    * threshold. O(n²) by construction — the correctness baseline; the
    * scale path is [[cosineNearDupLsh]]. The n² join broadcasts one
    * (id, n2) side and evaluates the codegen'd dot product per pair.
    */
  def cosineNearDupExact(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val sides = emb.select(col(idCol), col(vecCol).as("v"),
      norm2Scaled(col(vecCol)).as("n2"))
    val a = sides.select(col(idCol).as("vec_a"), col("v").as("va"), col("n2").as("na"))
    val b = sides.select(col(idCol).as("vec_b"), col("v").as("vb"), col("n2").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        cosineFromScaled(dotScaled(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Embedding-cosine near-dup at scale: sign-bit LSH bands prune the n²
    * pair space to same-band candidates (equi-join on the band key — the
    * only shuffle is keyed on it), then candidates are exact-verified with
    * the scaled cosine ≥ threshold. Output ⊆ [[cosineNearDupExact]] with
    * LSH recall (1 − (1 − p^r)^b, p = 1 − θ/π); both the bucketing and
    * the verification are cross-engine deterministic, so the oracle
    * reproduces the exact same pair set.
    *
    * SIZE THE BANDS TO THE CORPUS: a band key has `rowsPerBand` bits, so
    * a band hashes into 2^rowsPerBand buckets and expected candidates
    * grow as b·n²/2^r. The defaults (r=4 → 16 buckets) are demo-scale;
    * at n = 20k they already regenerate ~n²/4 pairs (measured in the 10×
    * smoke), and at 100 TB they'd be the job. Pick
    * r ≳ log₂(n) − log₂(target bucket size) — e.g. r=16, b=4 (64 planes)
    * holds buckets to ~n/65k — and accept the recall exponent p^r, which
    * for true near-dups (p ≥ 0.9) stays useful across a few bands.
    */
  def cosineNearDupLsh(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nPlanes: Int = 16,
                       rowsPerBand: Int = 4, dims: Int = 64): DataFrame = {
    val bands = signBitBands(emb, idCol, vecCol, hyperplanes(nPlanes, dims), rowsPerBand)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"))
      .distinct()
    scoredPairs(emb, idCol, vecCol, cand).filter(col("cos_sim") >= lit(threshold))
  }

  /** Corpus-sized `rowsPerBand` for [[cosineNearDupLsh]] — the sizing
    * rule from that method's scaladoc as a function:
    * r = ceil(log₂(corpusRows / targetBucketRows)), clamped to [4, 24].
    * A band hashes into 2^r buckets, so this holds the expected bucket
    * to ~`targetBucketRows` vectors and candidate pairs to
    * ~b·n·targetBucket/2 — LINEAR in n — instead of the fixed-r
    * b·n²/2^r quadratic. Measured on the 10× corpus
    * (SCALE.md "Round 15: registry-wide sf1 scaling sweep"): r=8 vs the
    * demo r=4 cut candidates 12.7× and confirm time 9.2× at 20k rows,
    * keeping every
    * near-1 dup family (per-bit agreement p ≈ 1 there) and 71 % of the
    * pair set down at τ=0.4. The clamp: r < 4 under-prunes any corpus;
    * r > 24 costs plane dot products (b·r planes) faster than it
    * prunes, and 2^24 buckets already holds a bucket to ≤ targetBucket
    * rows at 10⁹-row corpora.
    */
  def sizedRowsPerBand(corpusRows: Long, targetBucketRows: Long = 64L): Int = {
    val buckets = math.max(1L, corpusRows / math.max(1L, targetBucketRows))
    val ceilLog2 =
      if (buckets <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1L)
    math.min(24, math.max(4, ceilLog2))
  }

  /** [[cosineNearDupLsh]] with bands sized to the corpus
    * ([[sizedRowsPerBand]]): pass the corpus row count (a metadata-
    * cheap `count()` the caller usually already has) and the band
    * width follows the corpus instead of the demo default. `nBands`
    * trades recall for candidate volume linearly (recall
    * 1 − (1 − p^r)^b); 4 matches the registry spelling.
    */
  def cosineNearDupLshSized(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, corpusRows: Long,
                            nBands: Int = 4, dims: Int = 64,
                            targetBucketRows: Long = 64L): DataFrame = {
    val r = sizedRowsPerBand(corpusRows, targetBucketRows)
    cosineNearDupLsh(emb, idCol, vecCol, threshold,
      nPlanes = nBands * r, rowsPerBand = r, dims = dims)
  }

  /** Per-vector symmetric int8 quantization — the vector-index
    * compression step (4× over float32) every embedding store at corpus
    * scale runs before serving ANN: q_i = round(v_i · 127 / max|v|).
    *
    * Map-only (zero shuffles; at 100 TB this is a pure scan-rewrite).
    * The quantized vector is emitted as a comma-joined string rather
    * than an array so the cross-engine hash compare sees one scalar.
    *
    * Determinism: a single shared IEEE expression tree per element —
    * double-cast, multiply, divide, floor(x + 0.5) — is bit-identical in
    * Spark and DuckDB (scalar ops, no accumulation order); max|v| is an
    * exact fold (max has no rounding). floor(x+0.5), not round(): the
    * engines' round() half-even policies differ ([[graft.functions.Numeric]]).
    * All-zero vectors quantize to all-zero (scale guard), not NaN.
    */
  /** Embedding-space outlier detection: vectors whose cosine to their
    * LABEL centroid falls below `tau` — the mislabeled/contaminated-
    * cluster pass of embedding-based curation (and the residual check an
    * IVF index runs after assignment). Everything is the tall
    * (id, label, dim, v) formulation with scaled-integer sums, so the
    * centroid, the norms, and the cosine are order-independent and
    * bit-identical cross-engine.
    *
    * Plan shape: two keyed shuffles — (label, dim) for the centroid and
    * (id) for the per-vector reduction; the centroid table (labels ×
    * dims rows) broadcasts back, so the exploded vector stream is never
    * shuffled for the join. Linear in corpus size at any scale.
    */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, tau: Double): DataFrame = {
    val tall = emb
      .select(col(idCol), col(labelCol).cast("bigint").as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col(idCol), col("label"),
        (col("dim") + 1).cast("bigint").as("dim"), col("v").cast("double").as("v"))
    val cent = tall.groupBy(col("label"), col("dim"))
      .agg(Numeric.scaledAvg(col("v"), 6).as("c"))
    val c2 = cent.groupBy(col("label"))
      .agg(sum(floor(col("c") * col("c") * lit(Scale.toDouble) + lit(0.5d))
        .cast("bigint")).as("c2_s"))
    val d = tall.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col(idCol), col("label"))
      .agg(
        sum(floor(col("v") * col("c") * lit(Scale.toDouble) + lit(0.5d))
          .cast("bigint")).as("dot_s"),
        sum(floor(col("v") * col("v") * lit(Scale.toDouble) + lit(0.5d))
          .cast("bigint")).as("v2_s"))
    d.join(broadcast(c2), Seq("label"))
      .select(col(idCol), col("label"),
        cosineFromScaled(col("dot_s"), col("v2_s"), col("c2_s")).as("cos_c"))
      .filter(col("cos_c") < tau)
  }

  /** Search the int8-quantized index: per-element dequantize
    * (round(x·127/max)·max/127, cast to float) and run the same
    * brute-force scaled-cosine top-k as the full-precision path. This
    * is the consumer side of [[quantizeInt8]] — it proves the 4×
    * smaller index is SEARCHABLE, with rank error bounded by the
    * quantization step (top-k overlap vs full precision asserted in
    * spec). Quantize→dequantize is the same IEEE scalar tree in both
    * engines (multiply, divide, floor, float cast — all exact or
    * correctly rounded), so the oracle matches bit-for-bit.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    def deq(df: DataFrame): DataFrame = {
      val maxAbs = aggregate(col(vecCol), lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast("double"))))
      df.select(col(idCol), maxAbs.as("__m"), col(vecCol))
        .select(col(idCol),
          transform(col(vecCol), x =>
            (when(col("__m") === 0.0d, lit(0L))
              .otherwise(floor(x.cast("double") * 127.0d / col("__m") + 0.5d)
                .cast("bigint"))
              .cast("double") * col("__m") / lit(127.0d)).cast("float"))
            .as(vecCol))
    }
    bruteForceTopK(deq(corpus), deq(queries), idCol, vecCol, k)
  }

  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = aggregate(col(vecCol), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    emb.select(col(idCol), col(vecCol), maxAbs.as("max_abs"))
      .select(col(idCol), col("max_abs"),
        when(col("max_abs") === 0.0d,
          array_join(transform(col(vecCol), _ => lit(0L).cast("string")), ","))
          .otherwise(array_join(transform(col(vecCol), x =>
            floor(x.cast("double") * 127.0d / col("max_abs") + 0.5d)
              .cast("bigint").cast("string")), ","))
          .as("q_csv"))
  }
}
