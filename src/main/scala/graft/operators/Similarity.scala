package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`):
 *
 *  - brute-force cosine top-k (the exact baseline — broadcast the query
 *    side, never shuffle the corpus);
 *  - sign-LSH (random hyperplane) bucketed ANN — the scale path: candidates
 *    from equi-joins on compact bucket keys, exact cosine re-rank;
 *  - cosine near-dup pairs over the corpus (embedding-based dedup).
 *
 * All vector math is `zip_with` + `aggregate` column algebra in double
 * precision (codegen'd; no UDF). Hyperplanes are Rademacher ±1 vectors —
 * either derived per-row from xxhash64(plane, dim) ([[signBuckets]]) or
 * materialized as an md5-derived literal matrix
 * ([[md5PlaneMatrix]]/[[signBucketsLit]], oracle-reproducible and cheaper)
 * — deterministic, seeded, and free of driver-side randomness either way.
 */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the one-pass primitive
    * [[graft.functions.GraftExpressions.CosineSim]] expression
    * (bit-identical to [[cosineHof]]: same per-element double ops in the
    * same fold order — OperatorsSpec property-tests the equality; callers
    * register via [[graft.functions.GraftExpressions.register]], which
    * every public operator entry point below does). */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** The column-algebra cosine the custom expression replaced — kept as
    * the bit-identity reference for the property test; the HOF fold built
    * a fresh products array and dispatched interpreted lambdas per
    * element, ×3 per pair (dot + both norms). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def reg(df: DataFrame): Unit =
    graft.functions.GraftExpressions.register(df.sparkSession)

  /**
   * Exact top-k cosine neighbors for each query row. `queries` is expected
   * to be small (it is broadcast); the corpus side streams — one pass, no
   * corpus shuffle except the final per-query top-k (tiny).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    reg(corpus)
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk").cast("long").as("rk"))
  }

  /**
   * Symmetric per-dimension int8 scalar quantization + integer
   * inner-product top-k — the memory/bandwidth scale path for an
   * embedding store (4× smaller than float32; the dot product is pure
   * integer, so the WHOLE ranking is engine-exact, no float ever):
   * code_j = round(x_j · 127 / amax_j) with amax_j = max|x_j| over the
   * corpus (zero-point 0, the FAISS `SQ8`-style symmetric variant).
   *
   * Determinism: amax is a float32 max (exact), the quantize step is two
   * IEEE double ops + one round per element (identical cross-engine),
   * and everything after is int arithmetic — the oracle rebuilds codes
   * and ranking bit-exactly.
   *
   * Shape at 100 TB: the per-dim amax is ONE map-side-combined aggregate
   * collapsing to `dim` driver-resident rows (bounded by the embedding
   * dim — the corpus itself never reaches the driver), folded into the
   * code projection as a literal array so BOTH sides' codes cost zero
   * joins and the corpus is scanned exactly once; the search is the
   * [[bruteForceTopK]] broadcast-queries shape over int codes (at full
   * scale the same codes feed the IVF cells of [[ivfAssign]] —
   * quantization composes with, not replaces, the coarse index).
   */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val amsLit = typedlit(amaxGrid(corpus))
    val c = int8Codes(corpus, amsLit, "n_id", "n_code")
    val q = int8Codes(queries, amsLit, "q_id", "q_code")
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("dot_q",
        aggregate(zip_with(col("q_code"), col("n_code"),
          (a, b) => a.cast("long") * b.cast("long")),
          lit(0L), (acc, v) => acc + v))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("dot_q").desc, col("n_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("dot_q"),
        col("rk").cast("long").as("rk"))
  }

  /** Per-dimension max|x| over the corpus, driver-resident as a
    * pos-ordered array (the k-means "centers live on the driver, the
    * corpus never does" shape, [[ivfKmeans]]): ONE corpus scan total — a
    * lazy amax subtree would re-run the full aggregate for every caller
    * of the resulting literal. */
  private def amaxGrid(corpus: DataFrame): Seq[Float] = corpus
    .select(posexplode(col("embedding")).as(Seq("pos", "x")))
    .groupBy("pos").agg(max(abs(col("x"))).as("am"))
    .orderBy("pos")
    .collect().map(_.getFloat(1)).toSeq // gate: O(P) — one row per embedding DIMENSION (bounded by dim, never per-vector)

  /** Symmetric int8 codes against a literal amax grid (see
    * [[quantizedTopK]] for the determinism argument). */
  private def int8Codes(df: DataFrame, amsLit: Column,
      idAs: String, codeAs: String): DataFrame =
    df.select(
      col("vec_id").as(idAs),
      zip_with(col("embedding"), amsLit, (x, m) =>
        when(m === 0f, lit(0))
          .otherwise(round(x.cast("double") * 127.0 / m.cast("double"))
            .cast("int"))).as(codeAs))

  /**
   * Product quantization top-k (Jégou et al. 2011, the FAISS `PQ` path)
   * in the INTEGER domain: the [[quantizedTopK]] int8 codes are split
   * into `m` subspaces; each subspace is vector-quantized against a
   * `ks`-entry codebook; a vector's compressed form is `m` small code
   * indices (m bytes vs dim floats — 32× here) and search is asymmetric
   * distance computation: per query ONE m×ks lookup table of exact
   * integer subspace distances, then every corpus vector scores as a sum
   * of `m` table lookups over its code — never touching the original
   * embedding.
   *
   * Codebook: the `ks` int8 codes of the md5-smallest vec_ids — a
   * deterministic SAMPLE codebook (exactly a k-means init; refining it
   * is the [[ivfKmeans]] Lloyd loop per subspace, an offline training
   * concern deliberately out of this operator). md5-seeding makes the
   * DuckDB oracle rebuild the identical codebook, encode, LUT, and
   * ranking — and since every distance is integer, the whole pipeline is
   * engine-exact with no rounding discipline needed.
   *
   * Shape at 100 TB: the codebook sample is a distributed
   * TakeOrderedAndProject (O(ks) driver rows); encode is a narrow
   * per-row projection against the literal codebook (m·ks·sub integer
   * ops/row, rides the scan that writes the code column); the search
   * scans ONLY the m-byte codes with the bounded query side broadcast
   * (per-query LUT is m×ks longs), and the only shuffle is the per-query
   * top-k. `withExact = true` re-attaches the full int8 codes to ground
   * the ADC estimate (exact_l2 per reported pair) — at corpus scale you
   * drop it and the code-column scan is the entire I/O.
   *
   * Output per query: (q_id, n_id, adc_dist, exact_l2?, rk ≤ k), ranked
   * by (adc_dist asc, n_id).
   */
  /** The column-algebra PQ encode `pq_encode` replaced — kept ONLY as
    * the bit-identity reference for GraphSketchSpec's property test (the
    * [[graft.operators.Dedup.shingleArrSpec]] discipline), never on the
    * hot path: it dispatched m·ks interpreted zip_with/aggregate lambdas
    * with two nested element_at derefs per element. `cbLit` is the
    * nested m×ks×sub codebook literal. */
  def pqEncodeSpec(code: Column, cbLit: Column, m: Int, ks: Int,
      sub: Int): Column = {
    def subDist(subv: Column, j: Column, cc: Column): Column =
      aggregate(zip_with(subv,
        element_at(element_at(cbLit, (j + 1).cast("int")), (cc + 1).cast("int")),
        (x, y) => (x.cast("long") - y.cast("long")) *
          (x.cast("long") - y.cast("long"))),
        lit(0L), (a, v) => a + v)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val subv = slice(code, j * lit(sub) + lit(1), lit(sub))
      val dists = transform(sequence(lit(0), lit(ks - 1)),
        cc => subDist(subv, j, cc))
      (call_function("array_position", dists, array_min(dists)) - 1)
        .cast("int")
    })
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ks: Int = 16, withExact: Boolean = true): DataFrame = {
    graft.functions.GraftExpressions.register(corpus.sparkSession)
    val ams = amaxGrid(corpus)
    val amsLit = typedlit(ams)
    val dim = ams.length
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val sub = dim / m
    val c = int8Codes(corpus, amsLit, "n_id", "n_code")
    // codebook sample: ks md5-smallest ids — plans as a distributed
    // TakeOrderedAndProject (per-partition heaps), never a global sort
    val sample = c.orderBy(
        conv(substring(md5(concat(lit("pqcb:"),
          col("n_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        col("n_id"))
      .limit(ks)
      .collect() // gate: O(P) — ks codebook rows (config-bounded), never per-vector
    require(sample.length == ks, s"corpus smaller than codebook: ${sample.length} < $ks")
    val cb: Seq[Seq[Seq[Int]]] = Seq.tabulate(m)(j =>
      sample.toSeq.map(_.getSeq[Int](1).slice(j * sub, (j + 1) * sub).toSeq))
    val cbLit = typedlit(cb)
    // exact integer L2 between a subvector and codebook entry (j, cc) —
    // LUT use only (the bounded query side); the corpus encode goes
    // through the one-pass pq_encode expression
    def subDist(subv: Column, j: Column, cc: Column): Column =
      aggregate(zip_with(subv,
        element_at(element_at(cbLit, (j + 1).cast("int")), (cc + 1).cast("int")),
        (x, y) => (x.cast("long") - y.cast("long")) *
          (x.cast("long") - y.cast("long"))),
        lit(0L), (a, v) => a + v)
    // corpus encode: ONE primitive pass (argmin ties → smallest index,
    // the array_position-first-hit rule — bit-identity vs [[pqEncodeSpec]]
    // property-tested in GraphSketchSpec)
    val cbFlat: Seq[Int] = cb.flatten.flatten
    def pqEncode(code: Column): Column =
      graft.functions.GraftExpressions.pq_encode(code, cbFlat, m, ks)
    // per-query ADC lookup table: lut[j][c] = dist(q's subspace j, cb[j][c])
    def lutOf(code: Column): Column =
      transform(sequence(lit(0), lit(m - 1)), j => {
        val subv = slice(code, j * lit(sub) + lit(1), lit(sub))
        transform(sequence(lit(0), lit(ks - 1)), cc => subDist(subv, j, cc))
      })
    val nCols = Seq(col("n_id"), pqEncode(col("n_code")).as("pq")) ++
      (if (withExact) Seq(col("n_code")) else Nil)
    val n = c.select(nCols: _*)
    val q = int8Codes(queries, amsLit, "q_id", "q_code")
      .select(col("q_id"), col("q_code"), lutOf(col("q_code")).as("lut"))
    val joined = n.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("adc_dist",
        aggregate(zip_with(col("lut"), col("pq"),
          (l, p) => element_at(l, (p + 1).cast("int"))),
          lit(0L), (a, v) => a + v))
    val grounded =
      if (withExact) joined.withColumn("exact_l2",
        aggregate(zip_with(col("q_code"), col("n_code"),
          (a, b) => (a.cast("long") - b.cast("long")) *
            (a.cast("long") - b.cast("long"))),
          lit(0L), (acc, v) => acc + v))
      else joined
    val outCols = Seq(col("q_id"), col("n_id"), col("adc_dist")) ++
      (if (withExact) Seq(col("exact_l2")) else Nil) :+
      col("rk").cast("long").as("rk")
    grounded
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adc_dist"), col("n_id"))))
      .filter(col("rk") <= k)
      .select(outCols: _*)
  }

  /** ±1 Rademacher component for (plane, dim position), from xxhash64. */
  private def rademacher(plane: Column, j: Column): Column =
    (xxhash64(plane, j).bitwiseAND(lit(1L)) * 2 - 1).cast("double")

  /** Sign-LSH bucket keys: `tables` keys, each from `planesPerTable`
    * hyperplane sign bits (one long per table). */
  def signBuckets(vec: Column, tables: Int, planesPerTable: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)), t => {
      val bits = transform(sequence(lit(0), lit(planesPerTable - 1)), p => {
        val plane = t * planesPerTable + p
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") * rademacher(plane, j)),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L)).otherwise(lit(0L))
      })
      aggregate(zip_with(bits, sequence(lit(0), lit(planesPerTable - 1)),
        (b, i) => call_function("shiftleft", b, i.cast("int"))), lit(0L), (a, x) => a.bitwiseOR(x))
    })

  /** ±1 hyperplane matrix derived from md5 (a public cross-engine hash, the
    * q28/q31/q32 technique) so the driver's DuckDB oracle rebuilds the
    * EXACT planes in SQL: sign of (plane p, dim j) = +1 iff the low bit of
    * the first md5 byte of "plane:p:j" is 0 (⇔ second hex digit even). The
    * matrix is tiny (planes×dims) and rides the plan as a literal — the
    * per-row hashing cost of the xxhash64 form disappears entirely. */
  def md5PlaneMatrix(planes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(planes)(p => Seq.tabulate(dims) { j =>
      val h = md.digest(s"plane:$p:$j".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    })
  }

  /** [[signBuckets]] over an explicit literal plane matrix. */
  def signBucketsLit(vec: Column, matrix: Seq[Seq[Double]],
      planesPerTable: Int): Column = {
    val tables = matrix.length / planesPerTable
    val m = typedlit(matrix)
    transform(sequence(lit(0), lit(tables - 1)), t => {
      val bits = transform(sequence(lit(0), lit(planesPerTable - 1)), p => {
        val planeVec = element_at(m, (t * lit(planesPerTable) + p + lit(1)).cast("int"))
        val proj = aggregate(
          zip_with(vec, planeVec, (x, w) => x.cast("double") * w),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L)).otherwise(lit(0L))
      })
      aggregate(zip_with(bits, sequence(lit(0), lit(planesPerTable - 1)),
        (b, i) => call_function("shiftleft", b, i.cast("int"))), lit(0L), (a, x) => a.bitwiseOR(x))
    })
  }

  /**
   * ANN top-k via sign-LSH: corpus and queries hash into `tables` bucket
   * keys; candidates = bucket equi-join matches in ANY table; exact cosine
   * re-rank keeps top-k. Recall < 1 by construction (that's the trade);
   * measure it against [[bruteForceTopK]] — the spec asserts a floor.
   * `md5Planes = true` swaps the xxhash64 planes for the md5-derived,
   * oracle-reproducible family, evaluated by the one-pass
   * `sign_buckets_md5` expression (bit-identical to
   * [[signBucketsLit]] over [[md5PlaneMatrix]] — property-tested).
   */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 8, planesPerTable: Int = 12,
      md5Planes: Boolean = false): DataFrame = {
    reg(corpus)
    def withBuckets(df: DataFrame, prefix: String): DataFrame =
      df.select(col("vec_id").as(s"${prefix}_id"), col("embedding").as(s"${prefix}_emb"),
        posexplode(
          if (md5Planes)
            graft.functions.GraftExpressions
              .sign_buckets_md5(col("embedding"), tables, planesPerTable)
          else signBuckets(col("embedding"), tables, planesPerTable))
          .as(Seq("table_idx", "bucket")))
    val c = withBuckets(corpus, "n")
    val q = withBuckets(queries, "q")
    c.join(q, Seq("table_idx", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "q_emb", "n_id", "n_emb").dropDuplicates("q_id", "n_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk").cast("long").as("rk"))
  }

  /** Embedding-cosine near-dup pairs (cos ≥ threshold) — sign-LSH blocked,
    * exact verify; the embedding flavor of [[Dedup]]. `md5Planes = true`
    * swaps the per-row xxhash64 planes for the md5-derived family — same
    * trade as [[annTopK]]'s: the xxhash64 form pays tables×planes×dims
    * hash evals PER ROW (8.1 s → ~2 s at sf0.1 when the literal matrix
    * replaced it), is oracle-reproducible, and is evaluated by the
    * one-pass `sign_buckets_md5` expression — bit-identical to the
    * [[signBucketsLit]] column algebra it replaced (property-tested),
    * which had dispatched tables×planes×dims interpreted lambdas and
    * allocated one dims-array per plane per row. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      tables: Int = 12, planesPerTable: Int = 10,
      md5Planes: Boolean = false): DataFrame = {
    reg(corpus)
    val b = corpus.select(col("vec_id"), col("embedding"),
      posexplode(
        if (md5Planes)
          graft.functions.GraftExpressions
            .sign_buckets_md5(col("embedding"), tables, planesPerTable)
        else signBuckets(col("embedding"), tables, planesPerTable))
        .as(Seq("table_idx", "bucket")))
    val l = b.select(col("table_idx"), col("bucket"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val r = b.select(col("table_idx"), col("bucket"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    l.join(r, Seq("table_idx", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_emb", "b_emb").dropDuplicates("a_id", "b_id")
      .withColumn("cos", round(cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /**
   * Deterministic hash-order init sample for [[kmeansCentroids]], exposed
   * for plan tests: `orderBy(md5key, vec_id).limit(cells)` plans as a
   * distributed TakeOrderedAndProject (every partition keeps its local
   * top-`cells`, the driver merges k rows) — the round-2 form was a
   * `row_number` Window with NO partition spec, which funnels the whole
   * corpus through ONE task (a driver-adjacent bottleneck at 100 TB).
   * cell_id = rank in the same (md5key, vec_id) total order, recovered
   * WITHOUT any window: the k winners collapse into one sorted array and
   * posexplode's position is the rank. Selects the identical top-`cells`
   * rows under the identical order, so the q30 oracle is unchanged.
   */
  def kmeansInit(corpus: DataFrame, cells: Int, seed: Long): DataFrame =
    corpus
      .select(col("vec_id"), col("embedding"),
        md5(concat(lit(s"km:$seed:"), col("vec_id").cast("string"))).as("kk"))
      .orderBy(col("kk"), col("vec_id"))
      .limit(cells)
      .agg(array_sort(collect_list(struct(col("kk"), col("vec_id"),
        col("embedding")))).as("a"))
      .select(posexplode(col("a")).as(Seq("cell_id", "s")))
      .select(col("cell_id").cast("int").as("cell_id"),
        col("s").getField("embedding").as("cell_emb"))

  /**
   * Nearest-centroid assignment as a PER-ROW argmax over a literal
   * centroid matrix: the (driver-resident) centroids are embedded in the
   * projection, and each point row computes its cosine to every cell and
   * keeps the best — no join, no exchange, one output row per input row.
   * Argmax = `max` over ONE packed LONG per cell —
   * `round(d·10¹²)·2²¹ − cell_id` — so lexicographically the winner is
   * best-d, ties to the LOWEST cell_id (the rank-1 row of
   * `ORDER BY d DESC, cell_id`).
   *
   * Precondition: (vec_id, embedding) rows are UNIQUE. The output keeps
   * the input multiplicity, so an exact duplicate row yields a duplicate
   * [[ivfAssign]] row and counts twice in the Lloyd means; every in-repo
   * corpus has unique vec_ids.
   *
   * `d` is rounded to 12 decimals on BOTH engines of the correctness gate
   * (Spark's avg() partial-sum order is not bit-deterministic, so ranking
   * full-precision doubles could flake across runs/engines — ADVICE r2);
   * the long-scaling afterwards is Spark-only and exact: distinct rounded
   * values differ by ≥10⁻¹², i.e. ≥1 after scaling, while the double
   * product's error is ≤~10⁻⁴ — order-preserving with matched ties.
   * Bounds: |d|≤1 → |round(d·10¹²)·2²¹| < 2.2·10¹⁸ < Long.Max; cell_id
   * < 2²¹ asserted by [[kmeansCentroids]] callers (cells ≤ 2M).
   */
  private def nearestCell(points: DataFrame, centroids: DataFrame): DataFrame = {
    val K = 1L << 21
    // Round 6 (guide §1.2/§2.4): the centroid set is driver-resident by
    // construction (kmeansCentroids' Lloyd loop holds it as a Map; the
    // callers' DataFrame is a LocalRelation), so the assignment rides the
    // scan as a PER-ROW literal-matrix argmax — no broadcast build job, no
    // corpus×cells crossJoin rows, no groupBy exchange. The packed-long
    // argmax arithmetic is IDENTICAL to the former crossJoin+max form
    // (same d rounding, same mk packing, same tie rule), so assignments
    // are bit-equal — OperatorsSpec/q30/q45 oracles pin this.
    val rows = centroids.select(col("cell_id"), col("cell_emb"))
      .collect() // gate: O(P)=O(cells) centroid rows (a LocalRelation for every in-repo caller), never per-vector
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).sortBy(_._1)
    val embLit = typedlit(rows.map(_._2).toSeq)
    val idLit = typedlit(rows.map(_._1.toLong).toSeq)
    val mks = transform(sequence(lit(0), lit(rows.length - 1)), i => {
      val d = round(cosine(col("embedding"),
        element_at(embLit, (i + 1).cast("int"))), 12)
      round(d * lit(1e12)).cast("long") * lit(K) -
        element_at(idLit, (i + 1).cast("int"))
    })
    points.select(col("vec_id"), col("embedding"),
      pmod(-array_max(mks), lit(K)).cast("int").as("cell_id"))
  }

  /**
   * Seeded Lloyd's k-means over the embedding column — REAL centroids for
   * the IVF index (round 1 shipped a lowest-id stand-in). Everything stays
   * distributed DataFrame algebra: init = deterministic hash-order sample
   * ([[kmeansInit]] — distributed top-k, no global window); each iteration
   * is one assignment aggregate ([[nearestCell]]) + one
   * element-wise mean (posexplode → per-(cell, dim) avg → re-assembled
   * array). The CORPUS never touches the driver; the k·dim center set
   * does — the MLlib KMeans shape (see the in-body comment for why that
   * is strictly better than the k-row-DataFrame + localCheckpoint form
   * this replaced). Emptied cells keep their previous centroid.
   */
  def kmeansCentroids(corpus: DataFrame, cells: Int, iters: Int = 5,
      seed: Long = 42L): DataFrame = {
    reg(corpus)
    require(cells > 0 && cells < (1 << 21), "cell_id must fit nearestCell's packed argmax")
    val spark = corpus.sparkSession
    import spark.implicits._
    // The centroid set lives on the DRIVER between iterations — the Spark
    // MLlib KMeans shape: the corpus stays distributed, the k·dim centers
    // ride each iteration as a broadcast LocalRelation. This changes
    // nothing asymptotically (the former DataFrame form's broadcast join
    // ALREADY funneled every centroid through the driver per iteration)
    // but drops the per-iteration localCheckpoint jobs, the broadcast
    // collect job, and the emptied-cell anti-join+union plan: one Lloyd
    // iteration = ONE distributed action. At 10⁵ cells × 768 dims the
    // array is ~300 MB — broadcast-sized by construction, same bound the
    // join form had.
    // init order by md5 (not xxhash64): deterministic either way, but md5
    // is a public cross-engine hash, so the DuckDB oracle replays the SAME
    // init sample and every unrolled Lloyd iteration after it (q30)
    var centers: Map[Int, Seq[Float]] =
      kmeansInit(corpus, cells, seed)
        .as[(Int, Seq[Float])].collect().toMap // gate: O(P)=O(cells) centroid rows, never per-doc
    var i = 0
    while (i < iters) {
      val cDf = centers.toSeq.sortBy(_._1).toDF("cell_id", "cell_emb")
      // Round 6: ONE distributed aggregate per Lloyd iteration — the
      // (cell, pos) means come back as cells·dim slim rows and the
      // centroid arrays are assembled driver-side, dropping the second
      // groupBy(cell) exchange + collect_list/array_sort stage the
      // round-5 form paid per iteration (guide §1.2: cut the sequential
      // per-iteration fixed cost). Float32 truncation is unchanged
      // (.toFloat ≡ cast("float"), round-to-nearest on the same double).
      val updated: Map[Int, Seq[Float]] = nearestCell(corpus, cDf)
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos")).agg(avg(col("v").cast("double")).as("m"))
        .collect() // gate: O(P)=O(cells·dim) mean rows, never per-doc
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        }
      // emptied cells keep their previous centroid
      centers = centers.map { case (id, e) => id -> updated.getOrElse(id, e) }
      i += 1
    }
    centers.toSeq.sortBy(_._1).toDF("cell_id", "cell_emb")
  }

  /**
   * IVF coarse index: assign every vector to its nearest k-means centroid
   * ([[nearestCell]] — a per-row argmax over the centroids as a literal
   * matrix; the corpus streams through one projection with no join and no
   * exchange). Requires unique (vec_id, embedding) rows, see nearestCell.
   * Query: probe the `nprobe` nearest cells only, exact re-rank inside.
   */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    reg(corpus)
    nearestCell(corpus, centroids)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
  }

  /**
   * SemDeDup semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-
   * efficient learning at web-scale through semantic deduplication"):
   * k-means-cluster the embedding space, then prune near-duplicate pairs
   * WITHIN each cluster only — the clustering bounds the candidate set so
   * the quadratic pairwise pass never sees the whole corpus. Within a
   * duplicate pair the paper keeps the item with the LOWER cosine to its
   * centroid (keep the outlier, drop the prototypical copy); ties break to
   * the lower vec_id. Returns the REMOVED rows with evidence
   * `(vec_id, cell_id, max_cos, n_dups)`.
   *
   * Scale shape: reuses [[kmeansCentroids]] (distributed init + literal-
   * matrix-assignment Lloyd) and [[ivfAssign]] (per-row argmax);
   * the centroid re-join broadcasts (≤ `cells` rows); the pairwise pass is
   * a self-equi-join on `cell_id` — one shuffle per side, quadratic only
   * inside a cell. At 100 TB `cells` grows with the corpus (the paper uses
   * k ∝ N) so per-cell membership stays bounded; a skewed fat cell is AQE
   * skew-join territory, and the removal rule is a pure EXISTS — no
   * sequential greedy pass, every pair decides independently, map-side
   * combinable. Cosines round to 6 decimals BEFORE any comparison on both
   * engines (the q30 cross-engine discipline).
   */
  def semDeDup(corpus: DataFrame, cells: Int, iters: Int, threshold: Double,
      seed: Long = 42L): DataFrame = {
    reg(corpus)
    val centroids = kmeansCentroids(corpus, cells, iters, seed)
    // Round 6: cc re-attaches the centroid embedding by INDEXING the
    // literal matrix on cell_id instead of a broadcast join (cell ids are
    // 0..cells-1 by kmeansInit construction — asserted below); same
    // cosine, same rounding, one less broadcast build + join stage.
    val cRows = centroids.select(col("cell_id"), col("cell_emb"))
      .collect() // gate: O(P)=O(cells) centroid rows (LocalRelation), never per-vector
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).sortBy(_._1)
    require(cRows.map(_._1).sameElements(cRows.indices),
      "semDeDup literal cc-indexing needs contiguous 0..k-1 cell ids")
    val cEmbLit = typedlit(cRows.map(_._2).toSeq)
    val withC = ivfAssign(corpus, centroids)
      .withColumn("cc", round(cosine(col("embedding"),
        element_at(cEmbLit, (col("cell_id") + 1).cast("int"))), 6))
      .select(col("cell_id"), col("vec_id"), col("embedding"), col("cc"))
    val lhs = Seq("vec_id", "embedding", "cc")
      .foldLeft(withC)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val rhs = Seq("vec_id", "embedding", "cc")
      .foldLeft(withC)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    lhs.join(rhs, Seq("cell_id"))
      .filter(col("a_vec_id") =!= col("b_vec_id"))
      .withColumn("cos", round(cosine(col("a_embedding"), col("b_embedding")), 6))
      .filter(col("cos") >= lit(threshold))
      // a is removed when b is the preferred keeper: closer-to-the-edge
      // (lower cc), ties to the lower id
      .filter(col("b_cc") < col("a_cc") ||
        (col("b_cc") === col("a_cc") && col("b_vec_id") < col("a_vec_id")))
      .groupBy(col("cell_id"), col("a_vec_id").as("vec_id"))
      .agg(max(col("cos")).as("max_cos"), count(lit(1)).as("n_dups"))
      .select(col("vec_id"), col("cell_id"), col("max_cos"), col("n_dups"))
  }

  def ivfTopK(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    reg(queries)
    // top-nprobe needs a rank, not an argmax — but the window partitions by
    // vec_id over the QUERY side only (small by contract), never the corpus
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("d", round(cosine(col("embedding"), col("cell_emb")), 12))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d").desc, col("cell_id"))))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("cell_id"))
    probes.join(assigned.withColumnRenamed("vec_id", "n_id")
        .withColumnRenamed("embedding", "n_emb"), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk").cast("long").as("rk"))
  }
}
