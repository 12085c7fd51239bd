package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * - [[cosine]] folds in exact left-to-right double arithmetic (identical
  *   op order to DuckDB's list_reduce, so oracle comparison is bit-exact).
  * - Brute-force top-k broadcasts the (small) query set and scans the
  *   corpus once — the right baseline at any scale: no shuffle of the
  *   corpus, per-partition top-k via window on (query, cos).
  * - The scale path is hyperplane LSH ([[lshBucket]]): one narrow pass to
  *   bucket vectors, shuffle only on (bucket), probe = same-bucket join.
  */
object SimilarityOps {

  /** Exact cosine similarity of two array columns in double math —
    * works for any numeric element type (used with the float corpus
    * against double centroids in IVF). */
  def cosine(a: Column, b: Column): Column = {
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, v) => acc + v)
    val dot = fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = fold(transform(a, x => x.cast("double") * x.cast("double")))
    val nb = fold(transform(b, x => x.cast("double") * x.cast("double")))
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Float-array specialization of [[cosine]] through the native
    * [[graft.functions.FloatDot]] codegen expression — BIT-IDENTICAL
    * values (same ascending-index double fold, so every oracle is
    * untouched), compiled loop instead of per-element lambdas. Use at
    * every ARRAY<FLOAT> × ARRAY<FLOAT> call site; the general form
    * remains for mixed element types. */
  def cosineFF(a: Column, b: Column): Column = {
    import graft.functions.FloatDot
    FloatDot(a, b) / (sqrt(FloatDot(a, a)) * sqrt(FloatDot(b, b)))
  }

  /** splitmix64-style mixer: deterministic ±1 hyperplane weights derived
    * from (seed, bit, element) — same "no stored model" property as
    * hashing per row, but evaluated ONCE at plan time. */
  private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The ±1 hyperplane weight matrix for (bits, seed): shared by the
    * Column builder and the DuckDB oracle SQL generator, so candidate
    * generation is bit-identical cross-engine. */
  def lshWeights(bits: Int, seed: Int, dim: Int = 64): Seq[IndexedSeq[Double]] =
    (0 until bits).map { i =>
      (0 until dim).map { j =>
        if (mix((seed.toLong << 40) | (i.toLong << 20) | j) >= 0) 1.0 else -1.0
      }
    }

  /** Random-hyperplane LSH bucket id: bit i = sign of <v, h_i>. The
    * weights are CONSTANT FOLDED into the plan as array literals — the
    * per-row work is `bits` compiled dot products (FloatDot; ±1 weights
    * are exactly representable as floats, so widening matches the
    * oracle's double math bit-for-bit), not bits×dim hash calls (the
    * hash-per-row form measured 2.7× slower at 100k rows,
    * ScaleBench crossover). */
  def lshBucket(v: Column, bits: Int, seed: Int = 0, dim: Int = 64): Column =
    lshWeights(bits, seed, dim).zipWithIndex.map { case (ws, i) =>
      val weights = array(ws.map(w => lit(w.toFloat)): _*)
      val signedSum = graft.functions.FloatDot(v, weights)
      when(signedSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The same bucket id as [[lshBucket]], as a DuckDB SQL expression over
    * a FLOAT[]-valued expression `vec` — identical weights, identical
    * left-fold order, so buckets match the Spark plan bit-for-bit. */
  def lshBucketSql(vec: String, bits: Int, seed: Int = 0, dim: Int = 64): String =
    lshWeights(bits, seed, dim).zipWithIndex.map { case (ws, i) =>
      val wlit = ws.mkString("[", ",", "]::DOUBLE[]")
      s"""(CASE WHEN list_reduce(list_transform(list_zip($vec, $wlit),
         | p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y) > 0
         | THEN ${1L << i} ELSE 0 END)""".stripMargin.replace("\n", "")
    }.mkString("(", " + ", ")")

  // ------------------------------------------------------------------
  // Brute-force cosine top-k: 5 probe vectors vs the corpus.
  val ProbeIds = 5
  val TopK = 10

  /** Corpus-level brute force over any (vec_id, embedding) frame. */
  def bruteForceTopK(emb: DataFrame, nProbes: Int = ProbeIds, k: Int = TopK): DataFrame = {
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosineFF(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank").cast("long").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def annBruteForce(s: SparkSession, dir: String): DataFrame =
    bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"))

  val annBruteForceSql: String =
    s"""WITH probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $ProbeIds),
       |scored AS (
       |  SELECT q_id, c.vec_id AS c_id,
       |    list_reduce(list_transform(list_zip(q_emb, c.embedding),
       |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_transform(q_emb,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       |     * sqrt(list_reduce(list_transform(c.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos
       |  FROM embeddings c, probes WHERE c.vec_id <> q_id)
       |SELECT q_id, c_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // LSH-bucketed ANN (the 100 TB path): multi-table hyperplane LSH —
  // L independent tables of k bits each; a vector is a candidate for a
  // probe if they share a bucket in ANY table. Exact cosine + top-k on
  // the (much smaller) candidate set only. k and L trade candidate count
  // against recall; shuffle keys are (table, bucket) — never O(n²).
  val LshBits = 4
  val LshTables = 8

  /** The LSH index: one (vec_id, embedding, table, bucket) row per vector
    * per table. At 100 TB this is computed ONCE at write time (partitioned
    * by (table, bucket)); every query then pays only the candidate join —
    * the bucketing pass is query-count-independent. */
  def lshIndex(emb: DataFrame, bits: Int = LshBits, tables: Int = LshTables): DataFrame = {
    val bucketArr = array((0 until tables).map { t =>
      struct(lit(t).as("table"), lshBucket(col("embedding"), bits, seed = t).as("bucket"))
    }: _*)
    emb
      .select(col("vec_id"), col("embedding"), explode(bucketArr).as("tb"))
      .select(col("vec_id"), col("embedding"), col("tb.table"), col("tb.bucket"))
  }

  /** Materialize the LSH index partitioned by (tbl, bucket) — the
    * write-time shape at 100 TB: a probe query filters on its own
    * (table, bucket) pairs, so the parquet scan prunes to the matching
    * partition directories and never reads the rest of the corpus.
    * (`tbl`/`bucket` become hive partition columns; the vector payload
    * is the only data stored per row.) */
  def writeLshIndex(emb: DataFrame, path: String,
      bits: Int = LshBits, tables: Int = LshTables): Unit =
    lshIndex(emb, bits, tables)
      .withColumnRenamed("table", "tbl") // avoid the SQL keyword as a dir name
      .repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite")
      .partitionBy("tbl", "bucket")
      .parquet(path)

  /** Probe a materialized index: join on the partition columns, so only
    * the probes' own (tbl, bucket) directories are scanned. */
  def lshTopKFromIndex(spark: SparkSession, path: String,
      nProbes: Int = ProbeIds, k: Int = TopK): DataFrame = {
    val idx = spark.read.parquet(path)
      .select(col("vec_id"), col("embedding"),
        col("tbl").as("table"), col("bucket"))
    lshTopKIndexed(idx, nProbes, k)
  }

  /** Query phase against a prebuilt [[lshIndex]] frame. */
  def lshTopKIndexed(bucketed: DataFrame, nProbes: Int = ProbeIds, k: Int = TopK): DataFrame = {
    val probes = bucketed.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("table"), col("bucket"))
    val candidates = bucketed
      .join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("q_emb"), col("embedding"))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    candidates
      .select(col("q_id"), col("c_id"), cosineFF(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank").cast("long").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** LSH-bucketed top-k over any (vec_id, embedding) frame; `bits` and
    * `tables` trade candidate-set size against recall. */
  def lshTopK(emb: DataFrame, nProbes: Int = ProbeIds, k: Int = TopK,
      bits: Int = LshBits, tables: Int = LshTables): DataFrame =
    lshTopKIndexed(lshIndex(emb, bits, tables), nProbes, k)

  def annLsh(s: SparkSession, dir: String): DataFrame =
    lshTopK(s.read.parquet(s"$dir/embeddings.parquet"))

  // ------------------------------------------------------------------
  // Scalar-quantized ANN (the compressed-vector path): per-dimension
  // min/max over the corpus → 8-bit codes (0..255) stored as the index
  // (64 bytes/vector instead of 256 at dim 64) → asymmetric scoring: the
  // full-precision probe against the RECONSTRUCTED corpus vector
  // (mn + (code+0.5)·(mx−mn)/255), the FAISS SQ8 shape. Scoring raw
  // codes against raw codes would rank by (a−mn)·(b−mn), which the
  // per-dim shift makes uncorrelated with a·b — reconstruction is what
  // makes 8-bit codes track the exact ranking (recall ≈ 1 at 255
  // levels, see OpsSpec). The min/max "codebook" is a 1-row broadcast;
  // the reconstruction dot product is a fold with the same left-to-right
  // order as DuckDB's list_reduce, so the scores are bit-exact
  // cross-engine.
  val SqLevels = 255

  /** 1-row (mns, mxs) codebook: per-dimension corpus min/max. */
  def sqMinMax(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("d"), col("mn"), col("mx")))).as("a"))
      .select(expr("transform(a, e -> e.mn)").as("mns"),
        expr("transform(a, e -> e.mx)").as("mxs"))

  /** (vec_id, code: array<bigint>) — 8-bit scalar quantization against
    * the codebook (constant dims code to 0). */
  def sqCodes(emb: DataFrame, mm: DataFrame): DataFrame =
    emb.crossJoin(broadcast(mm))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, size(embedding) - 1),
           |  i -> CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS BIGINT)
           |       ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * $SqLevels / (mxs[i] - mns[i])) AS BIGINT)
           |       END)""".stripMargin).as("code"))

  def sqCodes(emb: DataFrame): DataFrame = sqCodes(emb, sqMinMax(emb))

  def sqTopK(emb: DataFrame, nProbes: Int = ProbeIds, k: Int = TopK): DataFrame = {
    val mm = sqMinMax(emb).localCheckpoint() // one corpus pass, reused 3×
    val codes = sqCodes(emb, mm)
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip_approx").desc, col("c_id"))
    codes.select(col("vec_id").as("c_id"), col("code"))
      .crossJoin(broadcast(probes))
      .crossJoin(broadcast(mm))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), expr(
        s"""aggregate(transform(sequence(0, size(code) - 1),
           |  i -> CAST(q_emb[i] AS DOUBLE) * (mns[i] + (code[i] + 0.5D) * (mxs[i] - mns[i]) / $SqLevels)),
           |  0D, (a, x) -> a + x)""".stripMargin).as("ip_approx"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("ip_approx"), col("rank").cast("long").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def annSq(s: SparkSession, dir: String): DataFrame =
    sqTopK(s.read.parquet(s"$dir/embeddings.parquet"))

  val annSqSql: String =
    s"""WITH mm0 AS (
       |  SELECT d, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
       |  FROM (SELECT UNNEST(embedding) AS x,
       |               UNNEST(generate_series(0, len(embedding) - 1)) AS d
       |        FROM embeddings)
       |  GROUP BY d),
       |mm AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm0),
       |codes AS (
       |  SELECT vec_id, list_transform(generate_series(1, len(embedding)),
       |    i -> CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * $SqLevels / (mxs[i] - mns[i])) AS BIGINT)
       |         END) AS code
       |  FROM embeddings, mm),
       |probes AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $ProbeIds),
       |scored AS (
       |  SELECT q_id, c.vec_id AS c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len(c.code)),
       |        i -> CAST(q_emb[i] AS DOUBLE) * (mns[i] + (c.code[i] + 0.5) * (mxs[i] - mns[i]) / $SqLevels))),
       |      (a, x) -> a + x) AS ip_approx
       |  FROM codes c, probes, mm WHERE c.vec_id <> q_id)
       |SELECT q_id, c_id, ip_approx,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip_approx DESC, c_id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Product-quantized ANN (the memory-floor path, FAISS PQ/ADC shape):
  // the 64-dim space splits into M=8 subspaces of 8 dims; each subspace
  // gets a K=16-codeword codebook (deterministic sample: the 16 vectors
  // with smallest affine id-hash — the same init rule as the k-means
  // coarse quantizer; zero Lloyd iterations keeps the oracle relational
  // while preserving the PQ mechanics end-to-end). A vector's code is
  // its per-subspace argmin codeword — 8 small ints ≈ 4 BYTES per
  // vector (64× smaller than fp32). Probing is TWO-STAGE, the
  // deployed-PQ shape: (1) asymmetric distance computation — the probe
  // precomputes its 8×16 partial-dot LUT against the codebook ONCE,
  // then each candidate costs 8 table lookups + an integer sum —
  // shortlists PqCand candidates; (2) an exact inner-product re-rank
  // touches only the shortlist. Partial dots are quantized to
  // micro-units so the 8-term ADC sum is an exact integer in ANY order
  // (a double sum would be shuffle-order-dependent), making the
  // approximate pipeline deterministically oracle-checkable end-to-end.
  //
  // 100 TB shape: the codebook is 128 tiny rows broadcast everywhere;
  // encoding is (corpus × 8) narrow rows collapsed by a map-side
  // combined min-struct groupBy; scoring joins the code table against
  // the broadcast LUT and reduces with an integer sum — the corpus is
  // never shuffled wider than (vec, m), and the stored index is the
  // 4-byte-per-vector code table.
  val PqM = 8
  val PqSub = 8 // dims per subspace (64 / PqM)
  val PqK = 16
  val PqQuantum = 1000000L

  /** (m, k, csub) codebook rows: the K deterministic anchor vectors
    * sliced per subspace. */
  def pqCodebook(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val anchors = emb
      .select(col("vec_id"), col("embedding"),
        ((col("vec_id") * Sampling.HashA + Sampling.HashB) % Sampling.Mod).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(PqK)
      .select(col("embedding"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toIndexedSeq)
    anchors.zipWithIndex.flatMap { case (vec, k) =>
      (0 until PqM).map(m => (m, k.toLong, vec.slice(m * PqSub, (m + 1) * PqSub)))
    }.toSeq.toDF("m", "k", "csub")
  }

  /** (vec_id, m, sub) — the corpus split into double-cast subvectors. */
  private def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> struct(m AS m, " +
          s"transform(slice(embedding, m * $PqSub + 1, $PqSub), x -> CAST(x AS DOUBLE)) AS sub))")).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.sub").as("sub"))

  /** (vec_id, m, k) PQ codes: per-subspace argmin codeword (ties to the
    * smaller k), via a broadcast codebook join + min-struct groupBy. */
  def pqCodes(emb: DataFrame, codebook: DataFrame): DataFrame =
    pqSubvectors(emb)
      .join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"),
        aggregate(zip_with(col("sub"), col("csub"), (x, w) => (x - w) * (x - w)),
          lit(0.0), (acc, v) => acc + v).as("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("k"))).as("dk"))
      .select(col("vec_id"), col("m"), col("dk.k").as("k"))

  /** ADC shortlist size: the exact re-rank touches only this many
    * candidates per probe (2% of the sf0.01 corpus; measured true-top-10
    * containment 0.82 — raw ADC@10 alone is 0.22 with the 16-codeword
    * sampled codebook, which is exactly why deployed PQ is always
    * prefilter + re-rank). */
  val PqCand = 100

  def pqTopK(emb: DataFrame, nProbes: Int = ProbeIds, k: Int = TopK): DataFrame = {
    val cb = pqCodebook(emb)
    val codes = pqCodes(emb, cb)
    // the probe-side ADC lookup table: 8×16 quantized partial dots
    val lut = pqSubvectors(emb.filter(col("vec_id") < nProbes))
      .withColumnRenamed("vec_id", "q_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("m"), col("k"),
        expr(s"CAST(round($PqQuantum * aggregate(zip_with(sub, csub, (x, w) -> x * w), 0D, (a, v) -> a + v)) AS BIGINT)")
          .as("pdot_micro"))
    // stage 1: ADC shortlist over the 4-byte codes
    val adcW = Window.partitionBy(col("q_id")).orderBy(col("score_micro").desc, col("c_id"))
    val shortlist = codes
      .join(broadcast(lut), Seq("m", "k"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("pdot_micro")).as("score_micro"))
      .withColumn("_ar", row_number().over(adcW))
      .filter(col("_ar") <= PqCand)
      .select(col("q_id"), col("c_id"))
    // stage 2: exact inner-product re-rank of the shortlist only
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("c_id"))
    shortlist
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), Seq("c_id"))
      .join(broadcast(probes), Seq("q_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("q_emb"), col("c_emb"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, v) => a + v).as("ip"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("ip"), col("rank").cast("long").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def annPq(s: SparkSession, dir: String): DataFrame =
    pqTopK(s.read.parquet(s"$dir/embeddings.parquet"))

  val annPqSql: String =
    s"""WITH ordered AS (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY (vec_id * ${Sampling.HashA} + ${Sampling.HashB}) % ${Sampling.Mod}, vec_id) - 1 AS k
       |  FROM embeddings),
       |cb AS (
       |  SELECT k, g.m,
       |    list_transform(list_slice(embedding, g.m * $PqSub + 1, (g.m + 1) * $PqSub), x -> CAST(x AS DOUBLE)) AS csub
       |  FROM ordered, UNNEST(generate_series(0, ${PqM - 1})) AS g(m) WHERE k < $PqK),
       |subc AS (
       |  SELECT vec_id, g.m,
       |    list_transform(list_slice(embedding, g.m * $PqSub + 1, (g.m + 1) * $PqSub), x -> CAST(x AS DOUBLE)) AS sub
       |  FROM embeddings, UNNEST(generate_series(0, ${PqM - 1})) AS g(m)),
       |codes AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT s.vec_id, s.m, cb.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        list_reduce(list_transform(list_zip(sub, csub),
       |          p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), cb.k) AS rn
       |    FROM subc s JOIN cb ON cb.m = s.m) WHERE rn = 1),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.m, cb.k,
       |    CAST(round($PqQuantum * list_reduce(list_transform(list_zip(sub, csub),
       |      p -> p[1] * p[2]), (x, y) -> x + y)) AS BIGINT) AS pdot_micro
       |  FROM subc s JOIN cb ON cb.m = s.m WHERE s.vec_id < $ProbeIds),
       |scored AS (
       |  SELECT l.q_id, c.vec_id AS c_id, CAST(sum(pdot_micro) AS BIGINT) AS score_micro
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.k = c.k
       |  WHERE l.q_id <> c.vec_id GROUP BY 1, 2),
       |shortlist AS (
       |  SELECT q_id, c_id FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, c_id) <= $PqCand),
       |rer AS (
       |  SELECT q_id, c_id,
       |    list_reduce(list_transform(list_zip(eq.embedding, ec.embedding),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y) AS ip
       |  FROM shortlist
       |  JOIN embeddings eq ON eq.vec_id = q_id
       |  JOIN embeddings ec ON ec.vec_id = c_id)
       |SELECT q_id, c_id, ip,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, c_id) AS BIGINT) AS rank
       |FROM rer
       |QUALIFY rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // MMR diversity selection (Carbonell & Goldstein 1998, maximal
  // marginal relevance): pick K items that are RELEVANT to a probe but
  // mutually DIVERSE — the subset-selection step of a training-data
  // pipeline (dedup alone keeps near-identical-but-not-duplicate
  // clusters; MMR actively spreads the pick). Greedy: first take the
  // most relevant, then repeatedly take
  //   argmax_d  rel(d) − max_{s∈chosen} sim(d, s)
  // (λ = 0.5 with both terms on the same scale, so the ×2 cancels).
  // Scores are cosine quantized to integer micro-units (ONE round of
  // the shared double fold), so the greedy comparisons are exact
  // integer math — bit-identical to the oracle's recursive CTE.
  //
  // Shape for 100 TB: relevance is one corpus scan with the broadcast
  // probe; the pool is a TakeOrdered top-P (never a global sort); the
  // P×P pairwise block and the K-step greedy run on CONSTANT-size data
  // (P = 32 → 1 024 pairs), driver-side like the PQ codebook anchors —
  // the standard retrieve-distributed / re-rank-centrally split.
  val MmrPool = 32
  val MmrK = 8
  val MmrProbeId = 0L

  def mmrSelect(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val probe = broadcast(
      emb.filter(col("vec_id") === MmrProbeId).select(col("embedding").as("q")))
    val scored = emb.filter(col("vec_id") =!= MmrProbeId)
      .crossJoin(probe) // 1-row probe: structural
      .withColumn("cos", cosineFF(col("embedding"), col("q")))
      .select(col("vec_id"), col("embedding"),
        expr("CAST(round(1000000 * cos) AS BIGINT)").as("rel_micro"))
    // localCheckpoint truncates the pool's lineage so the corpus-wide
    // cosine scan + top-P sort run ONCE, not once per self-join side
    val top = scored.orderBy(col("rel_micro").desc, col("vec_id")).limit(MmrPool)
      .localCheckpoint()
    // rel comes from the pool itself (not the a≠b self-join, which is
    // empty for a singleton pool — the oracle still returns its anchor)
    val rel: Map[Long, Long] = top.select(col("vec_id"), col("rel_micro"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = top.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val b = top.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val sim: Map[(Long, Long), Long] =
      a.join(broadcast(b), col("a") =!= col("b"))
        .withColumn("cos", cosineFF(col("ea"), col("eb")))
        .select(col("a"), col("b"),
          expr("CAST(round(1000000 * cos) AS BIGINT)").as("sim_micro"))
        .collect() // bounded: MmrPool² rows
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact integer greedy; ties by vec_id ascending (matches the oracle)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var rank = 1L
    while (rank <= MmrK && chosen.size < rel.size) {
      val picked = chosen.map(_._2).toSet
      val (id, mmr) = rel.keysIterator.filterNot(picked)
        .map { d =>
          val m = if (picked.isEmpty) rel(d)
            else rel(d) - picked.iterator.map(sv => sim((d, sv))).max
          (d, m)
        }
        .reduceLeft { (x, y) =>
          if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
        }
      chosen += ((rank, id, rel(id), mmr))
      rank += 1
    }
    import s.implicits._
    chosen.toSeq.toDF("sel_rank", "vec_id", "rel_micro", "mmr_micro")
      .orderBy(col("sel_rank"))
  }

  val mmrSelectSql: String = {
    def cosSql(a: String, b: String): String =
      s"""(list_reduce(list_transform(list_zip($a, $b),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         |/ (sqrt(list_reduce(list_transform($a,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         | * sqrt(list_reduce(list_transform($b,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))))""".stripMargin
    s"""WITH RECURSIVE
       |probe AS (SELECT embedding AS q FROM embeddings WHERE vec_id = $MmrProbeId),
       |scored AS (
       |  SELECT e.vec_id, CAST(round(1000000 * ${cosSql("e.embedding", "q")}) AS BIGINT) AS rel_micro
       |  FROM embeddings e, probe WHERE e.vec_id <> $MmrProbeId),
       |pool AS (
       |  SELECT s.vec_id, s.rel_micro, e.embedding
       |  FROM scored s JOIN embeddings e USING (vec_id)
       |  ORDER BY s.rel_micro DESC, s.vec_id LIMIT $MmrPool),
       |pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    CAST(round(1000000 * ${cosSql("a.embedding", "b.embedding")}) AS BIGINT) AS sim_micro
       |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |sel(sel_rank, vec_id, rel_micro, mmr_micro, chosen) AS (
       |  (SELECT 1, vec_id, rel_micro, rel_micro, [vec_id] FROM pool
       |   ORDER BY rel_micro DESC, vec_id LIMIT 1)
       |  UNION ALL
       |  (SELECT s.sel_rank + 1, nxt.vec_id, nxt.rel_micro, nxt.mmr, list_append(s.chosen, nxt.vec_id)
       |   FROM sel s, LATERAL (
       |     SELECT p.vec_id, p.rel_micro,
       |       p.rel_micro - (SELECT max(pr.sim_micro) FROM pairs pr
       |                      WHERE pr.a = p.vec_id AND list_contains(s.chosen, pr.b)) AS mmr
       |     FROM pool p WHERE NOT list_contains(s.chosen, p.vec_id)
       |     ORDER BY mmr DESC, p.vec_id LIMIT 1) nxt
       |   WHERE s.sel_rank < $MmrK))
       |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, rel_micro,
       |  CAST(mmr_micro AS BIGINT) AS mmr_micro
       |FROM sel ORDER BY sel_rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // kNN graph: per-vector top-k neighbor list over the whole corpus —
  // the substrate SemDeDup's cluster pruning, graph-based ANN indexes
  // (HNSW/NSG build from exactly this), and label-propagation over
  // embeddings all start from. The all-pairs form is O(n²); this one
  // generates candidates from the SAME multi-table hyperplane LSH
  // index the ANN path uses, so the only quadratic work is within a
  // bucket — and buckets are capped ([[KnnMaxBucket]], the MaxBucket
  // discipline every LSH family here follows) so a degenerate
  // hyperplane draw degrades recall instead of exploding a task.
  //
  // Shape for 100 TB: one narrow bucketing pass (codegen FloatDot),
  // one (table, bucket)-keyed aggregation, in-bucket pair explode off
  // a bounded ids list, two key-bounded embedding joins for the exact
  // cosine, one per-source rank window. Raising LshBits keeps bucket
  // populations constant as the corpus grows — same dial as the
  // near-dup families.
  val KnnK = 4
  val KnnMaxBucket = 512

  /** Per-vector top-k neighbors among LSH-bucket candidates. */
  def knnGraphOf(emb: DataFrame, bits: Int = LshBits,
      tables: Int = LshTables, k: Int = KnnK): DataFrame = {
    val buckets = lshIndex(emb, bits, tables)
      .groupBy(col("table"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= KnnMaxBucket)
    val pairs = buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val ea = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nn_id"))
    pairs.join(ea, Seq("a")).join(eb, Seq("b"))
      .select(col("a").as("vec_id"), col("b").as("nn_id"),
        cosineFF(col("ea"), col("eb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("nn_id"), col("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphOf(s.read.parquet(s"$dir/embeddings.parquet"))

  /** Oracle: the identical index/bucket-cap/pair/cosine/rank pipeline —
    * literal hyperplane weights make the candidate set reproducible. */
  val knnGraphSql: String = {
    def cosSql(a: String, b: String): String =
      s"""list_reduce(list_transform(list_zip($a, $b),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         |/ (sqrt(list_reduce(list_transform($a,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         | * sqrt(list_reduce(list_transform($b,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))""".stripMargin
    val tables = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${lshBucketSql("embedding", LshBits, seed = t)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL ")
    s"""WITH idx AS ($tables),
       |buckets AS (
       |  SELECT tbl, bucket, list_sort(list(vec_id)) AS ids
       |  FROM idx GROUP BY 1, 2),
       |capped AS (
       |  SELECT * FROM buckets WHERE len(ids) > 1 AND len(ids) <= $KnnMaxBucket),
       |pairs AS (
       |  SELECT DISTINCT a, b
       |  FROM capped, UNNEST(ids) AS ta(a), UNNEST(ids) AS tb(b)
       |  WHERE a <> b),
       |scored AS (
       |  SELECT p.a AS vec_id, p.b AS nn_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM pairs p JOIN embeddings ea ON ea.vec_id = p.a
       |  JOIN embeddings eb ON eb.vec_id = p.b)
       |SELECT vec_id, nn_id, cos,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY rank <= $KnnK
       |ORDER BY vec_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Semi-supervised label spreading over the kNN graph (Zhu &
  // Ghahramani 2002's label propagation, hard-assignment variant) — the
  // curation move that stretches a small budget of trusted labels
  // (human ratings, audited cluster tags) across an unlabeled corpus:
  // seeds keep their label; each round every still-unlabeled vector
  // takes the MAJORITY label among its already-labeled kNN out-
  // neighbors (ties to the smallest label — deterministic), recording
  // the round it was reached.
  //
  // The propagated target is the deterministic k-means CELL id
  // ([[Clustering.assign]]) — a geometry-consistent partition, so the
  // ride-along agreement column actually measures semi-supervised
  // recovery. (The fixture's `label` column is geometrically RANDOM:
  // measured top-4-cosine same-label rate ≈ 10% = chance, so spreading
  // it would measure nothing — the first cut of this operator did
  // exactly that and its agreement landed BELOW chance.)
  //
  // 100 TB shape: the kNN edge list (LSH-bucketed, cap-bounded — see
  // [[knnGraphOf]]) is built once and truncated; each round is one
  // frontier-restricted join + a (vec, label)-keyed count + a bounded
  // rank window — the label-propagation exchange budget, never
  // corpus². Labeled state grows monotonically and rounds are bounded.
  val SpreadSeedMod = 5L
  val SpreadRounds = 3

  def labelSpread(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val edges = Lineage.truncate(
      knnGraphOf(emb).select(col("vec_id"), col("nn_id")))
    val centroids = Clustering.trainCentroids(s, dir)
    val all = Lineage.truncate(
      Clustering.assign(emb.select(col("vec_id"), col("embedding")), centroids)
        .select(col("vec_id"), col("cluster").cast("long").as("true_label")))
    var labeled = Lineage.truncate(
      all.filter(col("vec_id") % SpreadSeedMod === 0)
        .select(col("vec_id"), col("true_label").as("label"),
          lit(0L).as("src_round")))
    for (t <- 1 to SpreadRounds) {
      val votes = edges
        .join(labeled.select(col("vec_id").as("nn_id"), col("label")), Seq("nn_id"))
        .join(labeled.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .groupBy(col("vec_id"), col("label")).agg(count(lit(1)).as("nv"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("nv").desc, col("label"))
      val newly = votes.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("vec_id"), col("label"), lit(t.toLong).as("src_round"))
      labeled = Lineage.truncate(labeled.unionByName(newly))
    }
    labeled.join(all, Seq("vec_id"))
      .select(col("vec_id"), col("label").as("spread_label"), col("src_round"),
        col("true_label"), (col("label") === col("true_label")).as("agree"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: the k-means training/assignment CTEs ([[Clustering]]'s
    * composable chain) + the kNN pipeline as a subquery CTE + the
    * spreading rounds unrolled with the same majority/tie-break
    * semantics. */
  val labelSpreadSql: String = {
    val rounds = (1 to SpreadRounds).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT e.vec_id, l.label, count(*) AS nv
         |  FROM knn e JOIN l${t - 1} l ON l.vec_id = e.nn_id
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM l${t - 1})
         |  GROUP BY 1, 2),
         |l$t AS MATERIALIZED (
         |  SELECT * FROM l${t - 1}
         |  UNION ALL
         |  SELECT vec_id, label, CAST($t AS BIGINT) AS src_round FROM (
         |    SELECT vec_id, label,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY nv DESC, label) AS rk
         |    FROM c$t)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Clustering.kpCte("embeddings")},
       |${Clustering.trainingCtes("(SELECT k FROM kp)")},
       |${Clustering.assignSql("cellasg", "embeddings", Clustering.FinalCent)},
       |cells AS MATERIALIZED (
       |  SELECT vec_id, CAST(cluster AS BIGINT) AS true_label FROM cellasg),
       |knn AS MATERIALIZED (
       |  SELECT vec_id, nn_id FROM (
       |$knnGraphSql
       |)),
       |l0 AS MATERIALIZED (
       |  SELECT vec_id, true_label AS label, CAST(0 AS BIGINT) AS src_round
       |  FROM cells WHERE vec_id % $SpreadSeedMod = 0),
       |$rounds
       |SELECT l.vec_id, l.label AS spread_label, l.src_round,
       |  c.true_label, l.label = c.true_label AS agree
       |FROM l$SpreadRounds l JOIN cells c USING (vec_id)
       |ORDER BY l.vec_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Matryoshka-style ANN (Kusupati et al. 2022's MRL retrieval recipe,
  // the paper's funnel variant): shortlist by the 16-dim PREFIX of the
  // embedding (4× less arithmetic and memory traffic per candidate over
  // the corpus-scale scan), FILTER the shortlist with the 32-dim
  // prefix, then exact-re-rank the surviving candidates at full
  // dimension — each stage halves the precision gap while the row count
  // falls 10×, so the full-precision work is confined to
  // MatShortlist2 × probes rows however large the corpus. Both
  // shortlist stages run through the custom TopKPerGroupExec
  // (per-partition bounded heaps — no corpus-scale sort per probe, the
  // operator's whole reason to exist).
  //
  // Budgets are MEASURED, not assumed (round-11 sweep, full curve in
  // SCALE.md): this fixture's embeddings are untrained and near-
  // isotropic (top-16 PCA energy 0.38 at sf0.01 / 0.31 at sf0.1), so
  // prefix recall is information-bounded and decays with corpus size at
  // any FIXED budget — 192/96 landed 0.82 at sf0.01 but 0.62 at sf0.1.
  // Round 12 therefore made the budget scale-adaptive ([[matBudget]]:
  // max(192, ceil(N/5)), stage-2 half): recall 0.82 @ sf0.01 and
  // 0.80 @ sf0.1, spec-pinned ≥ 0.75 at BOTH. With MRL-TRAINED
  // embeddings the prefix carries near-full signal, the 192 floor
  // binds, and cost stays O(1) per probe — the N/5 fraction is paid
  // only when isotropic data demands it.
  val MatPrefixDim = 16
  val MatMidDim = 32
  val MatShortlist1 = 192
  val MatShortlist2 = 96

  /** Scale-adaptive candidate budget (round-12, closing the r11 sf0.1
    * recall gap): stage-1 shortlist = max(192, ceil(N/5)), stage-2 =
    * half of it. For UNTRAINED near-isotropic embeddings no fixed
    * budget can hold recall as N grows (prefix signal is
    * information-bounded — SCALE.md round-11 curve), so the budget
    * stays a constant FRACTION of the corpus: measured recall 0.82 @
    * sf0.01 (192/96, unchanged) and 0.80 @ sf0.1 (400/200, was 0.62),
    * both over the 0.75 spec floor. MRL-TRAINED embeddings hold recall
    * at the 192 floor, so the production cost stays O(shortlist) per
    * probe; the N/5 growth is the honest price of isotropic data, paid
    * only when the data demands it. Integer form ((n+4) DIV 5) so both
    * engines compute the identical budget. */
  def matBudget(n: Long): (Int, Int) = {
    val s1 = math.max(MatShortlist1.toLong, (n + 4L) / 5L).toInt
    (s1, s1 / 2)
  }

  def annMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val (shortlist1, shortlist2) = matBudget(emb.count()) // 1-row driver read
    val probes = emb.filter(col("vec_id") < ProbeIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      .crossJoin(broadcast(probes)) // bounded probe set: structural
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("pcos", cosineFF(
        expr(s"slice(q_emb, 1, $MatPrefixDim)"),
        expr(s"slice(c_emb, 1, $MatPrefixDim)")))
    import graft.plans.TopKPerGroupOps.Sort
    val stage1 = graft.plans.TopKPerGroupOps.topKPerGroup(
      scored, groupCols = Seq("q_id"),
      orderBy = Seq(Sort("pcos", desc = true), Sort("c_id")), k = shortlist1)
    val stage2 = graft.plans.TopKPerGroupOps.topKPerGroup(
      stage1.withColumn("mcos", cosineFF(
        expr(s"slice(q_emb, 1, $MatMidDim)"),
        expr(s"slice(c_emb, 1, $MatMidDim)"))),
      groupCols = Seq("q_id"),
      orderBy = Seq(Sort("mcos", desc = true), Sort("c_id")), k = shortlist2)
    val wFull = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    stage2
      .select(col("q_id"), col("c_id"),
        cosineFF(col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(wFull)) // shortlist-sized frames
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank").cast("long").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annMatryoshkaSql: String = {
    def cosOf(a: String, b: String): String =
      s"""list_reduce(list_transform(list_zip($a, $b),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         |  / (sqrt(list_reduce(list_transform($a,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         |   * sqrt(list_reduce(list_transform($b,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))""".stripMargin
    s"""WITH budget AS (
       |  SELECT GREATEST($MatShortlist1, (count(*) + 4) // 5) AS s1,
       |         GREATEST($MatShortlist1, (count(*) + 4) // 5) // 2 AS s2
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $ProbeIds),
       |pre AS (
       |  SELECT q_id, c.vec_id AS c_id, q_emb, c.embedding AS c_emb,
       |    ${cosOf(s"q_emb[1:$MatPrefixDim]", s"c.embedding[1:$MatPrefixDim]")} AS pcos
       |  FROM embeddings c, probes WHERE c.vec_id <> q_id),
       |stage1 AS (
       |  SELECT q_id, c_id, q_emb, c_emb,
       |    ${cosOf(s"q_emb[1:$MatMidDim]", s"c_emb[1:$MatMidDim]")} AS mcos
       |  FROM pre
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, c_id)
       |    <= (SELECT s1 FROM budget)),
       |stage2 AS (
       |  SELECT q_id, c_id, q_emb, c_emb FROM stage1
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY mcos DESC, c_id)
       |    <= (SELECT s2 FROM budget))
       |SELECT q_id, c_id, ${cosOf("q_emb", "c_emb")} AS cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY ${cosOf("q_emb", "c_emb")} DESC, c_id) AS BIGINT) AS rank
       |FROM stage2
       |QUALIFY rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // Bitext / parallel-pair mining (margin-based mining, Artetxe &
  // Schwenk 2019, the LASER/CCMatrix recipe): two "languages" simulated
  // by the label parity split; for a bounded PROBE SHARD of side A,
  // every B candidate is scored by the DIFFERENCE margin — cosine minus
  // the mean of both endpoints' k-NN cosines — which suppresses hubs
  // (a vector close to everything mines nothing). The margin runs in
  // exact micro-integer space with NO division: margin_scaled =
  // 2K·cos_u − ΣtopK(x) − ΣtopK(y) (pure BIGINT subtraction — sign-safe
  // across engines, order-free sums over a deterministically chosen
  // top-K set). Emitted: each probe's best candidate plus the MUTUAL
  // flag (forward and backward argmax agree — the paper's retrieval
  // consistency check).
  //
  // 100 TB shape: the probe shard is the unit of fan-out (a production
  // miner shards side A and replaces the exact row/column top-K with
  // ANN neighborhoods — the sim_ann_ivf/lsh machinery); per-shard work
  // is |B| × probes, never |A| × |B|, and the k-NN sums are windows over
  // the shard's score matrix. The B-side neighborhood is computed against
  // the probe shard (the mini-batch mining variant) — a documented
  // operator contract, mirrored exactly in the oracle. Join strategy:
  // only PROBE-cardinality frames (a, ska: <= ProbeCutoff rows) carry
  // broadcast hints; the |B|-cardinality frames (skb, backBest) join
  // plain and shuffle on b_id — AQE broadcasts them when small, and at
  // corpus scale they become sort-merge joins instead of a driver OOM.
  object Bitext {
    val ProbeCutoff = 128L // A-side probes: label even, vec_id < 128
    val MarginK = 4
  }

  def bitextMining(s: SparkSession, dir: String): DataFrame =
    bitextMiningOf(s.read.parquet(s"$dir/embeddings.parquet"))

  def bitextMiningOf(emb: DataFrame): DataFrame = {
    import Bitext._
    val a = emb.filter(pmod(col("label"), lit(2L)) === 0)
      .filter(col("vec_id") < ProbeCutoff)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.filter(pmod(col("label"), lit(2L)) === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val scored = b.crossJoin(broadcast(a))
      .withColumn("cos", cosineFF(col("a_emb"), col("b_emb")))
      .select(col("a_id"), col("b_id"),
        expr("CAST(round(1000000 * cos) AS BIGINT)").as("cos_u"))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_u").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos_u").desc, col("a_id"))
    val ranked = scored
      .withColumn("_ra", row_number().over(wa))
      .withColumn("_rb", row_number().over(wb))
    val ska = ranked.filter(col("_ra") <= MarginK)
      .groupBy(col("a_id")).agg(sum(col("cos_u")).as("ska"))
    val skb = ranked.filter(col("_rb") <= MarginK)
      .groupBy(col("b_id")).agg(sum(col("cos_u")).as("skb"))
    // ska is one row per PROBE (<= ProbeCutoff) — a genuinely bounded
    // broadcast. skb is one row per B-side vector — it grows with the
    // corpus, so it gets NO hint: at sf0.1 AQE broadcasts it anyway,
    // and at 100x it becomes the shuffle join it must be.
    val margins = scored
      .join(broadcast(ska), Seq("a_id"))
      .join(skb, Seq("b_id"))
      .withColumn("margin_scaled",
        lit(2L * MarginK) * col("cos_u") - col("ska") - col("skb"))
    val wFwd = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_scaled").desc, col("b_id"))
    val wBwd = Window.partitionBy(col("b_id"))
      .orderBy(col("margin_scaled").desc, col("a_id"))
    val best = margins
      .withColumn("_fwd", row_number().over(wFwd))
      .withColumn("_bwd", row_number().over(wBwd))
    val backBest = best.filter(col("_bwd") === 1)
      .select(col("b_id"), col("a_id").as("_back_a"))
    // backBest is also |B|-cardinality (one backward argmax per b_id):
    // no hint, for the same reason as skb above.
    best.filter(col("_fwd") === 1)
      .join(backBest, Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("cos_u"), col("margin_scaled"),
        (col("_back_a") === col("a_id")).as("mutual"))
      .orderBy(col("a_id"))
  }

  val bitextMiningSql: String = {
    import Bitext._
    def cos(x: String, y: String): String =
      s"""list_reduce(list_transform(list_zip($x, $y),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         |    / (sqrt(list_reduce(list_transform($x,
         |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
         |     * sqrt(list_reduce(list_transform($y,
         |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)))""".stripMargin
    s"""WITH a AS (
       |  SELECT vec_id AS a_id, embedding AS a_emb FROM embeddings
       |  WHERE label % 2 = 0 AND vec_id < $ProbeCutoff),
       |b AS (
       |  SELECT vec_id AS b_id, embedding AS b_emb FROM embeddings
       |  WHERE label % 2 = 1),
       |scored AS (
       |  SELECT a_id, b_id,
       |    CAST(round(1000000 * ${cos("a_emb", "b_emb")}) AS BIGINT) AS cos_u
       |  FROM b, a),
       |ranked AS (
       |  SELECT a_id, b_id, cos_u,
       |    row_number() OVER (PARTITION BY a_id ORDER BY cos_u DESC, b_id) AS ra,
       |    row_number() OVER (PARTITION BY b_id ORDER BY cos_u DESC, a_id) AS rb
       |  FROM scored),
       |ska AS (SELECT a_id, sum(cos_u) AS ska FROM ranked
       |        WHERE ra <= $MarginK GROUP BY 1),
       |skb AS (SELECT b_id, sum(cos_u) AS skb FROM ranked
       |        WHERE rb <= $MarginK GROUP BY 1),
       |margins AS (
       |  SELECT s.a_id, s.b_id, s.cos_u,
       |    ${2L * MarginK} * s.cos_u - ska.ska - skb.skb AS margin_scaled
       |  FROM scored s JOIN ska ON s.a_id = ska.a_id
       |    JOIN skb ON s.b_id = skb.b_id),
       |best AS (
       |  SELECT a_id, b_id, cos_u, margin_scaled,
       |    row_number() OVER (PARTITION BY a_id
       |      ORDER BY margin_scaled DESC, b_id) AS fwd,
       |    row_number() OVER (PARTITION BY b_id
       |      ORDER BY margin_scaled DESC, a_id) AS bwd
       |  FROM margins),
       |back AS (SELECT b_id, a_id AS back_a FROM best WHERE bwd = 1)
       |SELECT f.a_id, f.b_id, f.cos_u,
       |  CAST(f.margin_scaled AS BIGINT) AS margin_scaled,
       |  back.back_a = f.a_id AS mutual
       |FROM best f JOIN back ON f.b_id = back.b_id
       |WHERE f.fwd = 1
       |ORDER BY f.a_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Embedding isotropy audit (Mu & Viswanath 2018 "all-but-the-top";
  // Ethayarajh 2019): anisotropic embeddings — all vectors leaning into
  // a common direction — break cosine retrieval, and the standard
  // diagnostic is the mean pairwise cosine. The naive form is an
  // all-pairs sum; the SUM-VECTOR IDENTITY removes it entirely:
  // Σ_{i≠j} cos(vi, vj) = ‖Σ v̂i‖² − Σ‖v̂i‖², so the whole audit is one
  // normalize-quantize pass + a d-row aggregate — the 100 TB shape is a
  // single map-side-combined sum per dimension, NO pair ever
  // materializes. Determinism: components are micro-quantized AFTER
  // normalization (per-dim sums are exact BIGINTs, order-free), the
  // self term Σq² is an exact BIGINT, and ‖s‖² folds the d per-dim sums
  // in dimension order left-to-right — the same fixed-order double fold
  // both engines run (the cosineFF/list_reduce precedent).
  private val MeanPairCosSql: String =
    """(sum_norm_sq - CAST(self_q AS DOUBLE))
      |/ (CAST(1000000 AS DOUBLE) * 1000000 * n_vecs * (n_vecs - 1))""".stripMargin

  def isotropyAudit(s: SparkSession, dir: String): DataFrame =
    isotropyAuditOf(s.read.parquet(s"$dir/embeddings.parquet"))

  def isotropyAuditOf(emb: DataFrame): DataFrame = {
    val nrm = emb.select(col("vec_id"), col("embedding"),
        expr("""aggregate(embedding, CAST(0 AS DOUBLE),
          (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""").as("n2"))
      .filter(col("n2") > 0)
    val comps = nrm.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "x")),
        col("n2"))
      .select(col("vec_id"), col("d"),
        expr("CAST(round(1000000 * CAST(x AS DOUBLE) / sqrt(n2)) AS BIGINT)").as("q"))
    val selfq = comps.agg(
      sum(expr("q * q")).as("self_q"),
      countDistinct(col("vec_id")).as("n_vecs"))
    val sumsq = comps.groupBy(col("d")).agg(sum(col("q")).as("s"))
      .agg(expr("""aggregate(
          transform(sort_array(collect_list(struct(d, s))),
            t -> CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE)),
          CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("sum_norm_sq"))
    selfq.crossJoin(sumsq) // two 1-row frames
      .select(col("n_vecs"), col("self_q"), col("sum_norm_sq"),
        expr(MeanPairCosSql).as("mean_pair_cos"))
  }

  val isotropyAuditSql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS n2
       |  FROM embeddings),
       |comps AS (
       |  -- parallel unnests zip in lockstep (DuckDB 1.0 has no WITH
       |  -- ORDINALITY): component and its dimension index together
       |  SELECT vec_id,
       |    unnest(generate_series(0, len(embedding) - 1)) AS d,
       |    CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE)
       |      / sqrt(n2)) AS BIGINT) AS q
       |  FROM nrm WHERE n2 > 0),
       |selfq AS (
       |  SELECT CAST(sum(q * q) AS BIGINT) AS self_q,
       |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs
       |  FROM comps),
       |sd AS (SELECT d, CAST(sum(q) AS BIGINT) AS s FROM comps GROUP BY 1),
       |nsq AS (
       |  SELECT list_reduce(list_transform(list(s ORDER BY d),
       |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (a, b) -> a + b)
       |    AS sum_norm_sq
       |  FROM sd)
       |SELECT n_vecs, self_q, sum_norm_sq,
       |  $MeanPairCosSql AS mean_pair_cos
       |FROM selfq CROSS JOIN nsq""".stripMargin

  // ------------------------------------------------------------------
  // Recall@k audit of the LSH path against exact brute force — the
  // standard ANN index evaluation (the FAISS-style recall@k protocol):
  // per probe, |approx top-k ∩ exact top-k| / k in exact milli-units.
  // The calibration-curve pattern (dedup_minhash_calibration) applied
  // to the vector index: the index is only trustworthy WITH its
  // measured recall, so the audit is a first-class graded query, not a
  // spec assertion. 100 TB shape: both inputs are probe-bounded
  // (ProbeIds × TopK rows), so every join here is on bounded frames —
  // the corpus-scale work lives inside the two audited paths, which
  // keep their own bucketed/broadcast shapes.
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val bf = bruteForceTopK(emb).select(col("q_id"), col("c_id"))
    val ls = lshTopK(emb).select(col("q_id"), col("c_id"))
    val nb = bf.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    val nl = ls.groupBy(col("q_id")).agg(count(lit(1)).as("n_lsh"))
    val inter = bf.join(ls, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
    // all three frames are ProbeIds-bounded: legitimate hints
    nb.join(broadcast(nl), Seq("q_id"), "left")
      .join(broadcast(inter), Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("recall_milli", expr("1000 * n_common DIV n_exact"))
      .orderBy(col("q_id"))
  }

  /** Oracle: the two graded pipelines composed verbatim as CTE
    * subqueries (nested WITH), then the set intersection per probe.
    * (lazy: composes annBruteForceSql/annLshSql, declared further down
    * the object — a strict val here would capture them as null at
    * object init.) */
  lazy val annRecallSql: String =
    s"""WITH bf AS ($annBruteForceSql),
       |ls AS ($annLshSql),
       |nb AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact FROM bf GROUP BY 1),
       |nl AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_lsh FROM ls GROUP BY 1),
       |iv AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_common
       |       FROM bf JOIN ls USING (q_id, c_id) GROUP BY 1)
       |SELECT q_id, n_exact,
       |  CAST(coalesce(n_lsh, 0) AS BIGINT) AS n_lsh,
       |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |  CAST(1000 * coalesce(n_common, 0) // n_exact AS BIGINT) AS recall_milli
       |FROM nb LEFT JOIN nl USING (q_id) LEFT JOIN iv USING (q_id)
       |ORDER BY q_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_recall" -> (annRecall _),
    "sim_isotropy_audit" -> (isotropyAudit _),
    "sim_bitext_mining" -> (bitextMining _),
    "sim_ann_matryoshka" -> (annMatryoshka _),
    "sim_ann_brute_force" -> (annBruteForce _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_sq" -> (annSq _),
    "sim_ann_pq" -> (annPq _),
    "sim_mmr_select" -> (mmrSelect _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_label_spread" -> (labelSpread _)
  )

  /** Full oracle for the LSH path: the literal hyperplane weights make
    * bucket assignment reproducible in SQL, so DuckDB re-runs bucketing,
    * candidate generation, exact cosine, and ranking — approximate
    * RESULTS, but a deterministic and therefore checkable PIPELINE. */
  val annLshSql: String = {
    def cosSql(a: String, b: String): String =
      s"""list_reduce(list_transform(list_zip($a, $b),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
         |/ (sqrt(list_reduce(list_transform($a,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
         | * sqrt(list_reduce(list_transform($b,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))""".stripMargin
    val tables = (0 until LshTables).map { t =>
      s"SELECT vec_id, embedding, $t AS tbl, ${lshBucketSql("embedding", LshBits, seed = t)} AS bucket FROM embeddings"
    }.mkString("\nUNION ALL ")
    s"""WITH idx AS ($tables),
       |probes AS (SELECT vec_id AS q_id, tbl, bucket FROM idx WHERE vec_id < $ProbeIds),
       |cand AS (SELECT DISTINCT p.q_id, i.vec_id AS c_id
       |         FROM idx i JOIN probes p ON p.tbl = i.tbl AND p.bucket = i.bucket
       |         WHERE p.q_id <> i.vec_id),
       |scored AS (SELECT c.q_id, c.c_id, ${cosSql("eq.embedding", "ec.embedding")} AS cos
       |           FROM cand c JOIN embeddings eq ON eq.vec_id = c.q_id
       |           JOIN embeddings ec ON ec.vec_id = c.c_id)
       |SELECT q_id, c_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "sim_ann_recall" -> annRecallSql,
    "sim_bitext_mining" -> bitextMiningSql,
    "sim_isotropy_audit" -> isotropyAuditSql,
    "sim_ann_matryoshka" -> annMatryoshkaSql,
    "sim_ann_brute_force" -> annBruteForceSql,
    "sim_ann_lsh" -> annLshSql,
    "sim_ann_sq" -> annSqSql,
    "sim_ann_pq" -> annPqSql,
    "sim_mmr_select" -> mmrSelectSql,
    "sim_knn_graph" -> knnGraphSql,
    "sim_label_spread" -> labelSpreadSql
  )
}
