package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.functions.HexKey
import graft.expressions.VectorExprs.{vecDot, vecNorm}

/** Similarity search over the embedding column (SURVEY §2 rows 53–55, 61).
  *
  * Operator contract (r2): every search op takes a BOUNDED query set as
  * an explicit DataFrame — the broadcast side is |queries|, never a
  * fraction of the corpus (a corpus/50 "query set" broadcasts 2 TB at
  * 100 TB). The registered q53/q54/q61 entries instantiate the contract
  * with the `vec_id % 50` test probe set; production callers pass their
  * own small table.
  *
  * q53 is the exact baseline: corpus × query brute cosine, per-query
  * top-k. The rank ≤ k filter compiles to a map-side WindowGroupLimit,
  * so the ranking shuffle carries ≤ k·|queries| rows per input
  * partition, not the scored cross product. q54 (hyperplane LSH) and
  * q61 (IVF, nprobe ≥ 1) cut the scanned fraction; recall is measured
  * against q53 in `SimilaritySpec`.
  */
object SimOps {

  // native codegen expressions (graft.expressions.FloatVecDot) — the
  // declarative zip_with/aggregate form is interpreted per pair and ~20×
  // slower on the O(n·k) candidate-scoring path
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", vecNorm(col("embedding")))

  private def dot(a: Column, b: Column): Column = vecDot(a, b)

  /** The test probe set: every 50th vector. Kept ONLY as the registered
    * entries' instantiation of the bounded-query contract. */
  private[graft] def testQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 50 === 0)

  // --- 53. brute-force cosine top-k -------------------------------------
  /** Exact kNN: scans the corpus once against the broadcast query set —
    * no corpus shuffle before the map-side-limited ranking. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus).select(col("vec_id").as("n_id"),
      col("embedding").as("e_n"), col("nrm").as("n_n"))
    val q = withNorm(queries).select(col("vec_id").as("q_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q53(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    knnBrute(e, testQueries(e), 5)
  }

  val q53Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
      |        FOR i IN range(1, len(q.embedding) + 1)]) / (q.nrm * c.nrm), 6) AS cos
      |  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, cos, rank FROM ranked
      |WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // --- 54. random-hyperplane LSH ANN (rows-check; recall vs q53 in spec) -
  /** 8 deterministic pseudo-random hyperplanes → 8-bit sign bucket; each
    * query scores only its bucket. Integer-formula planes keep the op
    * reproducible without any stored model. */
  val NumPlanes = 8

  private def planeComponent(p: Int, j: Column): Column =
    ((lit(p) * 31 + j * 17) % 13 - 6).cast("double")

  /** Sign-bucket for one plane table; `table` offsets the plane formula so
    * multiple independent tables can be OR-combined ([[annLshMulti]] /
    * q78). Native codegen'd expression
    * ([[graft.expressions.LshBucketOf]]) — the declarative per-plane
    * fold ([[bucketOfDeclarative]]) ran the interpreted HOF evaluator
    * 8× per corpus vector per table (r17 VERDICT #2: the one remaining
    * interpreted fold in a hot ANN path); ExpressionsSpec pins the two
    * forms equal and the q54/q78/q170 oracles replay the declarative
    * form, so the driver's hash gate re-proves it per run. */
  def bucketOf(emb: Column, table: Int = 0): Column =
    graft.expressions.VectorExprs.lshBucket(emb, table * NumPlanes, NumPlanes)

  /** The declarative form [[bucketOf]] compiles away — kept as the
    * equivalence pin's reference implementation (ExpressionsSpec). */
  private[graft] def bucketOfDeclarative(emb: Column, table: Int = 0): Column =
    (0 until NumPlanes).map { p =>
      val d = aggregate(zip_with(emb, sequence(lit(0), size(emb) - 1),
        (x, j) => x.cast("double") * planeComponent(table * NumPlanes + p, j)),
        lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  def annLsh(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus).withColumn("bucket", bucketOf(col("embedding")))
      .select(col("vec_id").as("n_id"), col("embedding").as("e_n"),
        col("nrm").as("n_n"), col("bucket"))
    val q = withNorm(queries).withColumn("bucket", bucketOf(col("embedding")))
      .select(col("vec_id").as("q_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"), col("bucket"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q54(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    annLsh(e, testQueries(e), 5)
  }

  /** DuckDB replay of [[bucketOf]]: the planes are an integer formula and
    * the plane/vector dot product is the same index-ordered double fold
    * as the q53 oracle's list_sum, so the 8-bit sign bucket is
    * bit-replayable (the r2 q37 md5-bucket pattern, applied to LSH). */
  private def bucketSql(e: String, table: Int): String =
    (0 until NumPlanes).map { p =>
      val pp = table * NumPlanes + p
      s"""(CASE WHEN list_sum([CAST($e[i] AS DOUBLE) *
         |      CAST(($pp * 31 + (i - 1) * 17) % 13 - 6 AS DOUBLE)
         |      FOR i IN range(1, len($e) + 1)]) >= 0
         |    THEN ${1 << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private val embNrmCteSql: String =
    """e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm
      |  FROM embeddings)""".stripMargin

  private def pairCosSql(q: String, c: String): String =
    s"""round(list_sum([CAST($q.embedding[i] AS DOUBLE) * CAST($c.embedding[i] AS DOUBLE)
       |        FOR i IN range(1, len($q.embedding) + 1)]) / ($q.nrm * $c.nrm), 6)""".stripMargin

  lazy val q54Sql: String =
    s"""WITH $embNrmCteSql,
       |b AS (
       |  SELECT vec_id, embedding, nrm,
       |    CAST(${bucketSql("embedding", 0)} AS INTEGER) AS bucket
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.bucket,
       |    ${pairCosSql("q", "c")} AS cos
       |  FROM b q JOIN b c
       |    ON q.bucket = c.bucket AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank, bucket FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // --- 170. hard-negative mining (r12) -----------------------------------
  /** Contrastive-training data mining: for each query doc, the top-K
    * candidates by cosine inside the HARD band [[HnLo]] ≤ cos <
    * [[HnHi]] — similar enough to be confusable (that is what
    * makes a negative HARD and the contrastive gradient informative),
    * but with the near-dup ceiling EXCLUDED: a pair at cos ≥ the q50
    * duplicate range is a false negative that actively poisons an
    * embedding train (the q85 decontamination rationale applied to the
    * negative set — spec-pinned against q53's brute truth).
    *
    * Scale shape: q54's hyperplane-LSH candidate generation verbatim —
    * one corpus scan, sign-bucket join against the BROADCAST bounded
    * query set, per-partition ranking shuffle ≤ k·|queries| rows; the
    * bucket collision is the right candidate bias here (colliding
    * vectors skew high-cos — exactly the hard end the miner wants;
    * mining does not need recall against a global band, it needs K
    * genuinely hard candidates per query). The band edges compare on
    * the SAME round-6 cosine both engines compute ⇒ FULL oracle
    * (the q54 chain + the band predicate). */
  val HnLo = 0.30
  val HnHi = 0.90
  val HnK = 3

  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = withNorm(corpus).withColumn("bucket", bucketOf(col("embedding")))
      .select(col("vec_id").as("n_id"), col("embedding").as("e_n"),
        col("nrm").as("n_n"), col("bucket"))
    val q = withNorm(queries).withColumn("bucket", bucketOf(col("embedding")))
      .select(col("vec_id").as("q_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .filter(col("cos") >= HnLo && col("cos") < HnHi)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q170(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    hardNegatives(e, testQueries(e), HnK)
  }

  lazy val q170Sql: String =
    s"""WITH $embNrmCteSql,
       |b AS (
       |  SELECT vec_id, embedding, nrm,
       |    CAST(${bucketSql("embedding", 0)} AS INTEGER) AS bucket
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${pairCosSql("q", "c")} AS cos
       |  FROM b q JOIN b c
       |    ON q.bucket = c.bucket AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |banded AS (SELECT * FROM scored WHERE cos >= $HnLo AND cos < $HnHi),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM banded)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= $HnK
       |ORDER BY q_id, rank""".stripMargin

  // --- 78. multi-table LSH ANN (OR-amplification) -----------------------
  /** OR-construction over `tables` independent hyperplane tables: a
    * candidate needs a bucket match in ANY table, so per-pair miss
    * probability drops from p to pᵗ. Table 0 is exactly q54's table,
    * hence candidates(multi) ⊇ candidates(single) and — because a true
    * top-k neighbor can only be outranked by globally-better vectors —
    * recall is provably monotone in the table count (SimilaritySpec).
    * Candidates dedup by (q_id, n_id) before scoring so each pair's dot
    * product runs once regardless of how many tables it collides in. */
  def annLshMulti(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, eAs: String, nAs: String) =
      withNorm(df).select(col("vec_id").as(idAs), col("embedding").as(eAs),
          col("nrm").as(nAs),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("tbl"), bucketOf(col("embedding"), t).as("bucket"))): _*))
            .as("tb"))
        .select(col(idAs), col(eAs), col(nAs),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val c = bucketed(corpus, "n_id", "e_n", "n_n")
    val q = bucketed(queries, "q_id", "e_q", "n_q")
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(first(col("e_q")).as("e_q"), first(col("n_q")).as("n_q"),
        first(col("e_n")).as("e_n"), first(col("n_n")).as("n_n"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cand
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q78(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    annLshMulti(e, testQueries(e), 5, tables = 4)
  }

  /** q54's bucket replay expanded per table (OR-construction: distinct
    * candidate pairs over any table's bucket match, scored once). */
  lazy val q78Sql: String = {
    val perTable = (0 until 4).map(t =>
      s"""  SELECT vec_id, bucket_$t AS bucket, $t AS tbl FROM (
         |    SELECT vec_id, CAST(${bucketSql("embedding", t)} AS INTEGER) AS bucket_$t
         |    FROM e) _b$t""".stripMargin).mkString("\n  UNION ALL\n")
    s"""WITH $embNrmCteSql,
       |b AS (
       |$perTable),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM b q JOIN b c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket
       |    AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT cand.q_id, cand.n_id, ${pairCosSql("q", "c")} AS cos
       |  FROM cand
       |  JOIN e q ON cand.q_id = q.vec_id
       |  JOIN e c ON cand.n_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  // --- 61. IVF-style ANN (coarse quantizer = per-label centroids) -------
  /** The 100 TB ANN path: a small centroid table (the coarse quantizer —
    * here the per-label centroids, i.e. a k-means that already converged)
    * collapses to ONE broadcast row of `(cell_id, centroid, norm)`
    * structs; cell assignment is then a per-row argmax folded into the
    * scan — `array_min(transform(cells, …))` over the broadcast array —
    * with NO shuffle of the corpus (the r1 formulation exploded corpus ×
    * cells and shuffled it through a window argmax). Queries probe their
    * `nprobe` nearest cells; corpus vectors live in exactly one cell, so
    * candidate pairs are unique by construction. */
  def centroidCells(e: DataFrame): DataFrame =
    cellsOfCmeans(cmeansOf(e))

  /** Per-(label, dim) decimal-exact means of an `(embedding, label)`
    * relation — [[centroidCells]]'s first stage, exposed as the seed
    * state of the Lloyd refinement ([[lloydCmeans]]). Order-independent
    * decimal sums keep it cross-engine deterministic (the
    * [[centroidMeanCtesSql]] twin). */
  private[graft] def cmeansOf(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v").cast("decimal(18,9)")).cast("double") / count(lit(1))).as("c"))

  /** `(cell_id, centroid float[])` assembled from a `(label, dim, c)`
    * mean relation — [[centroidCells]]'s second stage; the float cast
    * happens HERE (both engines cast the double mean once, at use). */
  private[graft] def cellsOfCmeans(cm: DataFrame): DataFrame =
    cm.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("label").as("cell_id"),
        transform(col("dc"), x => x.getField("c").cast("float")).as("centroid"))

  /** All cells as one broadcastable row: (cell_id, centroid, norm)[]. */
  def cellsAsRow(cells: DataFrame): DataFrame =
    cells.select(col("cell_id"), col("centroid"),
        vecNorm(col("centroid")).as("cn"))
      .agg(collect_list(struct(col("cell_id"), col("centroid"), col("cn")))
        .as("cells"))

  /** Per-row scored cell list: struct(−cos, cell_id), so array_min picks
    * max cosine with min-cell_id tiebreak (the r1 window's exact order),
    * and array_sort ranks cells best-first for nprobe > 1. The comparator
    * cosine is rounded to 6 decimals so cell assignment is bit-replayable
    * by other engines (round(−x) = −round(x) under half-away-from-zero —
    * the DuckDB oracle of the dedup scale path orders by the same rounded
    * value). Input must carry `embedding`, `nrm` and the broadcast
    * `cells` array. */
  private def scoredCells: Column =
    transform(col("cells"), c =>
      struct(round(negate(vecDot(col("embedding"), c.getField("centroid")) /
        (col("nrm") * c.getField("cn"))), 6).as("negcos"),
        c.getField("cell_id").as("cell_id")))

  /** Nearest-cell assignment with zero corpus shuffle (spec-checked in
    * SimilaritySpec): crossJoin of a 1-row broadcast + a map-side argmax.
    * Native codegen'd argmin ([[graft.expressions.CellArgMin]]) — the
    * `array_min(transform(cells, …))` chain is CodegenFallback and ran
    * the interpreted evaluator once per corpus row (r18, the r17
    * VERDICT #5 sweep); ExpressionsSpec pins native ≡ declarative and
    * the q61/q75/q105/q160/q187 oracles replay the declarative argmax,
    * so the driver's hash gate re-proves it per run. */
  def assignToCells(vecs: DataFrame, cellsRow: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cellsRow))
      .withColumn("cell_id", graft.expressions.AnnExprs.cellArgMin(
        col("embedding"), col("nrm"), col("cells")))
      .drop("cells")

  /** The declarative argmin [[assignToCells]] compiles away — kept as
    * the equivalence pin's reference implementation (ExpressionsSpec). */
  private[graft] def assignToCellsDeclarative(vecs: DataFrame,
      cellsRow: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cellsRow))
      .withColumn("cell_id", array_min(scoredCells).getField("cell_id"))
      .drop("cells")

  /** Top-nprobe cell assignment (queries): one row per probed cell. */
  def probeCells(vecs: DataFrame, cellsRow: DataFrame, nprobe: Int): DataFrame =
    vecs.crossJoin(broadcast(cellsRow))
      .withColumn("probe", explode(slice(array_sort(scoredCells), 1, nprobe)))
      .withColumn("cell_id", col("probe").getField("cell_id"))
      .drop("cells", "probe")

  def ivf(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cellsRow = cellsAsRow(centroidCells(corpus))
    val c = assignToCells(withNorm(corpus), cellsRow)
      .select(col("vec_id").as("n_id"), col("embedding").as("e_n"),
        col("nrm").as("n_n"), col("cell_id"))
    val q = probeCells(withNorm(queries), cellsRow, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"), col("cell_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(q), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"), col("cell_id"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q61(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    ivf(e, testQueries(e), 5, nprobe = 1)
  }

  /** The q75-oracle assignment replay (rounded-cosine argmax over the
    * decimal-exact centroids) at nprobe = 1, then the in-cell top-k. */
  /** `cent`/`centn`/`cscored`/`assigned` CTE block over `cmeans` + `e`
    * — ONE definition of the rounded-cosine argmax cell-assignment
    * replay behind [[q61Sql]], [[DedupOps.q75Sql]], [[q187Sql]] and the
    * persisted-index oracles (r13 review: the tie rule lived in three
    * verbatim copies, free to drift). `carry` threads extra e.* columns
    * through into `assigned`; `nprobe` widens the kept ranks. */
  private[operators] def cellAssignCtesSql(carry: Seq[String] = Nil,
      nprobe: Int = 1): String = {
    val ccols = carry.map(c => s"e.$c, ").mkString
    val acols = carry.map(c => s"$c, ").mkString
    s"""cent AS (
       |  SELECT label AS cell_id, list(CAST(c AS FLOAT) ORDER BY dim) AS centroid
       |  FROM cmeans GROUP BY label),
       |centn AS (
       |  SELECT cell_id, centroid,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN centroid])) AS cn
       |  FROM cent),
       |cscored AS (
       |  SELECT e.vec_id, ${ccols}c.cell_id,
       |    round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
       |        FOR i IN range(1, len(e.embedding) + 1)]) / (e.nrm * c.cn), 6) AS ccos
       |  FROM e CROSS JOIN centn c),
       |assigned AS (
       |  SELECT vec_id, ${acols}cell_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) AS rn
       |    FROM cscored) s WHERE rn <= $nprobe)""".stripMargin
  }

  lazy val q61Sql: String =
    s"""WITH $embNrmCteSql,
       |$centroidMeanCtesSql,
       |${cellAssignCtesSql(Seq("embedding", "nrm"))},
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.cell_id,
       |    ${pairCosSql("q", "c")} AS cos
       |  FROM assigned q JOIN assigned c
       |    ON q.cell_id = c.cell_id AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos, cell_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM pairs)
       |SELECT q_id, n_id, cos, rank, cell_id FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // --- 84. scalar int8 embedding quantization ---------------------------
  /** Max-abs scalar quantization: q_i = round(x_i / scale · 127) as a
    * BYTE, scale = max|x_i| per vector — 4× less embedding storage and
    * shuffle width for the ANN corpus side (the first lever a 100 TB
    * vector index pulls; IVF/LSH structures above it are unchanged).
    * Everything is per-row array arithmetic: map-side, codegen'd input,
    * no shuffle. Recall cost is measured in SimilaritySpec (quantized
    * brute top-k vs exact q53). */
  def quantize(e: DataFrame): DataFrame = {
    val xd = transform(col("embedding"), x => x.cast("double"))
    val s = array_max(transform(xd, x => abs(x)))
    e.withColumn("scale", s)
      .withColumn("qemb", when(col("scale") === 0d,
          transform(col("embedding"), _ => lit(0).cast("byte")))
        .otherwise(transform(xd,
          x => round(x / col("scale") * 127).cast("byte"))))
  }

  /** Reconstructed float vectors (q_i · scale / 127) — feeds the same
    * codegen'd [[graft.expressions.VectorExprs.vecDot]] hot path as the
    * exact ops, so the quantized search differs ONLY in the data. */
  def dequantized(q: DataFrame): DataFrame =
    q.withColumn("embedding",
      transform(col("qemb"), b => (b.cast("double") * col("scale") / 127).cast("float")))

  /** Registered signature query: per-vector quantization invariants
    * (scale, sum and L1 of the int8 codes) — integer-exact, so the
    * DuckDB oracle pins the quantizer bit-for-bit. */
  def q84(s: SparkSession, dir: String): DataFrame =
    quantize(Tables.embeddings(s, dir))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        aggregate(col("qemb"), lit(0L), (acc, b) => acc + b.cast("long")).as("q_sum"),
        aggregate(col("qemb"), lit(0L), (acc, b) => acc + abs(b.cast("long"))).as("q_l1"))
      .orderBy(col("vec_id"))

  val q84Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS s,
      |    embedding
      |  FROM embeddings)
      |SELECT vec_id, round(s, 6) AS scale,
      |  CAST(list_sum([CASE WHEN s = 0 THEN 0
      |    ELSE CAST(round(CAST(x AS DOUBLE) / s * 127) AS BIGINT) END
      |    FOR x IN embedding]) AS BIGINT) AS q_sum,
      |  CAST(list_sum([abs(CASE WHEN s = 0 THEN 0
      |    ELSE CAST(round(CAST(x AS DOUBLE) / s * 127) AS BIGINT) END)
      |    FOR x IN embedding]) AS BIGINT) AS q_l1
      |FROM q
      |ORDER BY vec_id""".stripMargin

  // --- 88. product-quantization ANN (r4) --------------------------------
  /** PQ: split each vector into [[PqM]] subspaces, quantize every
    * subvector to its nearest per-subspace codeword, and search with
    * asymmetric distance computation (ADC) — the query stays exact and
    * scores a corpus row by summing per-subspace lookup-table entries
    * addressed by the row's codes.
    *
    * Why this is the 100 TB memory-bandwidth lever: the scan side of the
    * search carries [[PqM]] small codes per vector (8 bytes here)
    * instead of 64 floats (256 bytes) — a 32× narrower corpus relation
    * than brute force and 4× narrower than int8 (q84), while the
    * codebook (M × ksub subvectors) and each query's LUT stay
    * driver/broadcast-sized. Both codebook application passes are
    * map-side: encode is the same zero-shuffle broadcast-argmin shape as
    * the IVF assignment (spec-asserted), ADC is a broadcast-LUT lookup
    * folded into the scan.
    *
    * The codebook derives from the per-label centroids ([[centroidCells]]
    * — a converged coarse quantizer) sliced per subspace, densely
    * re-indexed by cell order; a production system would train per-
    * subspace k-means offline, but the structure — and every plan shape —
    * is identical. Distances/LUT entries are rounded to 6 decimals, and
    * the ADC sum adds the M rounded terms left-to-right, so codes AND
    * scores replay bit-exactly in the DuckDB oracle (the q61/q84
    * pattern). Recall@5 vs exact q53 is measured in SimilaritySpec. */
  val PqM = 8

  /** Per-subspace slice m of a 1-based float array column (dims split
    * evenly: subDim = size/M). */
  private def pqSlice(emb: String, m: Int): Column =
    expr(s"slice($emb, $m * (size($emb) div $PqM) + 1, size($emb) div $PqM)")

  /** ONE broadcastable row: `cb` = array of (sub, cidx, cvec, csq)
    * structs sorted by (sub, cidx) — the whole PQ codebook. */
  def pqCodebook(corpus: DataFrame): DataFrame =
    pqCodebookFrom(centroidCells(corpus))

  /** The codebook from an arbitrary `(cell_id, centroid)` coarse-cell
    * relation — shared by the per-label seed path ([[pqCodebook]]) and
    * the Lloyd-trained cells the q160 artifact builds on. */
  def pqCodebookFrom(cents: DataFrame): DataFrame = {
    // dense code ids in cell_id order; the window orders the aggregated
    // per-cell relation (≤ |cells| rows), not per-row data
    val idxd = cents.withColumn("cidx",
      (row_number().over(Window.orderBy(col("cell_id"))) - 1))
    idxd.select(explode(array((0 until PqM).map(m =>
        struct(lit(m).as("sub"), col("cidx"),
          pqSlice("centroid", m).as("cvec"))): _*)).as("x"))
      .select(col("x.sub").as("sub"), col("x.cidx").as("cidx"), col("x.cvec").as("cvec"))
      .withColumn("csq", vecDot(col("cvec"), col("cvec")))
      .agg(array_sort(collect_list(struct(col("sub"), col("cidx"),
        col("cvec"), col("csq")))).as("cb"))
  }

  /** One Lloyd step over the assigned subvectors: re-center every
    * (subspace, code) cell on the decimal-exact per-dimension mean of
    * the subvectors it captured; cells that captured nothing keep their
    * seed codeword. This is the offline codebook-training path a
    * production PQ index runs (typically to convergence) before the
    * encode/search ops ship — one aggregate-shaped pass per step, fully
    * deterministic (decimal sums + rounded assignment), so trained
    * codebooks are as reproducible as the seed ones. SimilaritySpec
    * asserts a step never degrades end-to-end recall and strictly
    * reduces mean quantization distortion on this corpus. */
  def pqRefine(corpus: DataFrame, cbRow: DataFrame): DataFrame = {
    val sub = pqEncode(corpus, cbRow)
      .select(explode(array((0 until PqM).map(m =>
        struct(lit(m).as("sub"), element_at(col("codes"), m + 1).as("cidx"),
          pqSlice("embedding", m).as("sv"))): _*)).as("x"))
      .select(col("x.sub").as("sub"), col("x.cidx").as("cidx"),
        posexplode(col("x.sv")).as(Seq("d", "xval")))
    val means = sub.groupBy(col("sub"), col("cidx"), col("d"))
      .agg((sum(col("xval").cast("decimal(18,9)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col("sub"), col("cidx"))
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("sub"), col("cidx"),
        transform(col("dc"), x => x.getField("c").cast("float")).as("cvec1"))
    cbRow.select(explode(col("cb")).as("c"))
      .select(col("c.sub").as("sub"), col("c.cidx").as("cidx"),
        col("c.cvec").as("cvec0"))
      .join(means, Seq("sub", "cidx"), "left")
      .withColumn("cvec", coalesce(col("cvec1"), col("cvec0")))
      .withColumn("csq", vecDot(col("cvec"), col("cvec")))
      .agg(array_sort(collect_list(struct(col("sub"), col("cidx"),
        col("cvec"), col("csq")))).as("cb"))
  }

  /** Result of [[pqTrain]]: the trained codebook row, rounds run, whether
    * the tolerance was reached within the cap, the last round's changed-
    * code count and the corpus size it is measured against. */
  final case class PqTrained(cb: DataFrame, iters: Int, converged: Boolean,
      residualChanged: Long, n: Long)

  /** Lloyd iterated to assignment STABILITY: repeat [[pqRefine]] until
    * the fraction of vectors changing any subspace code falls to
    * `tolPpm` parts-per-million (or `maxIters`). A tolerance, not an
    * exact code fixpoint, is the production k-means stopping rule — and
    * here an exact fixpoint may not EXIST: the 6-decimal rounded
    * distances and float-cast means that buy cross-engine determinism
    * break Lloyd's strict-descent guarantee, so the tail of the
    * iteration can cycle among a handful of boundary vectors (observed:
    * a 1–3-code wobble on a 2k corpus long after 99.9 % stability).
    * Waiting for exactness over 10⁹ vectors would be wrong even if it
    * existed.
    *
    * Per round: one corpus-linear encode inside the refine (zero-shuffle
    * broadcast argmin) + one aggregate pass for the means, then one more
    * encode pair joined on vec_id for the convergence count. The codebook
    * is a single checkpointed row (driver-sized by construction: M · ksub
    * codewords); the corpus is never cached here — at 100 TB the caller
    * owns that decision. */
  def pqTrain(corpus: DataFrame, maxIters: Int = 25,
      tolPpm: Long = 1000L): PqTrained = {
    // localCheckpoint per round, NOT cache: pqRefine references the
    // codebook plan twice (encode + the re-center join), so without
    // lineage truncation the logical tree DOUBLES per round — 10 rounds
    // is a 2¹⁰-node plan that OOMs the driver before any data moves.
    // The checkpointed codebook is one tiny row; CheckpointRegistry.iterate
    // releases superseded rounds and hands the final one to the registry.
    val n = corpus.count()
    val threshold = n * tolPpm / 1000000L
    var lastChanged = n
    val fit = graft.CheckpointRegistry.iterate(pqCodebook(corpus), maxIters)(
        pqRefine(corpus, _)) { (cb, next) =>
      lastChanged = pqEncode(corpus, cb)
        .select(col("vec_id"), col("codes").as("c0"))
        .join(pqEncode(corpus, next).select(col("vec_id"), col("codes").as("c1")),
          "vec_id")
        .filter(col("c0") =!= col("c1")).count()
      lastChanged <= threshold
    }
    PqTrained(fit.last, fit.rounds, fit.done, lastChanged, n)
  }

  /** Lloyd refinement of the COARSE quantizer (the [[pqRefine]] rule one
    * level up): iterate `rounds` fixed steps of assign-to-nearest-cell
    * (the [[assignToCells]] rounded-cosine argmax — bit-replayable, the
    * q61/q88 precedent) + re-center every cell on the decimal-exact
    * per-dimension mean of what it captured; a cell that captured
    * nothing keeps its previous centroid. State is the `(label, dim, c)`
    * mean relation ([[cmeansOf]] seeds it from the corpus labels), so
    * the trained cells drop into every consumer ([[cellsOfCmeans]] /
    * [[pqCodebookFrom]] / the q105 oracle body) unchanged.
    *
    * Why q160 needs this (r11 VERDICT, the round's one `weak`): the
    * trained-embedding corpus seeds its cells from sign bits, and
    * natural text makes those bits correlated — the top sign cell held
    * 37 % of the sf0.1 corpus, i.e. an unpruned scan at 100 TB. A FIXED
    * round count (not a convergence test) keeps the whole refinement a
    * finite unrolled CTE chain, so the persisted-index oracle replays
    * it exactly ([[lloydCmeansCtesSql]]).
    *
    * Scale shape per round: one zero-shuffle broadcast-argmax assign
    * over the corpus + one map-side-combined (cell, dim) aggregate; the
    * state is ≤ |cells|·Dim rows, localCheckpoint'd per round (plan
    * would otherwise double per round — the [[pqTrain]] lesson), final
    * blocks handed to the registry. */
  private[graft] def lloydCmeans(corpus: DataFrame, rounds: Int): DataFrame = {
    graft.CheckpointRegistry.iterate(cmeansOf(corpus), rounds) { cm =>
      val fresh = assignToCells(withNorm(corpus), cellsAsRow(cellsOfCmeans(cm)))
        .select(col("cell_id").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("v").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("c1"))
      cm.join(fresh, Seq("label", "dim"), "left")
        .select(col("label"), col("dim"),
          coalesce(col("c1"), col("c")).as("c"))
    }((_, _) => false).last
  }

  /** Map-side encode: nearest codeword per subspace by rounded
    * L2-equivalent distance (csq − 2·dot; ‖x‖² is constant within the
    * argmin), ties to the lower code. Appends `codes` (array<int>),
    * drops nothing else. */
  def pqEncode(vecs: DataFrame, cbRow: DataFrame): DataFrame =
    // native codegen'd encode (graft.expressions.PqCodesOf): the
    // per-subspace filter/transform/array_min HOF chain was
    // CodegenFallback — 8 interpreted walks + per-codeword struct
    // allocations per corpus row (r18, the r17 VERDICT #5 sweep).
    // ExpressionsSpec pins native ≡ declarative; the q88/q105/q160
    // oracles replay the declarative rounded argmin per run.
    vecs.crossJoin(broadcast(cbRow))
      .withColumn("codes",
        graft.expressions.AnnExprs.pqCodes(col("embedding"), col("cb"), PqM))
      .drop("cb")

  /** The declarative encode [[pqEncode]] compiles away — kept as the
    * equivalence pin's reference implementation (ExpressionsSpec). */
  private[graft] def pqEncodeDeclarative(vecs: DataFrame, cbRow: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cbRow))
      .withColumn("codes", array((0 until PqM).map { m =>
        array_min(transform(
          filter(col("cb"), c => c.getField("sub") === m),
          c => struct(
            round(c.getField("csq") -
              lit(2.0) * vecDot(pqSlice("embedding", m), c.getField("cvec")), 6)
              .as("d"),
            c.getField("cidx").as("code"))))
          .getField("code")
      }: _*))
      .drop("cb")

  /** Per-query ADC lookup tables: lut[m][cidx+1] = rounded dot of the
    * query's subvector m with codeword cidx (filter preserves the
    * (sub, cidx) sort of `cb`, so inner position = code). */
  def pqLut(queries: DataFrame, cbRow: DataFrame): DataFrame =
    queries.crossJoin(broadcast(cbRow))
      .withColumn("lut", array((0 until PqM).map { m =>
        transform(
          filter(col("cb"), c => c.getField("sub") === m),
          c => round(vecDot(pqSlice("embedding", m), c.getField("cvec")), 6))
      }: _*))
      .drop("cb")

  /** ADC shortlist: corpus side carries only (n_id, codes); the scored
    * approximate dot is the left-to-right sum of the M addressed LUT
    * entries; top-`r` per query survive. The rank ≤ r filter compiles to
    * a map-side WindowGroupLimit, so the shortlist shuffle carries
    * ≤ r·|queries| rows per input partition. */
  def pqShortlist(corpus: DataFrame, queries: DataFrame, cbRow: DataFrame,
      r: Int): DataFrame = {
    val c = pqEncode(corpus, cbRow).select(col("vec_id").as("n_id"), col("codes"))
    val q = pqLut(queries, cbRow).select(col("vec_id").as("q_id"), col("lut"))
    val adc = round((0 until PqM).map(m =>
        element_at(element_at(col("lut"), m + 1),
          element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("adc", adc)
      .withColumn("adc_rank", row_number().over(w))
      .filter(col("adc_rank") <= r)
      .select(col("q_id"), col("n_id"), col("adc"))
  }

  /** How many ADC candidates survive to the exact rerank. */
  val PqRerank = 50

  /** The full IVFADC-style pipeline: ADC shortlist over codes → fetch the
    * shortlist's full vectors (an equi-join carrying r·|queries| rows, the
    * only time PQ touches a real embedding on the corpus side) → exact
    * cosine rerank to top-k. The quantizer only has to put true neighbors
    * in the top-r, not rank them — which is how production PQ systems
    * recover exactness the lossy codes give up. */
  def pqSearch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    pqSearchWith(corpus, queries, k, pqCodebook(corpus))

  /** [[pqSearch]] against a caller-supplied codebook (e.g. a
    * [[pqRefine]]-trained one loaded as an offline artifact). */
  def pqSearchWith(corpus: DataFrame, queries: DataFrame, k: Int,
      cbRow: DataFrame): DataFrame = {
    val short = pqShortlist(corpus, queries, cbRow, PqRerank)
    val cFull = withNorm(corpus).select(col("vec_id").as("n_id"),
      col("embedding").as("e_n"), col("nrm").as("n_n"))
    val qFull = withNorm(queries).select(col("vec_id").as("q_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    short.join(cFull, "n_id").join(broadcast(qFull), "q_id")
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def q88(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    pqSearch(e, testQueries(e), 5)
  }

  /** DuckDB replay: decimal-exact centroid means → per-subspace codewords
    * (dense ROW_NUMBER code ids in cell order) → rounded-argmin codes →
    * rounded LUT entries → ADC as the same left-associated M-term sum →
    * top-[[PqRerank]] shortlist → exact rounded-cosine rerank. */
  lazy val q88Sql: String = {
    val codeCols = (0 until PqM).map(m =>
      s"MAX(CASE WHEN sub = $m THEN code END) AS c$m").mkString(",\n    ")
    val lutJoins = (1 until PqM).map(m =>
      s"JOIN lut l$m ON l$m.q_id = l0.q_id AND l$m.sub = $m AND l$m.cidx = n.c$m")
      .mkString("\n  ")
    val adcSum = (0 until PqM).map(m => s"l$m.l").mkString(" + ")
    s"""WITH ${centroidMeanCtesSql},
       |sd AS (SELECT (MAX(dim) + 1) // $PqM AS sd FROM cmeans),
       |labs AS (
       |  SELECT label, CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS INTEGER) AS cidx
       |  FROM (SELECT DISTINCT label FROM embeddings) _l),
       |cw AS (
       |  SELECT labs.cidx, CAST(dim // sd.sd AS INTEGER) AS sub,
       |    list(CAST(c AS FLOAT) ORDER BY dim) AS cvec
       |  FROM cmeans JOIN labs USING (label) CROSS JOIN sd
       |  GROUP BY labs.cidx, CAST(dim // sd.sd AS INTEGER)),
       |cwsq AS (
       |  SELECT sub, cidx, cvec,
       |    list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN cvec]) AS csq
       |  FROM cw),
       |encd AS (
       |  SELECT e.vec_id, w.sub, w.cidx,
       |    round(w.csq - 2 * list_sum([CAST(e.embedding[w.sub * sd.sd + i] AS DOUBLE) *
       |        CAST(w.cvec[i] AS DOUBLE) FOR i IN range(1, sd.sd + 1)]), 6) AS d
       |  FROM embeddings e CROSS JOIN cwsq w CROSS JOIN sd),
       |enc AS (
       |  SELECT vec_id, sub, cidx AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cidx) AS rn
       |    FROM encd) _e WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id,
       |    $codeCols
       |  FROM enc GROUP BY vec_id),
       |lut AS (
       |  SELECT q.vec_id AS q_id, w.sub, w.cidx,
       |    round(list_sum([CAST(q.embedding[w.sub * sd.sd + i] AS DOUBLE) *
       |        CAST(w.cvec[i] AS DOUBLE) FOR i IN range(1, sd.sd + 1)]), 6) AS l
       |  FROM embeddings q CROSS JOIN cwsq w CROSS JOIN sd
       |  WHERE q.vec_id % 50 = 0),
       |scored AS (
       |  SELECT l0.q_id, n.vec_id AS n_id, round($adcSum, 6) AS adc
       |  FROM codes n
       |  JOIN lut l0 ON l0.sub = 0 AND l0.cidx = n.c0
       |  $lutJoins
       |  WHERE l0.q_id <> n.vec_id),
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn
       |    FROM scored) _s WHERE rn <= $PqRerank),
       |$embNrmCteSql,
       |rerank AS (
       |  SELECT short.q_id, short.n_id, ${pairCosSql("q", "c")} AS cos
       |  FROM short
       |  JOIN e q ON short.q_id = q.vec_id
       |  JOIN e c ON short.n_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  // --- 55. per-label vector statistics ----------------------------------
  /** Centroid via decimal-exact per-dimension sums (order-independent →
    * cross-engine deterministic); norms folded sequentially. */
  def q55(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir))
    val dims = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v").cast("decimal(18,9)")).cast("double") / count(lit(1))).as("c"))
    val centroidNorm = dims.groupBy(col("label"))
      .agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
    // avg via integer nanos: an exact decimal sum divided as a double can
    // land ON a .5e-6 rounding boundary where engines disagree (the q90
    // failure class); p9/(1000·n) in half-away int64 has no boundary
    val norms = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("nrm").cast("decimal(18,9)")) * 1000000000L).cast("long").as("p9"))
      .select(col("label"), col("n_vectors"),
        (graft.functions.Num.idivHalfAway(col("p9"),
          lit(1000L) * col("n_vectors")) / 1000000.0).as("avg_norm"))
    norms.join(centroidNorm, "label")
      .select(col("label"), col("n_vectors"), col("centroid_norm"), col("avg_norm"))
      .orderBy(col("label"))
  }

  /** Shared DuckDB CTEs: per-label per-dimension decimal-exact means —
    * the SQL replay of [[centroidCells]]'s first stage (ends with
    * `cmeans(label, dim, c)`). Used by q55's oracle here and by the
    * embedding scale-dedup oracle (q75) so both stay bit-identical to
    * the Spark centroid computation by construction. */
  val centroidMeanCtesSql: String =
    """cdims AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
      |  FROM embeddings),
      |cmeans AS (
      |  SELECT label, dim,
      |    CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
      |  FROM cdims GROUP BY label, dim)""".stripMargin

  val q55Sql: String =
    s"""WITH $centroidMeanCtesSql,
      |cn AS (SELECT label, round(sqrt(SUM(c * c)), 6) AS centroid_norm FROM cmeans GROUP BY label),
      |vn0 AS (
      |  SELECT label, COUNT(*) AS n_vectors,
      |    CAST(SUM(CAST(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]))
      |      AS DECIMAL(18,9))) * 1000000000 AS BIGINT) AS p9
      |  FROM embeddings GROUP BY label),
      |vn AS (
      |  SELECT label, n_vectors,
      |    ${graft.functions.Num.idivHalfAwaySql("p9", "1000 * n_vectors")} / 1000000.0 AS avg_norm
      |  FROM vn0)
      |SELECT label, n_vectors, centroid_norm, avg_norm
      |FROM vn JOIN cn USING (label)
      |ORDER BY label""".stripMargin

  // --- 105. persisted IVF+PQ index: build once, query many (r4) ----------
  /** The production ANN serving shape: the index is a real on-disk
    * ARTIFACT, not a per-query subplan. Build writes one self-contained
    * table — (vec_id, codes, embedding, nrm) partitioned by IVF
    * `cell_id` — so a query batch (1) probes its cells map-side against
    * the broadcast centroid row, (2) reads ONLY the probed cells'
    * partitions (static partition pruning: non-probed cell directories
    * never open — the probed-cell id list is ≤ |cells|, driver-sized by
    * IVF construction, same class as the centroid broadcast), (3) ADC-
    * shortlists inside the pruned scan via broadcast LUTs, (4) exact-
    * reranks the top-[[PqRerank]] from the embeddings stored IN the
    * index. At 100 TB the build cost amortizes over every query batch,
    * and each batch's IO is |probed cells| / |cells| of the corpus.
    * nprobe = [[IdxNProbe]] is the recall/IO knob: a query probes its
    * top-n cells (a corpus row lives in exactly ONE cell, so no
    * candidate duplicates); the oracle replays it as q88's ADC pipeline
    * over a rank ≤ nprobe probe set; recall/pruning spec-asserted. */
  val IdxK = 5
  /** Cells probed per query batch against the persisted index. */
  val IdxNProbe = 2

  /** Build the SELF-CONTAINED index artifact at `base`: the encoded
    * vectors under `vecs/` (partitioned by IVF cell) plus the FROZEN
    * model — centroid row under `model_cells/`, PQ codebook under
    * `model_cb/` — beside them. Persisting the model is what makes the
    * artifact maintainable: append batches and later sessions encode
    * with the model the index was BUILT with (the IVF maintenance rule
    * — centroids/codebooks retrain only at rebuild, so an append never
    * moves an existing vector's cell or code, and probe results over
    * build+appends are bit-identical to a fresh encode of the union
    * under the same model; spec-pinned). */
  private[graft] def annIndexWrite(s: SparkSession, base: java.io.File,
      corpus: DataFrame): Unit =
    annIndexWriteCells(s, base, corpus, centroidCells(corpus))

  /** [[annIndexWrite]] with the coarse cells supplied by the caller —
    * the Lloyd-trained q160 build; the per-label path above is this
    * with the seed cells. */
  private[graft] def annIndexWriteCells(s: SparkSession, base: java.io.File,
      corpus: DataFrame, cells: DataFrame): Unit = {
    if (base.exists()) graft.GenManifest.rmTree(base)
    val cbRow = pqCodebookFrom(cells)
    val cellsRow = cellsAsRow(cells)
    // model first: a vecs write that can see the model is complete
    cellsRow.coalesce(1).write
      .parquet(new java.io.File(base, "model_cells").getAbsolutePath)
    cbRow.coalesce(1).write
      .parquet(new java.io.File(base, "model_cb").getAbsolutePath)
    graft.GenManifest.writeNext(base, "vecs")(
      annIndexEncodeInto(base, _, corpus, annIndexModel(s, base), overwrite = true))
  }

  /** Current generation of the artifact at `base` (manifest read). */
  private[graft] def annIndexGen(base: java.io.File): Long =
    graft.GenManifest.current(base, "vecs")

  /** The artifact's vectors at the CURRENT generation. The vector
    * payload of each GENERATION is `vecs_g{N}` beside the generation-
    * independent frozen model: a DataFrame opened at a pinned generation
    * keeps reading exactly those files across concurrent appends/
    * compactions (new generations land in their own directory; retired
    * ones are retained to the manifest's depth). */
  private[graft] def annIndexVecs(s: SparkSession, base: java.io.File): DataFrame =
    annIndexVecsOf(s, base, annIndexGen(base))

  private[graft] def annIndexVecsOf(s: SparkSession, base: java.io.File,
      gen: Long): DataFrame =
    // through the graftpack DSv2 table (r14): the ANN index shares the
    // pack artifact's `<lineage>_g<gen>` + GenManifest convention, so
    // the same named-table read (lineage "vecs", generation pinned at
    // resolution) serves it — the scan below is the identical
    // cell-partitioned ParquetScan, PartitionFilters pins unchanged
    // (SimilaritySpec re-pins them on the V2 plan)
    s.read.format("graftpack")
      .option("base", base.getAbsolutePath)
      .option("lineage", "vecs")
      .option("generation", gen)
      .load()

  /** The frozen model of the artifact at `base`: (cellsRow, cbRow). */
  private[graft] def annIndexModel(s: SparkSession,
      base: java.io.File): (DataFrame, DataFrame) =
    (s.read.parquet(new java.io.File(base, "model_cells").getAbsolutePath),
      s.read.parquet(new java.io.File(base, "model_cb").getAbsolutePath))

  /** Index MAINTENANCE: encode a new-vectors batch `(vec_id, embedding)`
    * with the artifact's frozen model and fold it in by partitioned
    * append — each appended file lands inside its cell's directory, so
    * partition pruning (the artifact's serving property) is preserved
    * verbatim. Batch cost ∝ batch size; the existing index is never
    * read, moved, or re-encoded. `model` is the artifact's frozen model
    * ([[annIndexModel]]), read once by the caller. */
  private[graft] def annIndexAppend(base: java.io.File, newVecs: DataFrame,
      model: (DataFrame, DataFrame)): Unit =
    annIndexEncodeInto(base, annIndexGen(base), newVecs, model, overwrite = false)

  /** Index COMPACTION: [[annIndexAppend]] lands one file set per batch
    * inside each cell directory; periodically rewrite to ONE file per
    * cell at a FRESH GENERATION and publish it via [[graft.GenManifest]].
    * `repartition` on cell_id puts each cell wholly in one task, and
    * `partitionBy` splits that task's output per value ⇒ exactly one
    * file per cell. Rows, model, and probe results are bit-identical
    * (spec-pinned); cost is one read + write of the vectors — no joins,
    * no wide agg. A reader pinned at the old generation is undisturbed:
    * the new generation is a sibling directory, the publish is an atomic
    * manifest rename, and the old directory survives until it ages past
    * the retain depth — only then is its storage GC'd. */
  private[graft] def annIndexCompact(s: SparkSession, base: java.io.File): Unit =
    graft.GenManifest.compact(base, "vecs") { (cur, next) =>
      annIndexVecsOf(s, base, cur)
        .repartition(col("cell_id"))
        .write.partitionBy("cell_id")
        .parquet(graft.GenManifest.dir(base, "vecs", next).getAbsolutePath)
    }

  /** Data files in the CURRENT generation's payload — the compaction
    * trigger for scheduled maintenance (each append lands one file set
    * per cell directory). */
  private[graft] def annIndexFileCount(base: java.io.File): Int =
    graft.GenManifest.parquetFiles(
      graft.GenManifest.dir(base, "vecs", annIndexGen(base)))

  private def annIndexEncodeInto(base: java.io.File, gen: Long,
      vecs: DataFrame, model: (DataFrame, DataFrame), overwrite: Boolean): Unit = {
    val (cellsRow, cbRow) = model
    pqEncode(assignToCells(withNorm(vecs), cellsRow), cbRow)
      .select(col("vec_id"), col("codes"), col("embedding"), col("nrm"),
        col("cell_id").cast("int").as("cell_id"))
      .write.partitionBy("cell_id")
      .mode(if (overwrite) "overwrite" else "append")
      .parquet(graft.GenManifest.dir(base, "vecs", gen).getAbsolutePath)
  }

  /** Per-cell STALENESS of the frozen model — the WHEN-TO-REBUILD
    * signal for the maintained artifact: as [[annIndexAppend]] batches
    * accumulate, the frozen centroids can stop fitting the data. For
    * each cell, compare the indexed population's mean cosine to its
    * centroid (embeddings are stored IN the index) against a candidate
    * batch's mean cosine to the same frozen centroid after assignment.
    * Means are integer-micros on both sides (per-row cosine rounded to
    * micros, summed in int64, half-away division) ⇒ the readout is
    * deterministic. `drift_micros` = indexed mean − batch mean; a large
    * positive value says the batch fits the cells worse than the data
    * the model was trained on — retrain/rebuild (the IVF operational
    * rule that closes the maintenance loop). Cost: one pass over the
    * artifact + one over the batch, model broadcast, ≤|cells| output. */
  private[graft] def annIndexDrift(s: SparkSession, base: java.io.File,
      newVecs: DataFrame): DataFrame = {
    import graft.functions.Num
    val (cellsRow, _) = annIndexModel(s, base)
    val cells = cellsRow.select(explode(col("cells")).as("c"))
      .select(col("c.cell_id").as("cell_id"),
        col("c.centroid").as("centroid"), col("c.cn").as("cn"))
    def perCell(df: DataFrame) = df
      .join(broadcast(cells), "cell_id")
      .withColumn("cosm",
        round(vecDot(col("embedding"), col("centroid")) /
          (col("nrm") * col("cn")) * 1e6).cast("long"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"), sum(col("cosm")).as("sm"))
    val idx = perCell(annIndexVecs(s, base)
      .select(col("cell_id"), col("embedding"), col("nrm")))
      .select(col("cell_id"), col("n").as("n_idx"),
        Num.idivHalfAway(col("sm"), col("n")).as("mean_idx_micros"))
    val batch = perCell(assignToCells(withNorm(newVecs), cellsRow)
      .select(col("cell_id"), col("embedding"), col("nrm")))
      .select(col("cell_id"), col("n").as("n_new"),
        Num.idivHalfAway(col("sm"), col("n")).as("mean_new_micros"))
    idx.join(batch, Seq("cell_id"), "full_outer")
      .na.fill(0L, Seq("n_idx", "n_new"))
      .withColumn("drift_micros",
        col("mean_idx_micros") - col("mean_new_micros")) // null if either side empty
      .orderBy(col("cell_id"))
  }

  /** Build + persist the IVF+PQ index artifact for `dir` unless the
    * live artifact already describes it — the q122/q126 standing-
    * snapshot pattern (r7 VERDICT #4): in production the index is built
    * once per corpus snapshot and serves MANY query batches, so the
    * registered q105 entry measures the amortized probe, not
    * build+query. Reuse is spec-pinned (a second q105 call must not
    * touch the manifest). */
  private[graft] def annIndex(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "annindex", "vecs", dir)(
      annIndexWrite(s, _, Tables.embeddings(s, dir)))

  def q105(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val base = annIndex(s, dir)
    val (cellsRow, cbRow) = annIndexModel(s, base)
    val idx = annIndexVecs(s, base)
    annIndexSearch(idx,
      probeCells(withNorm(testQueries(e)), cellsRow, IdxNProbe), cbRow, IdxK)
  }

  /** Query half of [[q105]]: ADC shortlist + exact rerank of a probed
    * query set against an index relation (persisted or in-memory — the
    * spec proves both give identical results). Prunes the index scan to
    * the probed cell ids before anything else touches it. */
  private[graft] def annIndexSearch(idx: DataFrame, probed: DataFrame,
      cbRow: DataFrame, k: Int, rerank: Int = PqRerank): DataFrame = {
    val qlut = pqLut(probed, cbRow)
      .select(col("vec_id").as("q_id"), col("cell_id").cast("int").as("cell_id"),
        col("embedding").as("e_q"), col("nrm").as("n_q"), col("lut"))
    // the probed-cell id set is ≤ |cells| (IVF's driver-sized artifact);
    // inlining it as literals is what turns into static partition pruning
    val probedIds = qlut.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scan = idx.filter(col("cell_id").isin(probedIds.map(Int.box): _*))
      .select(col("vec_id").as("n_id"), col("codes"), col("cell_id"),
        col("embedding").as("e_n"), col("nrm").as("n_n"))
    val adc = round((0 until PqM).map(m =>
        element_at(element_at(col("lut"), m + 1),
          element_at(col("codes"), m + 1) + 1))
      .reduce(_ + _), 6)
    val wS = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scan.join(broadcast(qlut), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", adc)
      .withColumn("adc_rank", row_number().over(wS))
      .filter(col("adc_rank") <= rerank)
      .withColumn("cos", round(dot(col("e_q"), col("e_n")) / (col("n_q") * col("n_n")), 6))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  lazy val q105Sql: String = annIndexReplaySql(centroidMeanCtesSql, IdxNProbe)

  /** The persisted-index replay parameterized on (a) the CTE block that
    * produces the coarse-quantizer means `cmeans(label, dim, c)` and
    * (b) the probe width — q105 instantiates it with the per-label seed
    * means at [[IdxNProbe]]; q160 with the Lloyd-trained chain
    * ([[lloydCmeansCtesSql]]) at [[TrainedNProbe]]. One body, so the
    * frozen-model encode/probe semantics cannot drift between the two
    * registered artifacts. */
  private[graft] def annIndexReplaySql(cmeansCtes: String,
      nprobe: Int, rerank: Int = PqRerank): String = {
    val codeCols = (0 until PqM).map(m =>
      s"MAX(CASE WHEN sub = $m THEN code END) AS c$m").mkString(",\n    ")
    val lutJoins = (1 until PqM).map(m =>
      s"JOIN lut l$m ON l$m.q_id = l0.q_id AND l$m.sub = $m AND l$m.cidx = n.c$m")
      .mkString("\n  ")
    val adcSum = (0 until PqM).map(m => s"l$m.l").mkString(" + ")
    s"""WITH ${cmeansCtes},
       |sd AS (SELECT (MAX(dim) + 1) // $PqM AS sd FROM cmeans),
       |labs AS (
       |  SELECT label, CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS INTEGER) AS cidx
       |  FROM (SELECT DISTINCT label FROM embeddings) _l),
       |cw AS (
       |  SELECT labs.cidx, CAST(dim // sd.sd AS INTEGER) AS sub,
       |    list(CAST(c AS FLOAT) ORDER BY dim) AS cvec
       |  FROM cmeans JOIN labs USING (label) CROSS JOIN sd
       |  GROUP BY labs.cidx, CAST(dim // sd.sd AS INTEGER)),
       |cwsq AS (
       |  SELECT sub, cidx, cvec,
       |    list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN cvec]) AS csq
       |  FROM cw),
       |$embNrmCteSql,
       |${cellAssignCtesSql()},
       |probed AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) AS rn
       |    FROM cscored WHERE vec_id % 50 = 0) s WHERE rn <= $nprobe),
       |encd AS (
       |  SELECT e.vec_id, w.sub, w.cidx,
       |    round(w.csq - 2 * list_sum([CAST(e.embedding[w.sub * sd.sd + i] AS DOUBLE) *
       |        CAST(w.cvec[i] AS DOUBLE) FOR i IN range(1, sd.sd + 1)]), 6) AS d
       |  FROM embeddings e CROSS JOIN cwsq w CROSS JOIN sd),
       |enc AS (
       |  SELECT vec_id, sub, cidx AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cidx) AS rn
       |    FROM encd) _e WHERE rn = 1),
       |codes AS (
       |  SELECT c.vec_id, a.cell_id,
       |    $codeCols
       |  FROM enc c JOIN assigned a USING (vec_id) GROUP BY c.vec_id, a.cell_id),
       |lut AS (
       |  SELECT q.vec_id AS q_id, w.sub, w.cidx,
       |    round(list_sum([CAST(q.embedding[w.sub * sd.sd + i] AS DOUBLE) *
       |        CAST(w.cvec[i] AS DOUBLE) FOR i IN range(1, sd.sd + 1)]), 6) AS l
       |  FROM embeddings q CROSS JOIN cwsq w CROSS JOIN sd
       |  WHERE q.vec_id % 50 = 0),
       |scored AS (
       |  SELECT l0.q_id, n.vec_id AS n_id, round($adcSum, 6) AS adc
       |  FROM codes n
       |  JOIN probed p ON p.cell_id = n.cell_id
       |  JOIN lut l0 ON l0.q_id = p.vec_id AND l0.sub = 0 AND l0.cidx = n.c0
       |  $lutJoins
       |  WHERE l0.q_id <> n.vec_id),
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn
       |    FROM scored) _s WHERE rn <= $rerank),
       |rerank AS (
       |  SELECT short.q_id, short.n_id, ${pairCosSql("q", "c")} AS cos
       |  FROM short
       |  JOIN e q ON short.q_id = q.vec_id
       |  JOIN e c ON short.n_id = c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, cos, rank FROM ranked
       |WHERE rank <= $IdxK
       |ORDER BY q_id, rank""".stripMargin
      // DuckDB inlines CTEs by default; the 8-way LUT self-join would
      // re-expand the whole encode subtree per branch (measured > 7 min
      // at sf0.1 vs 1.3 s materialized). Values are unaffected.
      .replaceAll("\\b(cwsq|assigned|enc|codes|lut|e) AS \\(",
        "$1 AS MATERIALIZED (")
  }

  // --- 160. persisted IVF+PQ index over TRAINED embeddings (r10) ----------
  /** Fixed Lloyd refinement rounds for the trained-vector index's coarse
    * quantizer — FIXED (not a convergence test) so the oracle unrolls
    * the refinement exactly; occupancy/recall at this setting are
    * spec-pinned. */
  val LloydRounds = 4

  /** Cells probed per query batch against the TRAINED artifact — q160's
    * own recall/IO knob (q105 keeps [[IdxNProbe]]). 3 probes put 94 % of
    * the true top-5 inside the probed cells at sf0.01 (2 probes cap the
    * ceiling at exactly 0.80 — no headroom for shortlist loss). */
  val TrainedNProbe = 3

  /** ADC shortlist width for the TRAINED artifact's exact rerank —
    * set ABOVE any probed-slice size, i.e. the serve is IVF-EXACT:
    * prune to the probed cells, then score that slice exactly. The
    * 8-dim trained vectors give PQ ONE dimension per subspace, and a
    * 1-dim code's distance estimate cannot usefully ORDER candidates —
    * measured at sf0.1 (DevTime, np3, cell ceiling 0.944): ADC top-100
    * recall 0.46, top-200 0.62, full probed slice 0.93. The design rule
    * this encodes: the ADC shortlist earns its skip only when codes
    * carry enough dimensions to rank (q105's 64-dim corpus keeps
    * [[PqRerank]] = 50); below that, the artifact's value is the
    * partition-pruned IO and the exact scan of the probed slice is both
    * cheaper and correct — its cost stays bounded at
    * `(nprobe/cells)·|corpus|·|queries|` pair scores, the q61 IVF rule.
    * sf0.01 measured: recall@5 0.940 = the np3 cell ceiling exactly
    * (was 0.90 at the r100 shortlist); sf0.1: 0.932 vs ceiling 0.944.
    * At larger corpora the standard IVF sizing applies: grow the cell
    * count (nlist ≈ √n) so probed slices stay O(rerank) — the
    * [[lloydCmeans]] seed label width is that knob. */
  val TrainedRerank = 1024

  /** The [[lloydCmeans]] refinement as unrolled CTEs over the (shadowed)
    * `embeddings` table, ending in the `cmeans(label, dim, c)` CTE the
    * [[annIndexReplaySql]] body consumes — seed means from the labels,
    * then per round: float-cast centroids + norms, the rounded-cosine
    * argmax assignment (the body's own `assigned` shape), decimal-exact
    * re-centering, and a LEFT JOIN carry for cells that captured
    * nothing. MATERIALIZED on the multiply-referenced per-round states:
    * inlined, each `cmeans` state's two consumers would re-expand the
    * chain 2^rounds times. */
  private[graft] def lloydCmeansCtesSql(rounds: Int): String = {
    val seed =
      s"""cdims0 AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
         |  FROM embeddings),
         |cmeans0 AS MATERIALIZED (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
         |  FROM cdims0 GROUP BY label, dim),
         |ken AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm
         |  FROM embeddings)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""kcent$r AS (
         |  SELECT label AS cell_id, list(CAST(c AS FLOAT) ORDER BY dim) AS centroid
         |  FROM cmeans${r - 1} GROUP BY label),
         |kcentn$r AS (
         |  SELECT cell_id, centroid,
         |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN centroid])) AS cn
         |  FROM kcent$r),
         |kscored$r AS (
         |  SELECT e.vec_id, e.embedding, c.cell_id,
         |    round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
         |        FOR i IN range(1, len(e.embedding) + 1)]) / (e.nrm * c.cn), 6) AS ccos
         |  FROM ken e CROSS JOIN kcentn$r c),
         |kasg$r AS MATERIALIZED (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id) AS rn
         |    FROM kscored$r) s WHERE rn = 1),
         |kfresh$r AS (
         |  SELECT cell_id AS label, dim,
         |    CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c1
         |  FROM (SELECT cell_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |      unnest(embedding) AS v FROM kasg$r) _f
         |  GROUP BY cell_id, dim),
         |cmeans$r AS MATERIALIZED (
         |  SELECT p.label, p.dim, COALESCE(m.c1, p.c) AS c
         |  FROM cmeans${r - 1} p LEFT JOIN kfresh$r m
         |    ON p.label = m.label AND p.dim = m.dim)""".stripMargin
    }
    s"""$seed,
       |${steps.mkString(",\n")},
       |cmeans AS MATERIALIZED (SELECT label, dim, c FROM cmeans$rounds)""".stripMargin
  }

  /** [[q105]]'s build-once/query-many artifact closed over PRODUCED
    * vectors (r10 VERDICT #3): q149/q153 dedup the q145-trained
    * embeddings, but the persisted index only ever indexed the SHIPPED
    * embeddings table — the train→index→serve seam was unexercised.
    * Corpus = [[EmbedOps.trainedEmbTable]] (trained vectors + the
    * deterministic sign-bit coarse label), artifact machinery =
    * [[annIndexWrite]]/[[annIndexSearch]] VERBATIM (frozen model,
    * cell-partitioned payload, static partition pruning, ADC shortlist,
    * exact rerank — nothing re-implemented), query set = the same
    * vec_id % 50 bounded-probe contract, FILTERED BEFORE the projection
    * aggregate (vectors are per-doc, so pruning the corpus pass to the
    * query docs is exact). FULL oracle: [[EmbedOps.trainedEmbCtesSql]]'s
    * `embeddings` CTE SHADOWS the table and q105's entire frozen-model
    * replay runs over it verbatim — the rounded argmin/argmax encode
    * replays, the q88/q61 precedent. Recall vs brute-over-trained and
    * probe pruning are spec-pinned (SimilaritySpec).
    *
    * r12 — the coarse quantizer is LLOYD-TRAINED (r11 VERDICT #1, the
    * round's one `weak`): the raw sign-bit cells are skewed on natural
    * text (top cell 37 % of the sf0.1 corpus — at 100 TB any query
    * probing it reads ~37 % of the data, an unpruned scan; recall@5
    * 0.64), so the sign buckets now only SEED [[lloydCmeans]], whose
    * [[LloydRounds]] fixed assign/re-center steps both balance the
    * cells and move them onto the data. SimilaritySpec pins max cell
    * occupancy ≤ 3× uniform, recall@5 ≥ 0.8 at [[TrainedNProbe]], and
    * pruning intact; the oracle replays the refinement as the unrolled
    * [[lloydCmeansCtesSql]] chain feeding the SAME
    * [[annIndexReplaySql]] body q105 uses. */
  private[graft] def annTrainedIndex(s: SparkSession, dir: String): java.io.File =
    graft.Standing.artifact(s, "annindex_trained", "vecs", dir) { base =>
      // cached across the build's corpus reads (seed means + one
      // assign/re-center pass per Lloyd round + encode); the write is
      // eager, so the unpersist cannot strand a returned plan (the
      // family-boundary rule's safe case)
      val corpus = EmbedOps.trainedEmbTable(s, dir).cache()
      try annIndexWriteCells(s, base, corpus,
        cellsOfCmeans(lloydCmeans(corpus, LloydRounds)))
      finally corpus.unpersist()
    }

  def q160(s: SparkSession, dir: String): DataFrame = {
    val base = annTrainedIndex(s, dir)
    val (cellsRow, cbRow) = annIndexModel(s, base)
    // the query batch reads its vectors (and stored norms) FROM the
    // standing artifact instead of re-running the projection aggregate
    // per invocation: the index stores the exact trained embedding +
    // nrm it was encoded with, so the probe is value-identical and the
    // registered op measures the amortized serve, not a re-train
    // (1.17 s → the q105 shape; r11 bench)
    val queries = annIndexVecs(s, base)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    annIndexSearch(annIndexVecs(s, base),
      probeCells(queries, cellsRow, TrainedNProbe), cbRow, IdxK,
      TrainedRerank)
  }

  lazy val q160Sql: String =
    s"WITH ${EmbedOps.trainedEmbCtesSql},\n" +
      annIndexReplaySql(lloydCmeansCtesSql(LloydRounds), TrainedNProbe,
        TrainedRerank)
        .stripPrefix("WITH ")

  // --- 187. cell-quota diversity sampling (r13) -----------------------------
  /** The SemDeDup-flavored curation move one level up from pair dedup:
    * instead of cutting near-identical PAIRS, cap each semantic
    * region's total contribution — assign every vector to its nearest
    * centroid cell (the q61 coarse quantizer: zero-shuffle broadcast
    * argmax) and keep at most [[CellQuota]] members per cell by a
    * deterministic md5 rank, so a dense cluster of redundant embeddings
    * contributes a bounded sample while sparse regions survive whole.
    * The diversity-balanced subset an embedding-training or eval-set
    * build draws.
    *
    * Scale shape: the assignment is the spec-pinned shuffle-free
    * broadcast argmax; the quota is the q96 rule — a rank ≤ k filter
    * over Window.partitionBy(cell_id) compiles to a map-side
    * WindowGroupLimit, so each map task keeps ≤ k rows per cell BEFORE
    * the shuffle and the exchange carries ≤ k·\|cells\| rows per input
    * partition regardless of cell skew. FULL oracle: the q61 assignment
    * replay + the same ROW_NUMBER rule. */
  val CellQuota = 4

  def q187(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val w = Window.partitionBy(col("cell_id"))
      .orderBy(col("skey"), col("vec_id"))
    assignToCells(withNorm(e), cellsAsRow(centroidCells(e)))
      .withColumn("skey",
        HexKey("divs:", 15, col("vec_id")))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .filter(col("cell_rank") <= CellQuota)
      .select(col("vec_id"), col("cell_id"), col("cell_rank"))
      .orderBy(col("vec_id"))
  }

  lazy val q187Sql: String =
    s"""WITH $embNrmCteSql,
       |$centroidMeanCtesSql,
       |${cellAssignCtesSql()},
       |keyed AS (
       |  SELECT vec_id, cell_id,
       |    CAST(('0x' || substr(md5('divs:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
       |  FROM assigned)
       |SELECT vec_id, cell_id, cell_rank FROM (
       |  SELECT vec_id, cell_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cell_id
       |      ORDER BY skey, vec_id) AS BIGINT) AS cell_rank
       |  FROM keyed) r
       |WHERE cell_rank <= $CellQuota
       |ORDER BY vec_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q53_knn_brute", q53, Some(q53Sql)),
    Op("q54_ann_lsh", q54, Some(q54Sql)),
    Op("q170_hard_negatives", q170, Some(q170Sql)),
    Op("q55_vector_stats", q55, Some(q55Sql)),
    Op("q61_ann_ivf", q61, Some(q61Sql)),
    Op("q187_cell_quota_sample", q187, Some(q187Sql)),
    Op("q78_ann_lsh_multi", q78, Some(q78Sql)),
    Op("q84_embed_quantize", q84, Some(q84Sql)),
    Op("q88_ann_pq", q88, Some(q88Sql)),
    Op("q105_ann_index", q105, Some(q105Sql)),
    Op("q160_ann_index_trained", q160, Some(q160Sql)),
  )
}
