package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.operators.GenerationLog

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, as a large-scale ANN pipeline needs both:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. The query side is broadcast, so the corpus is scanned
  *    exactly once with no shuffle of embeddings, and the per-key
  *    top-k operator runs a map-side partial heap pass per corpus
  *    partition, so the ordered exchange carries at most k·partitions
  *    rows per query instead of the full corpus×queries score set.
  *  - [[lshBucketedTopK]]: sign-random-projection LSH — corpus and
  *    queries are hashed into buckets scan-side, candidates come from
  *    bucket equi-joins (shuffle carries only (bucket, id, vec)), and
  *    exact cosine re-ranks candidates. This is the 100 TB path: cost
  *    scales with bucket collision counts, not corpus × queries.
  *
  * All arithmetic uses higher-order array functions on doubles —
  * codegen'd, no UDFs.
  */
object Similarity {

  /** Dot product of two array<float/double> columns as double, with a
    * deterministic left-to-right accumulation order (stable across
    * engines for oracle comparison).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm via the native codegen dot (one fused loop) — this runs
    * per corpus row in `embed_norms` and the SQ8 quantize pass, so it
    * gets the hot-path implementation; the self-dot accumulates left
    * to right exactly like the HOF fold, so values are bit-identical.
    */
  def norm(a: Column): Column =
    sqrt(graft.plans.DotProductExpr.dot_product(a, a))

  /** Cosine similarity: dot / (‖a‖·‖b‖) — higher-order-function
    * reference formulation (interpreted; three array passes), kept
    * fully HOF as the independent implementation the native
    * expression's bit-parity tests compare against.
    * try_divide: zero-norm inputs yield NULL rather than an ANSI
    * divide-by-zero error (Spark 4 default) or NaN — NULLs drop out
    * of rankings instead of sorting above every real score.
    */
  def cosineHof(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine similarity via the native codegen'd expression
    * ([[graft.plans.CosineSimilarityExpr]]): one fused loop inside
    * whole-stage codegen, bit-identical results to [[cosineHof]].
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.CosineSimilarityExpr.cosine_sim(a, b)

  /** Exact cosine top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast); returns
    * (query_id, rank, neighbor_id) with rank 1..k by descending
    * cosine, neighbor id as tie-break, self-matches excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    // per-key top-k via the custom bounded-heap operator — no
    // per-partition sort (see graft.plans.TopKPerKey)
    graft.plans.TopKPerKey(scored, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("score"),
        graft.plans.TopKPerKey.asc("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Sign-random-projection bucket key: `planes` pseudo-random
    * Rademacher (±1) hyperplanes derived from [[Hashing.hash60]] of
    * (plane, dim) — fully deterministic and reproducible in SQL. The
    * bucket is the concatenated sign bits of the projections.
    */
  def srpBucket(vec: Column, planes: Int, dims: Int,
                tableSalt: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      // projection_p(v) = Σ_d v[d] * sign(hash(table, p, d))
      val proj = aggregate(
        zip_with(vec, srpSigns(tableSalt, p, dims),
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    concat(bits: _*)
  }

  /** All `tables` SRP buckets of a vector in ONE pass via the fused
    * native expression ([[graft.plans.SrpBucketsExpr]]) — bit-identical
    * bits to `tables` [[srpBucket]] calls, but a single vector
    * traversal and constant-size generated code (32 separate per-plane
    * folds overflow the JIT method limit and run interpreted).
    * Returns array<string> indexed by table.
    */
  def srpBuckets(vec: Column, planes: Int, dims: Int,
                 tables: Int): Column = {
    val flat = array((for {
      t <- 0 until tables; p <- 0 until planes; d <- 0 until dims
    } yield lit(srpSign(t, p, d))): _*)
    graft.plans.SrpBucketsExpr.srp_buckets(vec, flat, tables, planes)
  }

  /** The deterministic ±1 of hyperplane (table `t`, plane `p`,
    * dimension `d`): parity of the md5 of "t:p:d". Public so the
    * DuckDB oracle SQL can be generated from the SAME constants the
    * Spark plan folds in — the bucket assignment is then reproducible
    * in any engine from the integers alone.
    */
  def srpSign(t: Int, p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t:$p:$d".getBytes("UTF-8"))
    if ((h(0) & 1) == 1) 1.0 else -1.0
  }

  /** The ±1 pattern of plane `p` in table `t` as a constant array
    * column — evaluated once by constant folding, broadcast implicitly
    * in the plan (never a data-dependent lookup).
    */
  private def srpSigns(t: Int, p: Int, dims: Int): Column =
    array((0 until dims).map(d => lit(srpSign(t, p, d))): _*)

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * scale path: a coarse quantizer of `nCells` centroids partitions
    * the corpus into cells; queries probe only the `nProbe` nearest
    * cells and re-rank candidates exactly.
    *
    * The quantizer here is one deterministic k-means step (seeds =
    * first `nCells` vectors, one assignment, per-cell mean). All
    * steps are DataFrame ops — centroids stay distributed and are
    * broadcast by size, never collected. At scale the cell assignment
    * is a write-once index (persist `assigned`); each query then
    * touches ~nProbe/nCells of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int, nProbe: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val (assigned, centroids) = ivfQuantize(corpus, nCells, idCol, vecCol)
    ivfProbe(assigned, centroids, queries, k, nProbe, idCol, vecCol)
  }

  /** One deterministic k-means step: seed cells = first `nCells`
    * vectors by id, one cosine assignment, per-cell per-dim mean.
    * Returns (assigned = (cid, cell, cv), centroids = (cell,
    * centroid)). Shared by the per-call [[ivfTopK]] and the persisted
    * [[IvfIndex]].
    */
  /** Nearest-seed cell assignment for `(cid, cv)` rows. Assignment
    * key = the 6-dp ROUNDED cosine with the cell id as an explicit
    * tiebreak (max over a (sim, cell) struct is lexicographic in both
    * Spark and DuckDB): full-precision max_by would make near-ties
    * engine-dependent (two engines folding the same doubles in
    * different orders disagree in the last ulp) and exact ties
    * nondeterministic even within Spark. Shared by the one-shot
    * quantizer and [[IvfIndex.append]], so incremental additions land
    * in exactly the cell a full rebuild over the same seeds would
    * pick.
    */
  private[functions] def assignToSeeds(c: DataFrame,
      seeds: DataFrame): DataFrame = {
    // SCAN-SIDE argmax when the seed set is literal-sized (the r11
    // k-means discipline, which proved the struct orderings
    // identical): the seeds re-enter as an array literal and the
    // assignment is ONE projection — array_max(transform(...)) over
    // (sim, cell) structs ≡ the join form's max(struct(sim, cell)),
    // rounded-tie cell tiebreak included. The join form pairs every
    // vector with every seed (n·cells rows, each carrying both float
    // arrays) and shuffles that by cid — at 500k vectors × √n seeds
    // that is a 350M-row shuffle for what one codegen'd projection
    // computes in place. Above the gate (a seed set too large to ship
    // as a plan literal) the join form remains the fallback.
    val gate = 4096
    val probe = seeds.limit(gate + 1).collect()
    // an empty seed set has no nearest cell — fail fast rather than
    // let the two branches diverge silently (the literal-argmax form
    // would emit every row with a null cell, the join form an empty
    // frame; neither is an assignment)
    require(probe.nonEmpty,
      "assignToSeeds: the seed set is empty — nothing to assign to")
    if (probe.length > gate)
      c.join(seeds)
        .withColumn("sim", Hashing.portableRound(cosine(col("cv"), col("seed")), 6))
        .groupBy(col("cid"))
        .agg(max(struct(col("sim"), col("cell"))).getField("cell").as("cell"))
        .join(c, "cid")
    else {
      val cellDt = seeds.schema.head.dataType
      val seedDt = seeds.schema(1).dataType
      // native fused argmax (whole-stage codegen, FLOP-bound) when the
      // seed rows fit its contract; else the portable HOF spelling —
      // all three forms compute the identical (sim, cell) max-struct
      val w = graft.plans.ArgmaxCosineExpr
        .forSeeds(col("cv"), probe, cellDt, seedDt)
        .getOrElse {
          import org.apache.spark.sql.catalyst.expressions.Literal
          import org.apache.spark.sql.graft.ColumnBridge
          val entries = probe.map { r =>
            struct(
              ColumnBridge.column(Literal.create(r.get(0), cellDt)).as("cell"),
              ColumnBridge.column(Literal.create(r.get(1), seedDt)).as("seed"))
          }
          array_max(transform(array(entries.toIndexedSeq: _*), s =>
            struct(
              Hashing.portableRound(cosine(col("cv"), s.getField("seed")), 6)
                .as("sim"),
              s.getField("cell").as("cell"))))
        }
      // project the SAME schema the join form produces — (cid, cell,
      // then every other column of c) — so callers passing extra
      // columns get them back from either branch
      val rest = c.columns.filter(_ != "cid").toSeq.map(col)
      c.withColumn("_w", w)
        .select(col("cid") +: col("_w.cell").as("cell") +: rest: _*)
    }
  }

  /** Quantizer seeds: the first nCells vectors by id — id-agnostic
    * (an id-value predicate like `id < nCells` silently selects
    * nothing for non-zero-based id spaces) and deterministic (a bare
    * limit() is not).
    */
  private[functions] def ivfSeeds(corpus: DataFrame, nCells: Int,
      idCol: String, vecCol: String): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell"), col(vecCol).as("seed"))

  private[functions] def ivfQuantize(corpus: DataFrame, nCells: Int,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val seeds = broadcast(ivfSeeds(corpus, nCells, idCol, vecCol))
    val assigned = assignToSeeds(c, seeds)
    // Caveat: AVG over doubles is summation-order-dependent (Spark
    // partial-aggregates per partition; a sequential engine folds left
    // to right), so centroid values can differ across engines in the
    // last ulp. Downstream comparisons against centroids therefore go
    // through the same 6-dp rounding as the assignment above, which
    // absorbs that noise except on astronomically unlikely exact
    // rounding-boundary hits.
    // elementwise per-cell average in ONE buffered aggregation
    // ([[graft.plans.VectorAvgAgg]]): the former posexplode spelling
    // multiplied the exchange's row count by the dimensionality and
    // paid a second exchange to re-assemble the array — same values
    // (identical per-partition addition order; merge order is
    // shuffle-nondeterministic in both spellings, absorbed by the
    // 6-dp rounding every downstream comparison applies)
    val centroids = assigned
      .groupBy(col("cell"))
      .agg(graft.plans.VectorAvgAgg.vector_avg(
        col("cv").cast("array<double>")).as("centroid"))
      // a cell whose every vector is null/empty had no exploded rows
      // in the former spelling — drop it here the same way
      .filter(size(col("centroid")) > 0)
    (assigned, centroids)
  }

  /** Deterministic, ENGINE-PORTABLE Lloyd's k-means over an embedding
    * column — corpus topic clustering for data-mixing curation (the
    * SemDeDup/DoReMi-style "what is the corpus made of" signal).
    * Seeds = first `k` vectors by id (the [[ivfSeeds]] rule); each
    * iteration assigns every vector to the nearest centroid by
    * 6-dp-ROUNDED cosine (cell-id tiebreak, the [[assignToSeeds]]
    * discipline) and recomputes per-cell per-dim means ROUNDED to
    * 6 dp. Rounding the CARRIED centroid state is what makes
    * iteration reproducible across engines: an unrounded AVG differs
    * in the last ulp with summation order (partial aggregation vs a
    * sequential fold), and a second assignment against it would
    * compound that divergence into different clusters — rounded, both
    * engines iterate over bit-identical centroids.
    *
    * Returns (assignments = (cid, cell, sim) — sim is the rounded
    * cosine to the centroid the final assignment used — and
    * centroids = (cell, centroid)). Scale shape: per iteration one
    * broadcast join against k centroid rows + one posexplode
    * aggregation — linear corpus passes, centroids never collected,
    * nothing quadratic; cells that attract no vectors simply drop
    * out (both engines identically).
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))

    // SCAN-SIDE assignment: the centroid state is collected to the
    // driver (a k-row frame, bounded by construction) and re-enters
    // the plan as an ARRAY LITERAL of (cell, seed) structs, so each
    // iteration's assignment is ONE projection over the corpus —
    // argmax-cosine via array_max(transform(...)), whose struct
    // ordering is exactly the max(struct(sim, cell)) the former
    // broadcast-join + re-aggregate computed, rounded-tie cell
    // tiebreak included. No join, no shuffle, and the recompute
    // consumes the same projection (the vectors never ride a shuffle
    // keyed by cid). The literal also cuts the per-iteration lineage,
    // so no checkpoint is needed to keep plans flat.
    def assignStruct(rows: Array[org.apache.spark.sql.Row],
                     cellDt: org.apache.spark.sql.types.DataType,
                     seedDt: org.apache.spark.sql.types.DataType): Column =
      // native fused argmax when the centroid rows fit its contract
      // (bit-identical to the HOF below — ArgmaxCosineSpec), else the
      // portable HOF spelling
      graft.plans.ArgmaxCosineExpr.forSeeds(col("cv"), rows, cellDt, seedDt)
        .getOrElse {
          val entries = rows.map { r =>
            struct(
              ColumnBridge.column(Literal.create(r.get(0), cellDt)).as("cell"),
              ColumnBridge.column(Literal.create(r.get(1), seedDt)).as("seed"))
          }
          array_max(transform(array(entries.toIndexedSeq: _*), s =>
            struct(
              Hashing.portableRound(cosine(col("cv"), s.getField("seed")), 6)
                .as("sim"),
              s.getField("cell").as("cell"))))
        }
    def assigned(rows: Array[org.apache.spark.sql.Row],
                 cellDt: org.apache.spark.sql.types.DataType,
                 seedDt: org.apache.spark.sql.types.DataType): DataFrame =
      c.withColumn("_w", assignStruct(rows, cellDt, seedDt))
        .select(col("cid"), col("_w.cell").as("cell"),
          col("_w.sim").as("sim"), col("cv"))
    // elementwise per-cell average in ONE buffered aggregation
    // ([[graft.plans.VectorAvgAgg]]) — the posexplode spelling
    // shuffled dims× the rows and re-assembled through a second
    // exchange. The carried-state 6-dp rounding is applied OUTSIDE
    // the aggregate by the same portableRound expression as before,
    // so the rounded centroids both engines iterate over are
    // unchanged.
    def recompute(a: DataFrame): DataFrame =
      a.groupBy(col("cell"))
        .agg(graft.plans.VectorAvgAgg.vector_avg(
          col("cv").cast("array<double>")).as("_raw"))
        // a cell whose every vector is null/empty had no exploded
        // rows in the former spelling — drop it here the same way
        .filter(size(col("_raw")) > 0)
        .select(col("cell"),
          transform(col("_raw"),
            v => Hashing.portableRound(v, 6)).as("seed"))

    var centsDf = ivfSeeds(corpus, k, idCol, vecCol)
    var cellDt = centsDf.schema.head.dataType
    var seedDt = centsDf.schema(1).dataType
    var rows = centsDf.collect()
    for (_ <- 1 to iters) {
      centsDf = recompute(assigned(rows, cellDt, seedDt))
      cellDt = centsDf.schema.head.dataType
      seedDt = centsDf.schema(1).dataType
      rows = centsDf.collect() // k rows per iteration, bounded
    }
    // final assignment against the final centroids, so `sim` and the
    // returned centroids describe the same partition of the corpus;
    // the centroid frame is rebuilt from the already-collected rows —
    // no recompute pass when the caller evaluates it
    val finalAssign = assigned(rows, cellDt, seedDt)
      .select(col("cid"), col("cell"), col("sim"))
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell", cellDt),
        org.apache.spark.sql.types.StructField("centroid", seedDt))))
    (finalAssign, centroids)
  }

  /** Probe + exact re-rank against an (assigned, centroids) pair —
    * in-memory or read back from a persisted [[IvfIndex]].
    */
  private[functions] def ivfProbe(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // rounded probe key for the same cross-engine robustness as the
    // assignment step (cell id already breaks rounded ties)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", Hashing.portableRound(cosine(col("qv"), col("centroid")), 6))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val cand = assigned.join(probes, Seq("cell"))
      .filter(col("cid") =!= col("query_id"))
      .withColumnRenamed("cid", "neighbor_id")
      // portableRound, not round: the 6-dp score is both the output
      // and the rank key, and portableRound is the form DuckDB's
      // ROUND reproduces bit-for-bit (see Hashing.portableRound)
      .withColumn("score", Hashing.portableRound(cosine(col("qv"), col("cv")), 6))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    graft.plans.TopKPerKey(cand, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("score"),
        graft.plans.TopKPerKey.asc("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Embedding-space near-duplicate PAIRS (the dedup-by-embedding
    * modality): SRP-bucket candidate generation — a pair qualifies if
    * it shares a bucket in ANY of the `tables` hash tables — followed
    * by exact cosine verification at `threshold` on the 6-dp-rounded
    * score.
    *
    * Order of operations is DISTINCT-first: the bucket self-join
    * carries bare (tbl, bucket, id) rows, candidate pairs are
    * deduplicated on ids alone (a pair colliding in several tables is
    * scored once, not per collision), and the two gather joins fetch
    * vectors only for unique pairs. Measured 2.1× the score-first
    * spelling at sf0.1 — and no vector ever rides the candidate
    * shuffle. At scale the gathers are plain shuffle joins of the
    * deduped pair list against the corpus (sketch → bucket → verify,
    * with verify last and minimal).
    *
    * Bucket granularity is the scale knob: 2^planes buckets per
    * table, so choose planes ≈ log₂(corpus / target-bucket-size) to
    * keep per-bucket pair fan-out bounded as the corpus grows. Hot
    * buckets from genuinely DENSE REGIONS are signal — the right
    * response there is finer buckets (more planes), not dropping.
    * But a large cluster of IDENTICAL vectors (exact-dup documents
    * re-embedded) collides in every table no matter how many planes,
    * emitting m²/2 pairs: `maxBucketSize` drops such degenerate
    * buckets with a logged count (default ∞ = bit-identical to the
    * unguarded join; the production order runs exact dedup first so
    * the guard never fires on real clusters).
    * Returns (vec_a, vec_b, score) with vec_a < vec_b.
    */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
                            planes: Int, dims: Int, tables: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val b0 = corpus.select(col(idCol).as("id"),
      posexplode(srpBuckets(col(vecCol), planes, dims, tables))
        .as(Seq("tbl", "b")))
    val b = Dedup.dropOversizedBuckets(b0, Seq("tbl", "b"), maxBucketSize,
      "embeddingNearDupPairs")
    val pairs = b.as("l").join(b.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.b") === col("r.b") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"))
      .distinct()
    val v = corpus.select(col(idCol), col(vecCol))
    pairs
      .join(v.select(col(idCol).as("vec_a"), col(vecCol).as("va")), "vec_a")
      .join(v.select(col(idCol).as("vec_b"), col(vecCol).as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Hashing.portableRound(cosine(col("va"), col("vb")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Cross-corpus SEMANTIC near-duplicate pairs — the bipartite
    * variant of [[embeddingNearDupPairs]] and the embedding-space
    * twin of [[Dedup.crossDupPairs]]: candidate pairs are vectors
    * from DIFFERENT corpora sharing an SRP bucket in any table,
    * verified by exact cosine — paraphrase-level overlap between two
    * crawl snapshots, or semantic train-vs-benchmark contamination
    * no lexical sketch can see. Same discipline as the self-join:
    * DISTINCT-first (a pair colliding in several tables is scored
    * once), vectors never ride the candidate shuffle, the degenerate
    * identical-vector guard applies per side. Returns
    * (left_id, right_id, score).
    *
    * `indexPath` persists the two SRP bucket relations durably
    * (parquet under `left/` and `right/`, rebuilt each call) instead
    * of deriving them inline — [[Dedup.crossDupPairs]]' switch for the
    * semantic join: on a multi-hour run an executor loss otherwise
    * recomputes the projection scan (and, with the guard active, its
    * executor-memory checkpoint). Identical results either way
    * (SimilaritySpec parity test).
    */
  def crossEmbeddingNearDupPairs(left: DataFrame, right: DataFrame,
                                 threshold: Double,
                                 planes: Int, dims: Int, tables: Int = 8,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 maxBucketSize: Long = Long.MaxValue,
                                 indexPath: Option[String] = None)
      : DataFrame = {
    def buckets(df: DataFrame, side: String) = {
      val b = Dedup.dropOversizedBuckets(
        df.select(col(idCol).as("id"),
          posexplode(srpBuckets(col(vecCol), planes, dims, tables))
            .as(Seq("tbl", "b"))),
        Seq("tbl", "b"), maxBucketSize, s"crossEmbeddingNearDupPairs/$side")
      indexPath match {
        case Some(path) =>
          b.write.mode("overwrite").parquet(s"$path/$side")
          df.sparkSession.read.parquet(s"$path/$side")
        case None => b
      }
    }
    val pairs = buckets(left, "left").as("l")
      .join(buckets(right, "right").as("r"),
        col("l.tbl") === col("r.tbl") && col("l.b") === col("r.b"))
      .select(col("l.id").as("left_id"), col("r.id").as("right_id"))
      .distinct()
    pairs
      .join(left.select(col(idCol).as("left_id"), col(vecCol).as("va")),
        "left_id")
      .join(right.select(col(idCol).as("right_id"), col(vecCol).as("vb")),
        "right_id")
      .select(col("left_id"), col("right_id"),
        Hashing.portableRound(cosine(col("va"), col("vb")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** One micro-batch of the streaming EMBEDDING near-dup filter — the
    * SRP band-key analog of [[Dedup.nearDupFilterBatch]], giving the
    * ingest path the SEMANTIC admission signal ([[semDedup]] /
    * [[embeddingNearDupPairs]]'s candidate rule, online): admit only
    * vectors that share no SRP bucket, in any of the `tables` hash
    * tables, with anything admitted before them. The persisted store
    * is the (tbl, bucket, doc_id) relation of ADMITTED vectors —
    * `tables` short strings per vector, payload never stored — which a
    * micro-batch can equi-join; at 100 TB this is the only shape that
    * avoids re-running batch semantic dedup over the full corpus on
    * every arrival.
    *
    * Semantics, replay-idempotence, and the degenerate-cluster guard
    * are exactly [[Dedup.admitByKeys]]'s (shared core): candidate-
    * level dropping (tune planes/tables for the miss/false-drop
    * trade — more planes = finer buckets = fewer false drops; more
    * tables = higher true-near-dup catch rate), store join excludes
    * the vector's own keys so a replayed batch reproduces its survivor
    * set bit-for-bit. Wire into a stream with
    * `writeStream.foreachBatch((b, _) => embedNearDupFilterBatch(b, …)
    * .write.mode("append")…)`.
    */
  def embedNearDupFilterBatch(batch: DataFrame, storePath: String,
                              planes: Int, dims: Int, tables: Int = 8,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              maxBucketSize: Long = Long.MaxValue,
                              nBuckets: Int = 64,
                              autoCompactFiles: Int = 32,
                              tailFoldFiles: Int = 16,
                              admittedAt: Long = -1L,
                              suppressSince: Long = 0L,
                              expireBefore: Long = 0L,
                              maxBucketBytes: Long = 0L,
                              maxSplitsPerTurn: Int = 2)
      : DataFrame =
    Dedup.admitByKeys(batch,
      Dedup.dropOversizedBuckets(
        batch.select(col(idCol).as("doc_id"),
          posexplode(srpBuckets(col(vecCol), planes, dims, tables))
            .as(Seq("tbl", "b"))),
        Seq("tbl", "b"), maxBucketSize, "embedNearDupFilterBatch"),
      storePath, idCol, nBuckets, autoCompactFiles, tailFoldFiles,
      admittedAt, suppressSince, expireBefore, maxBucketBytes,
      maxSplitsPerTurn)

  /** Remove vectors from an SRP admission store — the semantic-side
    * takedown path, mirroring [[Dedup.nearDupRemove]] (shared core
    * [[Dedup.removeByKeys]]): the removed vectors' SRP buckets are
    * re-derived (parameters must match the store's — the layout
    * contract), so only the O(removal batch) touched buckets' files
    * are read and rewritten. Physical, idempotent, one serializable
    * commit, kept keys never lost (see the core's notes). When the
    * vectors are no longer available, [[Dedup.removeAdmittedIds]] is
    * the full-sweep fallback. Returns rows removed.
    */
  def embedNearDupRemove(vectors: DataFrame, storePath: String,
                         planes: Int, dims: Int, tables: Int = 8,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         nBuckets: Int = 64): Long =
    Dedup.removeByKeys(
      vectors.select(col(idCol).as("doc_id"),
        posexplode(srpBuckets(col(vecCol), planes, dims, tables))
          .as(Seq("tbl", "b"))),
      storePath, nBuckets)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the coarse quantizer,
    * then inside each cluster mark as duplicates the vectors that sit
    * within cosine `threshold` of another cluster member. This prunes
    * semantically redundant training documents that no lexical sketch
    * (minhash/simhash) can see — paraphrases, re-renders, translations
    * embedded near each other.
    *
    * Duplicate rule (deterministic, engine-portable): a vector is a
    * duplicate iff SOME lower-id vector in the same cell has 6-dp
    * rounded cosine ≥ threshold — the same min-id-survivor convention
    * as exact dedup, independent of visit order (NOT the chained
    * "survivor set" variant, whose result depends on iteration order).
    *
    * Scale shape: the quadratic term is confined within cells — this
    * is the point of SemDeDup's clustering step. Choose nCells ≈
    * corpus / target-cell-size to bound per-cell fan-out;
    * `maxCellSize` guards the degenerate case (a mega-cluster of
    * identical vectors) by dropping oversized cells with a logged
    * count, exactly like the LSH band-join guard.
    *
    * Returns (idCol, cell, is_duplicate).
    */
  def semDedup(corpus: DataFrame, nCells: Int, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxCellSize: Long = Long.MaxValue): DataFrame = {
    val (assigned, _) = ivfQuantize(corpus, nCells, idCol, vecCol)
    // The assignment feeds three consumers (both self-join sides and
    // the verdict's left join); without materialization Spark would
    // recompute the scan + seed cross-join + argmax three times.
    // localCheckpoint suits this sandbox; the 100 TB deployment
    // persists the assignment once via IvfIndex and runs semDedup
    // over the stored (cid, cell, cv) table instead.
    val guarded = Dedup.dropOversizedBuckets(
      assigned, Seq("cell"), maxCellSize, "semDedup")
      .localCheckpoint(true)
    // pair shuffle carries (cell) keyed rows with the vector payload —
    // within-cell only, never corpus × corpus
    val dominated = guarded.as("l").join(guarded.as("r"),
        col("l.cell") === col("r.cell") && col("l.cid") < col("r.cid"))
      .filter(
        Hashing.portableRound(cosine(col("l.cv"), col("r.cv")), 6)
          >= threshold)
      .select(col("r.cid").as("cid")).distinct()
    guarded.select(col("cid"), col("cell"))
      .join(dominated.withColumn("dup", lit(true)), Seq("cid"), "left")
      .select(col("cid").as(idCol), col("cell"),
        coalesce(col("dup"), lit(false)).as("is_duplicate"))
  }

  /** Multi-table LSH approximate top-k: `tables` independent SRP hash
    * tables of `planes` sign bits each; a corpus vector is a candidate
    * for a query if they share a bucket in ANY table (the standard
    * recall amplifier: miss probability decays exponentially in the
    * table count). Exact cosine re-ranks the deduplicated candidates.
    * Returns (query_id, rank, neighbor_id, score rounded 6dp).
    *
    * Scale shape: each side is scanned once, emitting `tables` rows
    * per vector keyed by a small bucket string; the join shuffles
    * (bucket, id) pairs only, and the re-rank runs on candidates —
    * never corpus × queries.
    */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      planes: Int, dims: Int, tables: Int = 8,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(srpBuckets(col(vecCol), planes, dims, tables))
            .as(Seq("tbl", "b")))
        .select(col(id), col(vec),
          concat_ws("|", col("tbl"), col("b")).as("bucket"))
    val bucketed = withBuckets(corpus, "neighbor_id", "cv")
    val qb = broadcast(withBuckets(queries, "query_id", "qv"))
    // score BEFORE deduplicating: duplicate candidates (same pair from
    // several tables) recompute a cheap fused-loop cosine, but the
    // dedup shuffle then carries (ids, score) — ~24 bytes — instead of
    // two embedding vectors per row
    val cand = bucketed.join(qb, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", Hashing.portableRound(cosine(col("qv"), col("cv")), 6))
      .select("query_id", "neighbor_id", "score")
      .dropDuplicates("query_id", "neighbor_id")
    graft.plans.TopKPerKey(cand, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("score"),
        graft.plans.TopKPerKey.asc("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** SQ8 scalar quantization (FAISS `SQ8`-style): each vector
    * compresses to 1-byte codes plus one double scale —
    * `scale = max|x|/127`, `code = floor(x/scale + 0.5)` ∈ [-127,127]
    * (tinyint; the floor-half-up formula is engine-portable, and a
    * zero vector takes scale 1 so codes stay defined). At 100 TB of
    * embeddings this is the memory-bandwidth play: a candidate scan
    * reads ~1/4 the bytes of float32 (64 B codes vs 256 B floats for
    * 64 dims), and the codes table is the write-once artifact the
    * [[IvfIndex]]/`indexPath` pattern would persist.
    *
    * Returns (idCol, sq_codes array<tinyint>, sq_scale, sq_norm) —
    * `sq_norm` is the EXACT float-vector L2 norm, kept beside the
    * codes so approximate cosine needs no second pass over the
    * originals.
    */
  def sq8Quantize(df: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val absmax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol),
        when(absmax === 0.0, lit(1.0)).otherwise(absmax / 127.0)
          .as("sq_scale"))
      .select(col(idCol),
        transform(col(vecCol), x =>
          floor(x.cast("double") / col("sq_scale") + lit(0.5))
            .cast("byte")).as("sq_codes"),
        col("sq_scale"),
        norm(col(vecCol)).as("sq_norm"))
  }

  /** SQ8 approximate top-k with exact re-rank — the third standard ANN
    * path beside SRP-LSH (collision-bounded) and IVF (partition-
    * pruned): scan the 1-byte codes, rank by approximate cosine
    * `dot(codes)·sa·sb / (na·nb)`, keep `rerank ≥ k` candidates per
    * query, then re-rank ONLY that short list with exact cosine over
    * the full vectors.
    *
    * Determinism across engines is structural: the code dot product
    * is integer arithmetic carried exactly in doubles (≤ 127²·dims ≪
    * 2⁵³), so the approximate ranking — the recall-critical step —
    * has no float-summation ambiguity at all; the scale/norm factors
    * multiply in a fixed order and round to 6 dp before ranking (ids
    * break ties). The candidate shuffle carries (ids, score) only;
    * vectors re-enter via broadcast joins of the rerank·|queries|
    * short list against the corpus — the corpus itself never shuffles.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              rerank: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              codesPath: Option[String] = None,
              codes: Option[DataFrame] = None): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // codes/codesPath = the write-once durable-artifact configuration
    // (the jaccard indexPath / IvfIndex / LangModel.modelPath
    // pattern): quantize ONCE, persist, and every later query batch
    // scans the 1-byte codes table instead of re-deriving it from the
    // float corpus — this is where the 4× bandwidth saving actually
    // lands. `codes` takes an [[Sq8CodesStore]] relation (the
    // incrementally-appendable form); `codesPath` keeps the simple
    // single-file shape, validity = parquet's own _SUCCESS commit
    // marker (a torn build has no marker and is rebuilt).
    val quantized = codes.getOrElse(codesPath match {
      case Some(p) =>
        val spark = corpus.sparkSession
        val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          sq8Quantize(corpus, idCol, vecCol)
            .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None => sq8Quantize(corpus, idCol, vecCol)
    })
    val c = quantized
      .select(col(idCol).as("neighbor_id"), col("sq_codes").as("cc"),
        col("sq_scale").as("cs"), col("sq_norm").as("cn"))
    val q = broadcast(sq8Quantize(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("sq_codes").as("qc"),
        col("sq_scale").as("qs"), col("sq_norm").as("qn")))
    val approx = c.join(q, col("neighbor_id") =!= col("query_id"))
      // the native codegen dot (one fused loop in WSCG), not the
      // interpreted zip_with/aggregate HOF: this expression runs
      // n×|queries| times — the hottest loop in the operator. The
      // tinyint→double cast is itself codegen'd and the values are
      // exact integers either way, so the score is bit-identical.
      .withColumn("ascore", Hashing.portableRound(
        try_divide(graft.plans.DotProductExpr.dot_product(
            col("qc").cast("array<double>"), col("cc").cast("array<double>"))
          * col("qs") * col("cs"),
          col("qn") * col("cn")), 6))
      // zero-norm vectors have NO cosine: drop the NULL try_divide
      // rows here, or a short candidate list (fewer real candidates
      // than k) would surface them as NULL-scored "neighbors"
      .filter(col("ascore").isNotNull)
      .select(col("query_id"), col("neighbor_id"), col("ascore"))
    val cand = graft.plans.TopKPerKey(approx, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("ascore"),
        graft.plans.TopKPerKey.asc("neighbor_id")), rerank)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the short list: candidates are rerank·|queries|
    // rows — broadcast them into the corpus scan, never the reverse
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val exact = cv.join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("score",
        Hashing.portableRound(cosine(col("qv"), col("cv")), 6))
      .filter(col("score").isNotNull)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    graft.plans.TopKPerKey(exact, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("score"),
        graft.plans.TopKPerKey.asc("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Product-quantization ANN (Jégou et al. 2011) — the fourth
    * standard scale path beside SRP-LSH, IVF, and SQ8, and the one
    * with the best bandwidth/recall trade at billion-vector scale:
    * the vector splits into `m` subspaces, each subspace gets its own
    * `nCodes`-entry codebook, and a vector is stored as `m` small
    * code ids (m·log₂nCodes bits ≈ 16 bytes/vector at classical
    * settings vs 256 for float32×64). Query time is ADC (asymmetric
    * distance computation): ONE lookup table of query-to-centroid
    * dot products per (query, subspace), and every corpus vector's
    * approximate score is m table lookups + adds — no float vector
    * is touched until the exact re-rank of the short list.
    *
    * Determinism discipline (the proven house rules, composed):
    *  - codebook = first-nCodes-by-id seeds + `iters` spherical Lloyd
    *    steps per subspace (default 1; production codebooks train
    *    multiple rounds at nCodes=256 — the [[kmeans]] discipline),
    *    assignment by 6-dp-ROUNDED cosine with larger-code tiebreak
    *    (the [[assignToSeeds]] max-struct rule, running on the native
    *    [[graft.plans.ArgmaxCosineExpr]] where its contract holds),
    *    per-dim AVG centroids ROUNDED to 6 dp — the CARRIED-state
    *    rounding that keeps every later iteration bit-identical
    *    across engines (an unrounded AVG differs in the last ulp with
    *    summation order, and a second assignment against it would
    *    compound the divergence);
    *  - the ADC ranking — the recall-critical step — is INTEGER
    *    arithmetic (the SQ8 rule): LUT entries are
    *    floor(dot·10⁶ + 0.5) as BIGINT, computed driver-side by the
    *    same left-to-right fold DuckDB's list_dot_product uses, and
    *    the per-vector score is an exact integer sum of m of them, so
    *    approximate rank order has zero float-summation ambiguity;
    *    only the final normalized score divides by the (identically
    *    folded) norms and rounds to 6 dp.
    *
    * Scale shape: codebook build is one corpus scan (scan-side seed
    * argmax + one per-(subspace, code, dim) mean — the write-once
    * artifact; persist it via the IvfIndex/sq8 codesPath pattern when
    * probing repeatedly); encode + ADC is ONE corpus scan in full
    * whole-stage codegen (m literal-array argmaxes to encode, then
    * m element_at lookups per query — queries and codebooks re-enter
    * as plan literals, nothing joins, nothing shuffles until the
    * rerank·|queries|-row candidate heap); the exact re-rank
    * broadcasts the short list into a pruned corpus scan. `m·nCodes`
    * must fit the 4096-literal gate; query batches of ANY size are
    * AUTO-CHUNKED into ≤4096-query literal groups (one fused,
    * join-free scan per chunk, heaps unioned — per query the result
    * is bit-identical to running its chunk alone, because the
    * codebook depends only on the corpus). `graft.pq.chunkSize`
    * shrinks the chunk width below 4096 when plan-literal size
    * matters more than scan count.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, nCodes: Int = 16, rerank: Int = 40,
             idCol: String = "vec_id",
             vecCol: String = "embedding", iters: Int = 1,
             codebook: Option[PqCodebook] = None,
             codes: Option[DataFrame] = None): DataFrame =
    pqAdc(corpus, queries, k, m, nCodes, rerank, iters, idCol, vecCol,
      None, codebook, codes)

  /** Encode the corpus against a trained codebook — the OTHER half of
    * the write-once PQ artifact: (cid, pq_codes, pq_norm), plus the
    * coarse `cell` when `assigned` (an [[ivfQuantizeCached]] pair's
    * assignment frame) is passed for the IVF-PQ composition. Persist
    * the result (the sq8 codesPath pattern) and every later query
    * batch's ADC scans m small codes per vector instead of
    * re-encoding the float corpus — this is where PQ's bandwidth
    * saving actually lands at scale.
    */
  def pqEncode(corpus: DataFrame, cb: PqCodebook,
               idCol: String = "vec_id", vecCol: String = "embedding",
               assigned: Option[DataFrame] = None): DataFrame = {
    val sub = cb.dims / cb.m
    val c = assigned match {
      case Some(a) => a.select(col("cid"),
        col("cv").cast("array<double>").as("v"), col("cell"))
      case None => corpus.select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("v"))
    }
    val codesArr =
      array((0 until cb.m).map(s => pqAssignExpr(sub, s, cb.cents(s))): _*)
    // pq_fp: the producing codebook's fingerprint rides with the codes
    // (a constant column — zero-cost in parquet's RLE), so the ADC can
    // refuse codes from another codebook instead of silently mis-ranking
    c.select(Seq(col("cid"), codesArr.as("pq_codes"),
      norm(col("v")).as("pq_norm"),
      lit(cb.fingerprint).as("pq_fp")) ++
      (if (assigned.isDefined) Seq(col("cell")) else Nil): _*)
  }

  /** A trained per-subspace codebook — the write-once PQ artifact
    * (the tokenizer-state / IvfIndex pattern): train ONCE per corpus
    * via [[pqTrainCodebook]], then every query batch encodes and
    * ranks against it without re-running the Lloyd steps. The
    * parameters ride along so a mismatched reuse fails loudly.
    */
  final case class PqCodebook(m: Int, nCodes: Int, iters: Int, dims: Int,
      cents: IndexedSeq[Array[(Int, IndexedSeq[Double])]]) {

    /** Content fingerprint over parameters AND every trained centroid
      * value (FNV-1a over the exact double bits — centroids are
      * 6-dp-rounded carried state, so equal training runs fingerprint
      * equally). [[pqEncode]] stamps it into the codes it emits and
      * the ADC refuses a codes/codebook mismatch — the BpeCheckpoint
      * corpus-fingerprint refusal applied to the PQ artifact pair:
      * codes encoded under a DIFFERENT codebook (retrained, other
      * corpus, stale persisted table) would otherwise silently
      * produce wrong top-k.
      */
    lazy val fingerprint: Long = Hashing.fnv1a(
      Iterator(m.toLong, nCodes.toLong, iters.toLong, dims.toLong) ++
        cents.iterator.flatMap(_.iterator.flatMap { case (code, vec) =>
          Iterator(code.toLong) ++
            vec.iterator.map(java.lang.Double.doubleToLongBits)
        }))
  }

  /** Train the PQ codebook alone (first-nCodes seeds + `iters`
    * 6-dp-rounded Lloyd steps per subspace — exactly the steps
    * [[pqTopK]] runs inline when no codebook is passed, so reuse is
    * bit-identical to retraining by construction).
    */
  def pqTrainCodebook(corpus: DataFrame, m: Int = 8, nCodes: Int = 16,
                      iters: Int = 1, idCol: String = "vec_id",
                      vecCol: String = "embedding"): PqCodebook =
    pqCodebookOf(corpus, m, nCodes, iters, idCol, vecCol)

  /** IVF-PQ (the classical FAISS IVFPQ pairing): the [[ivfTopK]]
    * coarse quantizer restricts each query's ADC scan to its
    * `nProbe` nearest cells, and [[pqTopK]]'s integer ADC ranks only
    * within that restriction — the composition that makes
    * billion-vector search tractable (PQ alone still reads every
    * code; IVF alone still touches full float vectors per probed
    * cell; together: 1/nCells of the corpus at m-byte codes).
    *
    * Determinism: the coarse assignment and probe selection are the
    * exact [[ivfTopK]] spellings (6-dp-rounded cosines, cell-id
    * tiebreaks), the ADC stage the exact [[pqTopK]] spelling — so the
    * composed result is DuckDB-reproducible from the two existing
    * mirrors joined on the probed-cell gate. Gating happens INSIDE
    * the fused encode+ADC scan (a per-query `when` on the scan-side
    * coarse cell — short-circuits the m lookups for unprobed pairs);
    * nothing joins, nothing shuffles until the rerank-row heap.
    * Probe lists are computed and collected PER CHUNK inside the
    * shared ADC core (≤ chunk × nProbe rows each) — an oversized
    * query batch never triggers an unbounded probe collect; it just
    * gets more chunks.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, nCodes: Int = 16, rerank: Int = 40,
                idCol: String = "vec_id",
                vecCol: String = "embedding", iters: Int = 1,
                codebook: Option[PqCodebook] = None,
                quantized: Option[(DataFrame, DataFrame)] = None,
                codes: Option[DataFrame] = None)
      : DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells] (got $nProbe of $nCells)")
    // `quantized` = a memoized [[ivfQuantizeCached]] pair — the coarse
    // quantizer is corpus-only, so reuse is bit-identical to requantizing
    val (assigned, centroids) = quantized.getOrElse(
      ivfQuantize(corpus, nCells, idCol, vecCol))
    pqAdc(corpus, queries, k, m, nCodes, rerank, iters, idCol, vecCol,
      Some((assigned, centroids, nProbe)), codebook, codes)
  }

  /** The IVF coarse quantizer materialized for reuse across query
    * batches (assignments + centroids localCheckpointed) — pass to
    * [[ivfPqTopK]]'s `quantized` so repeated probes skip the
    * assignment scan.
    */
  def ivfQuantizeCached(corpus: DataFrame, nCells: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val (a, c) = ivfQuantize(corpus, nCells, idCol, vecCol)
    (a.localCheckpoint(true), c.localCheckpoint(true))
  }

  /** Left-to-right dot fold — the exact summation order DuckDB's
    * list_dot_product uses, so LUT terms floor identically.
    */
  private def pqDot(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Nearest-codebook-entry argmax for subspace `s` over a `v` vector
    * column — native codegen expression when its contract holds, the
    * portable HOF max-struct spelling otherwise (identical semantics
    * incl. tiebreak).
    */
  private def pqAssignExpr(sub: Int, s: Int,
      cents: Array[(Int, IndexedSeq[Double])]): Column = {
    val svCol = slice(col("v"), s * sub + 1, sub)
    val rows = cents.map { case (code, vec) =>
      org.apache.spark.sql.Row(code, vec) }
    graft.plans.ArgmaxCosineExpr.forSeeds(svCol, rows, IntegerType,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
      .map(_.getField("cell"))
      .getOrElse {
        val entries = cents.map { case (code, vec) =>
          struct(lit(code).as("cell"),
            typedlit(vec.toSeq).as("seed")) }
        array_max(transform(array(entries.toIndexedSeq: _*), st =>
          struct(
            Hashing.portableRound(cosine(svCol, st.getField("seed")), 6)
              .as("sim"),
            st.getField("cell").as("cell")))).getField("cell")
      }
  }

  /** Codebook build: first-nCodes-by-id seeds, `iters` Lloyd steps per
    * subspace, 6-dp-ROUNDED carried centroid state (the kmeans
    * discipline) — the codebook feeds the next assignment, the encode
    * argmax, and the ADC lookup tables, so rounding collapses both
    * engines onto bit-identical centroids instead of compounding the
    * AVG's last-ulp summation noise across iterations. Each iteration
    * is one corpus scan; centroids collect ≤ m·nCodes rows
    * (literal-gate bounded by construction).
    */
  private def pqCodebookOf(corpus: DataFrame, m: Int, nCodes: Int,
      iters: Int, idCol: String, vecCol: String): PqCodebook = {
    require(m >= 1 && nCodes >= 2, s"need m >= 1, nCodes >= 2 (got $m, $nCodes)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(m * nCodes <= 4096,
      s"m*nCodes (${m * nCodes}) exceeds the literal gate — shrink the codebook")
    val dimRow = corpus.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(dimRow.nonEmpty, "pqTopK: empty corpus")
    val dims = dimRow(0).getInt(0)
    require(dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    val sub = dims / m
    val c = corpus.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("v"))
    val seedVecs = corpus.orderBy(col(idCol)).limit(nCodes)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
    require(seedVecs.nonEmpty, "pqTopK: no seed vectors")
    var cents: IndexedSeq[Array[(Int, IndexedSeq[Double])]] =
      (0 until m).map(s => seedVecs.zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * sub, (s + 1) * sub)) }.toArray)
    for (_ <- 1 to iters) {
      val assignedCols = (0 until m).map(s => struct(lit(s).as("s"),
        pqAssignExpr(sub, s, cents(s)).as("code"),
        slice(col("v"), s * sub + 1, sub).as("sv")))
      val centDf = c.select(explode(array(assignedCols: _*)).as("a"))
        .select(col("a.s").as("s"), col("a.code").as("code"),
          posexplode(col("a.sv")).as(Seq("dim", "x")))
        .groupBy(col("s"), col("code"), col("dim"))
        .agg(Hashing.portableRound(avg(col("x")), 6).as("cval"))
        .groupBy(col("s"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cval")))),
          st => st.getField("cval")).as("centroid"))
      val all = centDf.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
      cents = (0 until m).map(s =>
        all.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1).toArray)
    }
    PqCodebook(m, nCodes, iters, dims, cents)
  }

  /** Shared PQ core: codebook build (`iters` Lloyd steps) + fused
    * encode/ADC scan + exact re-rank, optionally gated per query to
    * the `nProbe` nearest coarse cells of `coarse` (the IVF-PQ
    * composition). Query batches auto-chunk into ≤`graft.pq.chunkSize`
    * (default 4096) literal groups: one join-free fused scan per
    * chunk, candidate heaps unioned — per query bit-identical to a
    * manual chunked run, because the codebook (and the coarse
    * quantizer) depend only on the corpus.
    */
  /** PASSED provenance audits of persisted PQ codes tables, keyed by
    * (plan identity, FILE-SET fingerprint, codebook fingerprint) — see
    * the audit site in [[pqAdc]]. A concurrent set (plain reads race
    * synchronized writes on a mutable.Set); bounded, cleared wholesale
    * at the cap.
    */
  private val fpAuditPassed: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** File-set fingerprint of a plan's file-source roots — (name, len,
    * mtime) of each root's direct children, so a re-encoded codes
    * table at the SAME path (write-once violated, or a fresh
    * generation) can never be vouched for by a stale PASSED audit;
    * the plan-identity key alone elides file identity.
    */
  private def fileSetFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val roots = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten.distinct.sorted
    roots.map { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val fs = p.getFileSystem(conf)
      val parts = scala.util.Try(fs.listStatus(p)).getOrElse(Array.empty)
        .sortBy(_.getPath.getName)
        .map(s =>
          s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      s"$r=[${parts.mkString(",")}]"
    }.mkString(";")
  }

  private def pqAdc(corpus: DataFrame, queries: DataFrame, k: Int,
                    m: Int, nCodes: Int, rerank: Int, iters: Int,
                    idCol: String, vecCol: String,
                    coarse: Option[(DataFrame, DataFrame, Int)],
                    precomputed: Option[PqCodebook] = None,
                    codes: Option[DataFrame] = None)
      : DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(m >= 1 && nCodes >= 2, s"need m >= 1, nCodes >= 2 (got $m, $nCodes)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(m * nCodes <= 4096,
      s"m*nCodes (${m * nCodes}) exceeds the literal gate — shrink the codebook")
    precomputed.foreach(cb => require(
      cb.m == m && cb.nCodes == nCodes && cb.iters == iters,
      s"codebook was trained for (m=${cb.m}, nCodes=${cb.nCodes}, " +
        s"iters=${cb.iters}), not (m=$m, nCodes=$nCodes, iters=$iters)"))
    val spark = corpus.sparkSession
    // the chunk now re-enters as a BROADCAST RELATION (see the cross
    // join below), so chunk width no longer grows the plan or the
    // generated code — the former 256 default existed because each
    // query added a literal LUT struct to the scan's explode and wide
    // chunks outgrew the JVM's 64 KB generated-method limit. The
    // chunk is now purely a driver/executor MEMORY bound (the LUT
    // rows collected per chunk, the per-task candidate-heap state),
    // so the default is the full former ceiling: fewer corpus scans
    // per large batch, identical per-query results (a query's
    // candidates come only from its own chunk either way).
    val chunkSize = {
      val cs = spark.conf.getOption("graft.pq.chunkSize")
        .map(_.toInt).getOrElse(4096)
      require(cs >= 1 && cs <= 4096,
        s"graft.pq.chunkSize must be in [1, 4096] (got $cs)")
      cs
    }
    // codebook: the write-once artifact — train inline when no
    // precomputed one was passed (bit-identical either way; the
    // builder is the same function)
    val cb = precomputed.getOrElse(
      pqCodebookOf(corpus, m, nCodes, iters, idCol, vecCol))
    val dims = cb.dims
    val sub = dims / m
    val cents = cb.cents

    // gated: the scan reads the coarse-assigned relation so the cell
    // rides the same projection the encode uses — no join
    val c = coarse match {
      case Some((assigned, _, _)) => assigned.select(col("cid"),
        col("cv").cast("array<double>").as("v"), col("cell"))
      case None => corpus.select(col(idCol).as("cid"),
        col(vecCol).cast("array<double>").as("v"))
    }
    def assignExpr(s: Int, sc: Array[(Int, IndexedSeq[Double])]): Column =
      pqAssignExpr(sub, s, sc)

    // ---- queries: collected once, AUTO-CHUNKED into literal groups.
    // The whole batch lands on the driver (inherent to the
    // literal-LUT design — a query batch is caller-sized, never
    // corpus-sized); each chunk gets its own fused join-free scan and
    // the candidate heaps union. A query's candidates come only from
    // its own chunk, so the union is bit-identical to running each
    // chunk alone.
    val qSel = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
    val qRows = qSel.collect()
    require(qRows.nonEmpty, "pqTopK: empty query batch")
    // the encoded relation: a persisted [[pqEncode]] table when the
    // caller has one (the ADC then scans m small codes per vector —
    // the PQ bandwidth story), else the fused encode projection over
    // the corpus scan. Same values either way (same codebook, same
    // assignment expressions), so downstream ranking is bit-identical.
    val enc = codes match {
      case Some(cdf) =>
        require(coarse.isEmpty || cdf.columns.contains("cell"),
          "ivfPqTopK needs cell in the persisted codes table — encode " +
            "with pqEncode(assigned = Some(...))")
        // fingerprint refusal (the BpeCheckpoint corpusFp discipline):
        // the codes must ALL have been produced by THIS codebook.
        // Distinct over the stamped-constant column (RLE — the scan is
        // cheap and column-pruned), capped at 2: one row can't vouch
        // for a table of mixed provenance (a caller unioning two
        // persisted tables would pass a sampled check while half the
        // rows rank under a foreign codebook's codes).
        require(cdf.columns.contains("pq_fp"),
          "persisted codes table carries no pq_fp fingerprint — " +
            "re-encode with pqEncode against the codebook in use")
        // the provenance audit is a full (column-pruned) scan of the
        // codes table; for a write-once artifact it cannot change
        // within a session, so a PASSED audit is memoized per
        // (plan identity, expected fingerprint) — the ModelJoin
        // count-cache discipline. Plans with no file-backed identity,
        // and FAILED audits, are never cached.
        val auditKey = graft.functions.ModelJoin.memoKey(cdf)
          .map(k => s"$k#${fileSetFingerprint(cdf)}#${cb.fingerprint}")
        if (!auditKey.exists(fpAuditPassed.contains)) {
          val fp = cdf.select(col("pq_fp")).distinct().limit(2).collect()
          require(fp.length == 1,
            if (fp.isEmpty) "persisted codes table is empty"
            else "codes table carries MULTIPLE codebook fingerprints (" +
              fp.map(_.getLong(0)).mkString(", ") + ") — mixed " +
              "provenance (e.g. a union of differently-encoded tables); " +
              "re-encode under one codebook")
          require(fp(0).getLong(0) == cb.fingerprint,
            s"codes table was encoded under codebook fingerprint " +
              s"${fp(0).getLong(0)}, not this codebook's " +
              s"${cb.fingerprint} — stale or mismatched artifact; re-encode")
          auditKey.foreach { k =>
            if (fpAuditPassed.size >= 256) fpAuditPassed.clear()
            fpAuditPassed.add(k)
          }
        }
        cdf.select(Seq(col("cid").as("neighbor_id"), col("pq_codes"),
          col("pq_norm")) ++
          (if (coarse.isDefined) Seq(col("cell")) else Nil): _*)
      case None =>
        val codesArr =
          array((0 until m).map(s => assignExpr(s, cents(s))): _*)
        c.select(Seq(col("cid").as("neighbor_id"),
          codesArr.as("pq_codes"), norm(col("v")).as("pq_norm")) ++
          (if (coarse.isDefined) Seq(col("cell")) else Nil): _*)
    }

    def chunkApprox(chunk: Array[org.apache.spark.sql.Row]): DataFrame = {
      val qIds = chunk.map(_.get(0))
      val qVecs = chunk.map(_.getSeq[Double](1).toIndexedSeq)
      val qNorms = qVecs.map(v => math.sqrt(pqDot(v, v)))
      // lut(j)(s) indexed by code id (dropped codes never occur in
      // pq_codes — their slots are inert zeros)
      val lut: Array[Array[Array[Long]]] = Array.tabulate(chunk.length) { j =>
        Array.tabulate(m) { s =>
          val qsv = qVecs(j).slice(s * sub, (s + 1) * sub)
          val row = Array.fill(nCodes)(0L)
          cents(s).foreach { case (code, cv) =>
            row(code) = math.floor(pqDot(qsv, cv) * 1e6 + 0.5).toLong }
          row
        }
      }
      // IVF-PQ probe rule (the ivfProbe spelling), PER CHUNK: the
      // chunk re-enters as a local relation, so the collect is
      // bounded by chunk × nProbe rows whatever the batch size
      val probed: Map[Any, Seq[Any]] = coarse match {
        case Some((_, centroids, nProbe)) =>
          val chunkQ = spark.createDataFrame(
            java.util.Arrays.asList(chunk: _*), qSel.schema)
          val probeW = Window.partitionBy(col("query_id"))
            .orderBy(col("csim").desc, col("cell"))
          chunkQ.crossJoin(broadcast(centroids))
            .withColumn("csim",
              Hashing.portableRound(cosine(col("qv"), col("centroid")), 6))
            .withColumn("prk", row_number().over(probeW))
            .filter(col("prk") <= nProbe)
            .select(col("query_id"), col("cell")).collect()
            .groupBy(_.get(0))
            .map { case (qid, rows) => qid -> rows.map(_.get(1)).toSeq }
        case None => Map.empty
      }
      // ---- one fused scan: encode + ADC against the chunk, which
      // re-enters as a BROADCAST RELATION (query_id, norm, LUT,
      // probed cells) instead of per-query literal expression trees:
      // the former explode-of-Q-literal-structs made the plan (and
      // its analysis/codegen cost, ~0.3–0.5 s driver-side per probe)
      // grow with chunk × m × nCodes literals and capped the chunk
      // width at the 64 KB generated-method limit; one cross join
      // against a Q-row local relation is a FIXED-shape plan whatever
      // the chunk width — same corpus×Q evaluated pairs, same integer
      // LUT sums, bit-identical scores (§3: data belongs in
      // relations, not in the plan).
      val spark2 = enc.sparkSession
      val cellDt: Option[org.apache.spark.sql.types.DataType] =
        coarse.map(_ => enc.schema("cell").dataType)
      val lutDt = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, false), false)
      val chunkSchema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("query_id",
            qSel.schema.head.dataType),
          org.apache.spark.sql.types.StructField("_q_norm",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("_q_lut", lutDt)) ++
        cellDt.map(dt => org.apache.spark.sql.types.StructField(
          "_q_cells", org.apache.spark.sql.types.ArrayType(dt))))
      // the probed cells come off the CENTROIDS relation, whose cell
      // type can differ in integral width from the encoded relation's
      // (a persisted codes table stores int cells; centroids carry the
      // id-typed long) — normalize driver-side to the scan side's
      // type, exactly the coercion the former isin() literals got
      val toCellDt: Any => Any = cellDt match {
        case Some(org.apache.spark.sql.types.IntegerType) => {
          case l: java.lang.Long => l.intValue
          case v => v
        }
        case Some(org.apache.spark.sql.types.LongType) => {
          case i: java.lang.Integer => i.longValue
          case v => v
        }
        case _ => identity
      }
      val chunkRows: Seq[org.apache.spark.sql.Row] = qIds.indices.map { j =>
        val base = Seq(qIds(j), qNorms(j),
          lut(j).map(_.toIndexedSeq).toIndexedSeq)
        org.apache.spark.sql.Row.fromSeq(
          if (coarse.isDefined)
            base :+ probed.getOrElse(qIds(j), Nil).map(toCellDt).toIndexedSeq
          else base)
      }
      val chunkRel = spark2.createDataFrame(
        java.util.Arrays.asList(chunkRows: _*), chunkSchema)
      val adc = (0 until m).map { s =>
        element_at(element_at(col("_q_lut"), s + 1),
          element_at(col("pq_codes"), s + 1) + 1)
      }.reduce(_ + _)
      val ascore = Hashing.portableRound(
        try_divide(adc.cast("double") / lit(1e6),
          col("_q_norm") * col("pq_norm")), 6)
      // IVF-PQ gate: ADC only when the vector's coarse cell is one of
      // the query's probed cells (scan-side, so unprobed pairs fall to
      // the existing null-ascore filter; an empty probed array matches
      // nothing, exactly like the former empty isin)
      val gated = coarse match {
        case Some(_) =>
          when(array_contains(col("_q_cells"), col("cell")), ascore)
        case None => ascore
      }
      // coarse SCAN filter: rows in cells NO chunk query probes can
      // only ever produce null ascores — filtering them before the
      // join lets a cell-PARTITIONED persisted codes table prune
      // whole partitions (PartitionFilters — the ~nProbe/nCells I/O
      // story), and spares the inline path their encode argmaxes.
      // The per-query gate above still decides each (query, row)
      // pair, so results are untouched.
      val chunkEnc = coarse match {
        case Some(_) =>
          val allProbed = probed.values.flatten.toSeq.distinct
          enc.filter(col("cell").isin(allProbed: _*))
        case None => enc
      }
      chunkEnc.crossJoin(broadcast(chunkRel))
        .select(col("query_id"), col("neighbor_id"),
          gated.as("ascore"))
        .filter(col("neighbor_id") =!= col("query_id") &&
          col("ascore").isNotNull)
    }
    // Chunk-union plan hygiene: a huge batch is correct through one
    // union chain but accumulates one plan node per chunk — a 1M-query
    // batch would be ~4k unions in a single plan (analysis/codegen
    // cost, stack depth). Past `graft.pq.stageEveryChunks` chunks
    // (default 256) the per-chunk heaps STAGE through scratch parquet:
    // each group of chunks reduces to its rerank-per-query heap (a
    // query's candidates all come from its own chunk, so the group
    // reduction is lossless under the total (ascore desc, id asc)
    // order) and writes ≤ rerank × group-queries rows; the read-back
    // is ONE parquet scan whatever the group count — plan depth is
    // bounded by the group size, results bit-identical.
    val stageEvery = {
      val se = spark.conf.getOption("graft.pq.stageEveryChunks")
        .map(_.toInt).getOrElse(256)
      require(se >= 1, s"graft.pq.stageEveryChunks must be >= 1 (got $se)")
      se
    }
    val chunks = qRows.grouped(chunkSize).toSeq
    def heapsOf(df: DataFrame): DataFrame =
      graft.plans.TopKPerKey(df, Seq("query_id"),
        Seq(graft.plans.TopKPerKey.desc("ascore"),
          graft.plans.TopKPerKey.asc("neighbor_id")), rerank)
    val approx =
      if (chunks.length <= stageEvery)
        chunks.map(chunkApprox).reduce(_ unionAll _)
      else {
        val dir = graft.Stage.scratchDir(spark, "pq-chunk-heaps")
        chunks.grouped(stageEvery).zipWithIndex.foreach { case (grp, gi) =>
          heapsOf(grp.map(chunkApprox).reduce(_ unionAll _))
            .select(col("query_id"), col("neighbor_id"), col("ascore"))
            .write.mode("overwrite").parquet(s"$dir/group-$gi")
        }
        spark.read.parquet(s"$dir/group-*")
      }
    val cand = heapsOf(approx)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the short list (the sq8TopK tail): candidates
    // broadcast into the corpus scan, never the reverse
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val exact = cv.join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("score",
        Hashing.portableRound(cosine(col("qv"), col("cv")), 6))
      .filter(col("score").isNotNull)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    graft.plans.TopKPerKey(exact, Seq("query_id"),
      Seq(graft.plans.TopKPerKey.desc("score"),
        graft.plans.TopKPerKey.asc("neighbor_id")), k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }
}

/** Persisted IVF index — the write-once scale path [[Similarity.ivfTopK]]'s
  * scaladoc promises: quantize the corpus ONCE, then every query batch
  * probes the stored index instead of rebuilding the quantizer.
  *
  * Storage is a VERSIONED-MANIFEST commit log — the same protocol as
  * [[graft.operators.ParquetUpsertSink]]:
  *
  *  - `_commits/<version>`: the manifest naming the uniquely-named,
  *    IMMUTABLE data directories that make up this generation —
  *    centroids, frozen quantizer seeds, the optional tombstone set,
  *    and the ordered SEGMENT list. Claimed by tmp-write +
  *    rename-without-overwrite (CAS): exactly one concurrent mutator
  *    wins each version, and a reader never observes a torn manifest.
  *  - `seg-*`: (cid, cv) parquet PARTITIONED BY cell. A probe reads
  *    only its nProbe cell directories of each segment
  *    (partition-pruned scan, visible as PartitionFilters), so
  *    per-batch corpus I/O is ~nProbe/nCells of the table.
  *  - `centroids-*` (nCells rows, broadcast at query time), `seeds-*`,
  *    `tomb-*`: small side tables.
  *
  * Mutations are LOCK-FREE for concurrent readers: append/remove/
  * compact write fresh directories BESIDE the live ones and flip the
  * manifest last. A topK that resolved version N keeps reading N's
  * immutable directories while version N+1 commits — there is no
  * invalidation window (the previous design renamed the centroids
  * marker away for the mutation's duration, turning every concurrent
  * probe into an error). A mutator that loses the version race deletes
  * its orphan directories — uniquely named, so never the winner's data
  * — and retries against the winner's state. The newest
  * `retainVersions` generations' directories survive GC for in-flight
  * readers (raise it for long-running probes under heavy mutation).
  *
  * Probed/touched cell sets are collected to the driver to prune
  * statically — bounded by nCells rows (same pattern as the upsert
  * sink's touched partitions), never data-sized.
  */
class IvfIndex(path: String, nCells: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               retainVersions: Int = 2,
               autoConsolidateSegments: Int = 0) {
  import Similarity.{ivfQuantize, ivfProbe, ivfSeeds, assignToSeeds}
  import IvfIndex.{Manifest, Segment}

  require(retainVersions >= 2,
    s"retainVersions must be >= 2 (got $retainVersions): the previous " +
      "generation must survive for in-flight readers")

  // The shared versioned-manifest commit protocol ([[GenerationLog]]):
  // CAS version claims via AtomicClaim (exclusive publish +
  // torn-destination healing), torn-commit-tolerant listing,
  // commit-time retention GC, and orphan vacuum — one spelling across
  // every versioned store.
  private val log = new GenerationLog[Manifest](path,
    (_, s) => Manifest.parse(s), _.serialize, (_, m) => m.dirs, retainVersions)

  private def uid: String = log.uid
  private def resolve(spark: SparkSession): Option[Manifest] =
    log.resolve(spark)

  /** Test seam: invoked after an attempt's data directories are fully
    * written, immediately before the commit claim — the window where a
    * concurrent reader must still see the previous generation and a
    * concurrent mutator can win the version race. No-op in production.
    */
  protected def beforeCommit(version: Long): Unit = ()

  // ---------------------------------------------------------------
  // Reads
  // ---------------------------------------------------------------

  def exists(spark: SparkSession): Boolean = resolve(spark).nonEmpty

  /** Per-GENERATION probe-path cache. Resolving the manifest (one
    * commit-log listing) stays per-call — that IS the snapshot
    * isolation against concurrent mutators — but everything a
    * manifest points at is immutable by construction (data dirs are
    * write-once and replaced, never mutated), so an unchanged
    * generation's centroid rows (collected ONCE — bounded by nCells
    * at ANY corpus size — and re-issued as a LOCAL relation, so there
    * is no executor storage block or checkpoint lineage to lose: the
    * cache survives executor loss, unlike a localCheckpoint) and
    * segment parquet relations (partition discovery + schema
    * inference, the per-probe driver cost that dominated repeat
    * probes; lazy file scans, also loss-proof) are safely reused.
    * Keyed by the owning SparkSession AND the manifest's exact
    * serialization: a different session rebuilds (DataFrames are
    * session-bound), and any append/compact/delete commit changes the
    * manifest key on its next probe.
    */
  @volatile private var centroidCache
      : Option[(SparkSession, String, DataFrame)] = None

  private def generation(spark: SparkSession, m: Manifest)
      : (DataFrame, Map[String, DataFrame]) = {
    val key = m.serialize
    val c = centroidCache match {
      case Some((s, k, df)) if (s eq spark) && k == key => df
      case _ =>
        val raw = spark.read.parquet(s"$path/${m.centroids}")
        val rows = raw.collect()
        val df = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), raw.schema)
        centroidCache = Some((spark, key, df))
        df
    }
    // segment relations ride the shared per-generation cache — the
    // same layer under the PQ/SQ8 codes stores
    (c, log.cachedRelations(spark, m, m.segments.map(_.dir)))
  }

  /** Pending logical removals of the current generation, if any. */
  def tombstoneIds(spark: SparkSession): Option[DataFrame] =
    resolve(spark).flatMap(m => tombDf(spark, m))

  /** Segment count of the current generation — observability for the
    * maintenance budget, mirroring the codes stores' accessor.
    */
  def segmentCount(spark: SparkSession): Int =
    resolve(spark).map(_.segments.size).getOrElse(0)

  private def tombDf(spark: SparkSession, m: Manifest): Option[DataFrame] =
    m.tombstones.map(d => spark.read.parquet(s"$path/$d"))

  /** The current generation's physical live rows (cid, cv, cell):
    * compaction exclusions honored, tombstones NOT applied.
    */
  def assignedRows(spark: SparkSession): DataFrame = {
    val m = resolve(spark).getOrElse(throw new IllegalArgumentException(
      s"no index at $path — call build()"))
    assignedDf(spark, m, None)
  }

  /** Union of the manifest's segments, optionally pruned to `cells`.
    * Both the probe filter and each segment's compaction-exclusion
    * filter are applied on the segment's own inferred partition type
    * (cast-free → partitions prune); the cell column is then cast to
    * the centroids side's type so segments union and join uniformly.
    */
  private def assignedDf(spark: SparkSession, m: Manifest,
                         cells: Option[Seq[Any]]): DataFrame = {
    val (centroids, segRelations) = generation(spark, m)
    val target = centroids.schema("cell").dataType
    m.segments.map { seg =>
      val raw = segRelations(seg.dir)
      val pruned = cells match {
        case Some(cs) =>
          raw.filter(col("cell").isInCollection(cs.map(cellToNative(raw))))
        case None => raw
      }
      val live =
        if (seg.excluded.isEmpty) pruned
        else pruned.filter(!col("cell")
          .isInCollection(seg.excluded.map(stringCellToNative(raw))))
      live.withColumn("cell", col("cell").cast(target))
    }.reduce(_.unionByName(_))
  }

  /** Partition-value type inference may narrow `cell` on read-back
    * (e.g. a long id column comes back int); coerce in-memory cell
    * values to the INFERRED type so filters compare cast-free and
    * prune partitions. Cell ids inherit idCol's type — no Long
    * assumption.
    */
  private def cellToNative(raw: DataFrame): Any => Any =
    raw.schema("cell").dataType match {
      case IntegerType => { case n: Number => n.intValue;  case v => v }
      case LongType    => { case n: Number => n.longValue; case v => v }
      case StringType  => v => v.toString
      case other => throw new IllegalStateException(
        s"unexpected cell partition type $other")
    }

  /** Manifest exclusion values are strings; parse them to the
    * segment's inferred partition type for a cast-free filter.
    */
  private def stringCellToNative(raw: DataFrame): String => Any =
    raw.schema("cell").dataType match {
      case IntegerType => _.toInt
      case LongType    => _.toLong
      case StringType  => identity
      case other => throw new IllegalStateException(
        s"unexpected cell partition type $other")
    }

  def topK(spark: SparkSession, queries: DataFrame, k: Int,
           nProbe: Int): DataFrame = {
    // resolve ONCE: every read below references this generation's
    // immutable directories — snapshot isolation against concurrent
    // mutators
    val m = resolve(spark).getOrElse(throw new IllegalArgumentException(
      s"no index at $path — call build()"))
    val (centroids, _) = generation(spark, m)
    // Which cells will be probed? Rank centroids per query exactly as
    // ivfProbe does, keep nProbe per query, collect the ≤ nCells
    // distinct cell ids, and push them into the scan as a static
    // partition filter.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probedCells: Seq[Any] = q.crossJoin(broadcast(centroids))
      // MUST round exactly as ivfProbe does: this ranking decides
      // which partitions survive pruning, and a divergence from the
      // probe ranking inside ivfProbe would drop candidate cells
      .withColumn("csim",
        Hashing.portableRound(Similarity.cosine(col("qv"), col("centroid")), 6))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= nProbe)
      .select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val assigned = assignedDf(spark, m, Some(probedCells))
    // pending removals filter out at probe time (broadcast anti-join —
    // tombstones stay small between compactions by contract)
    val live = tombDf(spark, m)
      .map(t => assigned.join(broadcast(t), Seq("cid"), "left_anti"))
      .getOrElse(assigned)
    ivfProbe(live, centroids, queries, k, nProbe, idCol, vecCol)
  }

  // ---------------------------------------------------------------
  // Mutations
  // ---------------------------------------------------------------

  def build(corpus: DataFrame): Unit = {
    val spark = corpus.sparkSession
    val (assigned, centroids) = ivfQuantize(corpus, nCells, idCol, vecCol)
    val segDir = s"seg-$uid"
    val cenDir = s"centroids-$uid"
    val seedDir = s"seeds-$uid"
    // repartition by cell BEFORE the partitioned write: each cell's
    // rows land in one task, so the segment holds ~one file per cell
    // instead of (write tasks × cells) fragments — at √n cells the
    // difference between ~700 files and ~180k namenode creates
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/$segDir")
    // persist the quantizer seeds so append() assigns against the
    // SAME frozen quantizer a rebuild over these seeds would use
    ivfSeeds(corpus, nCells, idCol, vecCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$seedDir")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/$cenDir")
    // A (re)build is a full generation replacement: its manifest
    // carries NO tombstones — a previous generation's pending removals
    // must not silently filter legitimately-rebuilt ids — and no prior
    // segments. Losing the version race just claims the next number
    // (the manifest depends on nothing but this build's own dirs);
    // the shared retry protocol reclaims the orphan dirs only on
    // final exhaustion.
    val m = Manifest(cenDir, seedDir, None, Seq(Segment(segDir, Nil)))
    log.commitWithRetry(spark, None, beforeCommit, cleanupPerRace = false)(
      (_, _) => Some((m, m.dirs)))
  }

  /** Incrementally add vectors to an existing index without a
    * rebuild — the FAISS-style IVF maintenance mode: the quantizer is
    * FROZEN after build (assignments use the persisted seeds with the
    * exact [[Similarity.assignToSeeds]] arithmetic, so each added
    * vector lands in the cell a full rebuild over the same seeds
    * would pick) and cell CENTROIDS are left as built — probe
    * rankings drift as cells grow, which is the documented trade-off;
    * rebuild (or re-`build`) periodically to re-center, exactly as
    * IVF deployments retrain.
    *
    * The batch lands as a NEW immutable segment plus a manifest flip;
    * idempotence under retries comes from anti-joining the batch
    * against the ids already present in its own target cells (a
    * partition-pruned, id-only scan bounded by the batch's cell set).
    * A replayed batch — or losing the commit race to a twin writer
    * appending the same data — therefore converges to a no-op instead
    * of a duplicate.
    */
  def append(newVectors: DataFrame): Unit = {
    val spark = newVectors.sparkSession
    // on a lost race our segment is an unreferenced orphan (and the
    // winner may even have been a rebuild with NEW seeds) — the retry
    // protocol drops it and everything re-derives against the
    // winner's state
    log.commitWithRetry(spark,
      Some(s"no index at $path to append to — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, mOpt) =>
      val m = mOpt.get
      val seeds = broadcast(spark.read.parquet(s"$path/${m.seeds}"))
      val assigned = assignToSeeds(
        newVectors.select(col(idCol).as("cid"), col(vecCol).as("cv")), seeds)
      // Re-adding a tombstoned id is an UPDATE, not an append: the dead
      // row is still physically present (possibly in a different cell if
      // the vector changed), so clearing its tombstone would resurrect
      // it beside the new row as a duplicate. Require compact() first —
      // it physically clears the dead rows, making the re-add a plain
      // append.
      tombDf(spark, m).foreach { t =>
        val clash = assigned.join(broadcast(t), Seq("cid"), "left_semi")
          .limit(1).count()
        require(clash == 0L,
          s"append includes tombstoned id(s) — run compact() on $path first")
      }
      val targetCells: Seq[Any] = assigned.select("cell").distinct()
        .collect().map(_.get(0)).toSeq // ≤ nCells rows — never data-sized
      val existing = assignedDf(spark, m, Some(targetCells)).select(col("cid"))
      val fresh = assigned.join(existing, Seq("cid"), "left_anti").persist()
      try {
        if (fresh.count() == 0) None
        else {
          val segDir = s"seg-$uid"
          if (autoConsolidateSegments > 0 &&
              m.segments.size + 1 > autoConsolidateSegments) {
            // budget crossed: this append's OWN commit writes ONE
            // merged segment (live rows, tombstones folded out, plus
            // the fresh batch) — the codes stores' auto-consolidate
            // discipline, so per-micro-batch ingest can't accumulate
            // unbounded segments/exclusion lists between manual
            // compactions. Same rows served either way.
            val all = assignedDf(spark, m, None)
            val live = tombDf(spark, m).map(t => all.join(
                broadcast(t.distinct()), Seq("cid"), "left_anti"))
              .getOrElse(all)
            live.unionByName(fresh)
              .repartition(col("cell")) // one file per cell (see build)
              .write.mode("overwrite").partitionBy("cell")
              .parquet(s"$path/$segDir")
            Some((m.copy(tombstones = None,
              segments = Seq(Segment(segDir, Nil))), Seq(segDir)))
          } else {
            fresh.repartition(col("cell")) // one file per touched cell
              .write.mode("overwrite").partitionBy("cell")
              .parquet(s"$path/$segDir")
            Some((m.copy(segments = m.segments :+ Segment(segDir, Nil)),
              Seq(segDir)))
          }
        }
      } finally fresh.unpersist()
    }
  }

  /** Logically delete vectors: commit a manifest whose tombstone set
    * is the union of the current one and `ids`. O(|ids|) — no data
    * file is touched; `topK` anti-joins the (broadcast) tombstones
    * until [[compact]] rewrites the affected cells. Readers concurrent
    * with the flip keep their resolved generation.
    */
  def remove(ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    log.commitWithRetry(spark,
      Some(s"no index at $path to remove from — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, mOpt) =>
      val m = mOpt.get
      val fresh = ids.select(col(idCol).as("cid")).distinct().persist()
      try {
        if (fresh.count() == 0) None
        else {
          val merged = tombDf(spark, m)
            .map(_.unionByName(fresh).distinct()).getOrElse(fresh)
          val tombDir = s"tomb-$uid"
          merged.coalesce(1).write.mode("overwrite")
            .parquet(s"$path/$tombDir")
          Some((m.copy(tombstones = Some(tombDir)), Seq(tombDir)))
        }
      } finally fresh.unpersist()
    }
  }

  /** Physically apply pending tombstones: rewrite the LIVE rows of
    * only the cells that contain dead ones (found via a column-pruned
    * scan against the broadcast tombstone set) into a fresh segment,
    * and EXCLUDE those cells from every older segment in the new
    * manifest — per-cell rewrite cost, zero invalidation window.
    * Excluded rows' disk space is reclaimed when their segment's every
    * reader-retained generation is GC'd after a `consolidate = true`
    * compaction (which rewrites the whole live index into a single
    * segment — the OPTIMIZE-style squash to run when the segment list
    * or exclusion sets have grown long) or a rebuild.
    */
  def compact(spark: SparkSession, consolidate: Boolean = false): Unit =
    log.commitWithRetry(spark,
      Some(s"no index at $path to compact — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, mOpt) =>
      val m = mOpt.get
      val t0 = tombDf(spark, m)
      val fragmented =
        m.segments.size > 1 || m.segments.exists(_.excluded.nonEmpty)
      if (t0.isEmpty && !(consolidate && fragmented)) None
      else if (consolidate) {
        val all = assignedDf(spark, m, None)
        val live = t0.map(t => all.join(broadcast(t.distinct()),
          Seq("cid"), "left_anti")).getOrElse(all)
        val segDir = s"seg-$uid"
        live.repartition(col("cell")) // one file per cell (see build)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/$segDir")
        Some((m.copy(tombstones = None,
          segments = Seq(Segment(segDir, Nil))), Seq(segDir)))
      } else {
        val t = broadcast(t0.get.distinct())
        val touched: Seq[Any] = assignedDf(spark, m, None)
          .join(t, Seq("cid"), "left_semi")
          .select(col("cell")).distinct().collect().map(_.get(0)).toSeq
        if (touched.isEmpty)
          Some((m.copy(tombstones = None), Seq.empty))
        else {
          val cleaned = assignedDf(spark, m, Some(touched))
            .join(t, Seq("cid"), "left_anti")
          val segDir = s"seg-$uid"
          cleaned.repartition(col("cell")) // one file per touched cell
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$path/$segDir")
          val exc = touched.map(_.toString)
          Some((m.copy(tombstones = None,
            segments = m.segments.map(s =>
              s.copy(excluded = (s.excluded ++ exc).distinct))
              :+ Segment(segDir, Nil)),
            Seq(segDir)))
        }
      }
    }

  /** Reclaim ORPHAN data directories — the Delta VACUUM analog and
    * the one leak the commit-time retention GC cannot see: a mutator
    * that died between writing its directories and claiming a version
    * (or that lost every claim retry and then crashed before its own
    * cleanup) leaves `seg-*`/`centroids-*`/`seeds-*`/`tomb-*` dirs no
    * manifest will ever reference. They are invisible to readers but
    * leak disk forever; superseded GENERATIONS, by contrast, are
    * already dropped by [[gcAfter]] at commit time.
    *
    * Safety against both hazards VACUUM can introduce:
    *  - an IN-FLIGHT writer's directories look exactly like orphans
    *    until its commit lands → only directories older than
    *    `olderThanMs` (mtime) are candidates, the age-horizon trade
    *    every vacuum makes (default 24 h: a writer stalled past the
    *    horizon — GC pause, slow object store — can still WIN its
    *    claim afterwards and commit a manifest referencing swept
    *    directories, so the margin must exceed plausible stalls, not
    *    just typical write times);
    *  - a reader on an OLD retained generation must keep working →
    *    directories referenced by ANY present commit are never
    *    touched, whatever their age.
    *
    * Returns the reclaimed directory names.
    */
  def vacuum(spark: SparkSession,
             olderThanMs: Long = 86400000L): Seq[String] =
    log.vacuum(spark,
      n => Seq("seg-", "centroids-", "seeds-", "tomb-").exists(n.startsWith),
      olderThanMs)
}

object IvfIndex {

  /** One immutable segment: a cell-partitioned parquet directory plus
    * the cells compaction has superseded (their live rows moved to a
    * newer segment).
    */
  private[functions] case class Segment(dir: String, excluded: Seq[String])

  /** One committed generation of the index. */
  private[functions] case class Manifest(centroids: String, seeds: String,
                                         tombstones: Option[String],
                                         segments: Seq[Segment]) {
    def dirs: Seq[String] =
      Seq(centroids, seeds) ++ tombstones ++ segments.map(_.dir)

    /** Line-oriented, whitespace-tokenized; excluded cell values are
      * URL-encoded so arbitrary string cell ids round-trip.
      */
    def serialize: String = {
      val enc = (v: String) => java.net.URLEncoder.encode(v, "UTF-8")
      val b = new StringBuilder
      b.append(s"centroids $centroids\n")
      b.append(s"seeds $seeds\n")
      tombstones.foreach(t => b.append(s"tombstones $t\n"))
      segments.foreach { s =>
        if (s.excluded.isEmpty) b.append(s"segment ${s.dir}\n")
        else b.append(
          s"segment ${s.dir} ${s.excluded.map(enc).mkString(",")}\n")
      }
      b.result()
    }
  }

  private[functions] object Manifest {
    def parse(content: String): Option[Manifest] = scala.util.Try {
      val dec = (v: String) => java.net.URLDecoder.decode(v, "UTF-8")
      var cen: String = null
      var sd: String = null
      var tomb: Option[String] = None
      val segs = Seq.newBuilder[Segment]
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val parts = line.trim.split("\\s+")
        parts(0) match {
          case "centroids" => cen = parts(1)
          case "seeds" => sd = parts(1)
          case "tombstones" => tomb = Some(parts(1))
          case "segment" => segs += Segment(parts(1),
            if (parts.length > 2) parts(2).split(",").toSeq.map(dec) else Nil)
          case other => throw new IllegalArgumentException(
            s"unknown manifest keyword: $other")
        }
      }
      val m = Manifest(cen, sd, tomb, segs.result())
      require(cen != null && sd != null && m.segments.nonEmpty)
      m
    }.toOption
  }
}
