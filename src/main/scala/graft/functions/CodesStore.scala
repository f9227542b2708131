package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GenerationLog

/** The manifest-level protocol shared by the SEGMENT stores
  * ([[PqCodesStore]], [[Sq8CodesStore]]) — one spelling of the
  * append / logical-remove / consolidate / auto-consolidate
  * discipline over a [[GenerationLog]] whose manifest carries an
  * ordered segment list plus an optional tombstone directory
  * (IvfIndex keeps its own shape: per-segment exclusion filters make
  * its read path structurally different). A store contributes only
  * what genuinely differs:
  *
  *  - its manifest accessors ([[segmentsOf]]/[[tombstonesOf]]/
  *    [[withLive]]) and any shape check ([[checkedManifest]]);
  *  - how a batch is ENCODED ([[encodeBatch]]) and which existing ids
  *    the idempotence anti-join probes ([[existingIds]] — the IVF-PQ
  *    shape prunes to the batch's target cells);
  *  - how a segment is WRITTEN ([[writeSegmentDir]] — cell-partitioned
  *    when coarse);
  *  - the key column tombstones anti-join on ([[keyCol]]).
  *
  * The protocol invariants live here once: mutations ride
  * `commitWithRetry` (lock-free for concurrent readers, idempotent
  * under replay and lost races), a re-append of a tombstoned key is
  * refused until [[consolidate]] physically clears the dead rows, and
  * an append that would grow the segment list past
  * `autoConsolidateBudget` writes ONE merged tombstone-free segment
  * inside its own commit instead.
  */
private[functions] trait SegmentStoreProtocol[M] {
  protected def log: GenerationLog[M]
  protected def storePath: String
  /** Column the tombstone set is keyed by (as stored in segments). */
  protected def keyCol: String
  protected def autoConsolidateBudget: Int
  protected def segmentsOf(m: M): Seq[String]
  protected def tombstonesOf(m: M): Option[String]
  /** Manifest with `segments`/`tombstones` replaced (all other state
    * — codebook, seeds — carried unchanged).
    */
  protected def withLive(m: M, segments: Seq[String],
                         tombstones: Option[String]): M
  /** Hook for shape validation on every resolved manifest (the PQ
    * store's coarse-vs-flat check); identity by default.
    */
  protected def checkedManifest(m: M): M = m
  /** Encode a raw batch into segment-row shape (keyed by [[keyCol]]). */
  protected def encodeBatch(spark: SparkSession, m: M,
                            batch: DataFrame): DataFrame
  /** The ids the idempotence anti-join probes for an encoded batch. */
  protected def existingIds(spark: SparkSession, m: M,
                            enc: DataFrame): DataFrame
  /** Write one segment directory from encoded/live rows. */
  protected def writeSegmentDir(m: M, rows: DataFrame, dir: String): Unit
  /** Test seam: invoked after an attempt's data directories are fully
    * written, immediately before the commit claim. No-op in production.
    */
  protected def beforeCommit(version: Long): Unit = ()

  final def exists(spark: SparkSession): Boolean =
    log.resolve(spark).nonEmpty

  protected final def resolved(spark: SparkSession): M =
    checkedManifest(log.resolve(spark).getOrElse(
      throw new IllegalArgumentException(
        s"no codes store at $storePath — call build()")))

  /** Segment count of the current generation — the observability knob
    * maintenance schedules on (consolidate when it grows long; with
    * the auto-consolidate budget set it stays ≤ the budget by itself).
    */
  final def segmentCount(spark: SparkSession): Int =
    segmentsOf(resolved(spark)).size

  /** Pending logical removals of the current generation, if any. */
  final def tombstoneIds(spark: SparkSession): Option[DataFrame] =
    log.resolve(spark).flatMap(m => tombDf(spark, m))

  protected final def tombDf(spark: SparkSession, man: M): Option[DataFrame] =
    tombstonesOf(man).map(d => spark.read.parquet(log.subPath(d)))

  // segment relations ride the shared per-generation cache
  // ([[GenerationLog.cachedRelations]] — one spelling across all
  // three artifact stores)
  protected final def codesOf(spark: SparkSession, man: M): DataFrame =
    log.unionOf(spark, man, segmentsOf(man))

  /** Physical segment union with pending tombstones folded out —
    * what [[codes]] serves and what consolidation rewrites.
    * Tombstones stay small between consolidations by contract, so the
    * anti-join broadcasts.
    */
  protected final def liveOf(spark: SparkSession, man: M): DataFrame = {
    val all = codesOf(spark, man)
    tombDf(spark, man)
      .map(t => all.join(broadcast(t), Seq(keyCol), "left_anti"))
      .getOrElse(all)
  }

  /** The current generation's live codes relation. Resolved once per
    * call (snapshot isolation against concurrent mutators); pending
    * removals folded out with a broadcast anti-join.
    */
  final def codes(spark: SparkSession): DataFrame =
    liveOf(spark, resolved(spark))

  /** Incrementally encode NEW vectors into a fresh segment — one scan
    * of the batch, an id probe of [[existingIds]], and a manifest
    * flip. Bit-identical to a full re-encode of the grown corpus
    * under the same frozen artifacts; idempotent under replay
    * (already-present ids anti-join away, so a replayed batch — or
    * losing the commit race to a twin writer — converges to a no-op).
    * Scale note: the idempotence probe is partition-pruned to the
    * batch's target cells on the CELL-PARTITIONED (IVF-PQ) shape —
    * the at-scale configuration; the flat shapes (flat PQ, SQ8) scan
    * the store's id column per append (narrow, but O(store)), which
    * is fine for the dimension-table-sized corpora flat stores are
    * for and is exactly why the coarse shape exists.
    * With the auto-consolidate budget set, an append that would
    * overflow it commits ONE merged tombstone-free segment instead
    * (the upsert sink's AutoCompact shape riding the append's own
    * commit) — same `codes()` rows either way.
    */
  final def append(newVectors: DataFrame): Unit = {
    val spark = newVectors.sparkSession
    // on a lost race the winner may even have been a rebuild with new
    // frozen artifacts — everything re-derives from its manifest
    log.commitWithRetry(spark,
      Some(s"no codes store at $storePath to append to — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, manOpt) =>
      val man = checkedManifest(manOpt.get)
      // persist the encode: the existing-id probe and the anti-join
      // both read it — without this the batch would pay the encode
      // twice per attempt
      val enc = encodeBatch(spark, man, newVectors).persist()
      try {
        // Re-adding a tombstoned id is an UPDATE, not an append: the
        // dead code row is still physically present, so clearing its
        // tombstone would resurrect it beside the new row as a
        // duplicate — and the idempotence anti-join below would
        // silently drop the re-add instead. Require consolidate()
        // first (it physically clears the dead rows), the IvfIndex
        // append rule.
        tombDf(spark, man).foreach { t =>
          val clash = enc.join(broadcast(t), Seq(keyCol), "left_semi")
            .limit(1).count()
          require(clash == 0L, s"append includes tombstoned id(s) — " +
            s"run consolidate() on $storePath first")
        }
        val fresh = enc.join(existingIds(spark, man, enc), Seq(keyCol),
          "left_anti").persist()
        try {
          if (fresh.count() == 0) None
          else {
            val segDir = s"seg-${log.uid}"
            if (autoConsolidateBudget > 0 &&
                segmentsOf(man).size + 1 > autoConsolidateBudget) {
              writeSegmentDir(man, liveOf(spark, man).unionByName(fresh),
                segDir)
              Some((withLive(man, Seq(segDir), None), Seq(segDir)))
            } else {
              writeSegmentDir(man, fresh, segDir)
              Some((withLive(man, segmentsOf(man) :+ segDir,
                tombstonesOf(man)), Seq(segDir)))
            }
          }
        } finally fresh.unpersist()
      } finally enc.unpersist()
    }
  }

  /** Logically delete vectors — deletion must reach every derived
    * artifact at 100 TB (takedown, retraining exclusion,
    * decontamination). O(|ids|): commit a manifest whose tombstone
    * set is the union of the current one and `ids` (their first
    * column, keyed by [[keyCol]]); no data file is touched. [[codes]]
    * anti-joins the (broadcast) tombstones until [[consolidate]]
    * physically drops the dead rows. Readers concurrent with the flip
    * keep their resolved generation.
    */
  final def remove(ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    log.commitWithRetry(spark,
      Some(s"no codes store at $storePath to remove from — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, manOpt) =>
      val man = checkedManifest(manOpt.get)
      // resolve the tombstone key by NAME when the caller's frame has a
      // column named keyCol — a wider or reordered relation must never
      // silently tombstone values from whatever column happens to come
      // first; positional head is only unambiguous for 1-column inputs
      val idColName =
        if (ids.columns.contains(keyCol)) keyCol
        else {
          require(ids.columns.length == 1,
            s"remove(ids) got columns [${ids.columns.mkString(", ")}] — " +
              s"pass a single-column relation or one carrying '$keyCol'")
          ids.columns.head
        }
      val fresh = ids.select(col(idColName).as(keyCol))
        .distinct().persist()
      try {
        if (fresh.count() == 0) None
        else {
          val merged = tombDf(spark, man)
            .map(_.unionByName(fresh).distinct()).getOrElse(fresh)
          val tombDir = s"tomb-${log.uid}"
          merged.coalesce(1).write.mode("overwrite")
            .parquet(log.subPath(tombDir))
          Some((withLive(man, segmentsOf(man), Some(tombDir)),
            Seq(tombDir)))
        }
      } finally fresh.unpersist()
    }
  }

  /** Squash the segment list into ONE fresh segment and physically
    * drop tombstoned rows (the OPTIMIZE-style maintenance to run when
    * an append history has grown long: per-cell file counts, footer
    * fetches, and the probe union's width all follow the segment
    * count; tombstone anti-join cost follows the tombstone set). One
    * read of the live rows, one write, a manifest flip — same
    * `codes()` rows, frozen artifacts untouched, lock-free for
    * concurrent probes; a single-segment tombstone-free store is a
    * no-op.
    */
  final def consolidate(spark: SparkSession): Unit =
    log.commitWithRetry(spark,
      Some(s"no codes store at $storePath to consolidate — call build()"),
      beforeCommit, cleanupPerRace = true) { (_, manOpt) =>
      val man = checkedManifest(manOpt.get)
      if (segmentsOf(man).size <= 1 && tombstonesOf(man).isEmpty) None
      else {
        val segDir = s"seg-${log.uid}"
        writeSegmentDir(man, liveOf(spark, man), segDir)
        Some((withLive(man, Seq(segDir), None), Seq(segDir)))
      }
    }
}

/** Persisted PQ codes table with INCREMENTAL APPEND — the
  * delta-maintenance shape [[IvfIndex]] already has, applied to the
  * other write-once ANN artifact: at 100 TB, corpus growth must mean
  * "encode only the new vectors against the FROZEN codebook (and
  * frozen coarse quantizer) and commit a new segment", never a full
  * re-encode of the codes table.
  *
  * A generation holds:
  *  - `codebook-*`: the trained [[Similarity.PqCodebook]] (m·nCodes
  *    rows of (subspace, code, centroid) plus the parameters) — frozen
  *    at [[build]]; [[append]] encodes against exactly this artifact,
  *    so an appended table is bit-identical to a full re-encode of the
  *    grown corpus under the same codebook (the encode is a
  *    deterministic per-row argmax — FAISS's add-after-train
  *    discipline);
  *  - `seeds-*` (only when `nCells` is set — the IVF-PQ composition):
  *    the frozen coarse-quantizer seeds; appended vectors land in
  *    exactly the cell a full re-assignment over the same seeds would
  *    pick ([[Similarity.assignToSeeds]], the IvfIndex.append rule);
  *  - `seg-*`: (cid, pq_codes, pq_norm, pq_fp[, cell]) parquet —
  *    PARTITIONED BY cell when coarse, so the IVF-PQ probe's cell
  *    filter prunes whole directories of every segment
  *    (PartitionFilters — a probe reads ~nProbe/nCells of the table).
  *
  * Mutations are lock-free for concurrent probes and idempotent under
  * replay (the batch anti-joins the ids already present in its target
  * cells — a replayed or twin append converges to a no-op), via the
  * shared [[GenerationLog]] commit protocol. The codes carry the
  * codebook's content fingerprint, which [[Similarity.pqTopK]]'s ADC
  * refuses on mismatch — a stale or foreign codes table fails loudly.
  */
class PqCodesStore(path: String, m: Int, nCodes: Int, iters: Int = 1,
                   nCells: Option[Int] = None,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   retainVersions: Int = 2,
                   autoConsolidateSegments: Int = 0)
    extends SegmentStoreProtocol[PqCodesStore.Manifest] {
  import Similarity.PqCodebook
  import PqCodesStore.Manifest

  protected val log = new GenerationLog[Manifest](path,
    (_, s) => Manifest.parse(s), _.serialize, (_, m) => m.dirs, retainVersions)
  protected def storePath: String = path
  protected def keyCol: String = "cid"
  protected def autoConsolidateBudget: Int = autoConsolidateSegments
  protected def segmentsOf(man: Manifest): Seq[String] = man.segments
  protected def tombstonesOf(man: Manifest): Option[String] = man.tombstones
  protected def withLive(man: Manifest, segments: Seq[String],
                         tombstones: Option[String]): Manifest =
    man.copy(segments = segments, tombstones = tombstones)

  // ---------------------------------------------------------------
  // Codebook (de)serialization — m·nCodes rows, driver-bounded by the
  // same 4096 literal gate the ADC enforces
  // ---------------------------------------------------------------

  private def writeCodebook(spark: SparkSession, dir: String,
                            cb: PqCodebook): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m
      (code, vec) <- cb.cents(s)
    } yield (cb.m, cb.nCodes, cb.iters, cb.dims, s, code, vec.toSeq)
    rows.toDF("m", "n_codes", "iters", "dims", "s", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(log.subPath(dir))
  }

  private def readCodebook(spark: SparkSession, dir: String): PqCodebook = {
    val rows = spark.read.parquet(log.subPath(dir)).collect()
    require(rows.nonEmpty, s"empty codebook artifact at $path/$dir")
    val h = rows(0)
    val (cm, cn, ci, cd) =
      (h.getInt(0), h.getInt(1), h.getInt(2), h.getInt(3))
    require(cm == m && cn == nCodes && ci == iters,
      s"store at $path holds a codebook trained for (m=$cm, " +
        s"nCodes=$cn, iters=$ci), not (m=$m, nCodes=$nCodes, iters=$iters)")
    val cents = (0 until cm).map { s =>
      rows.filter(_.getInt(4) == s)
        .map(r => (r.getInt(5), r.getSeq[Double](6).toIndexedSeq))
        .sortBy(_._1).toArray
    }
    PqCodebook(cm, cn, ci, cd, cents)
  }

  /** The persisted generation's shape (coarse or flat) must match the
    * nCells this store handle was opened with — a flat handle on a
    * cell-partitioned generation would commit an UNpartitioned segment
    * into it (silently unprunable), a coarse handle on a flat one
    * would probe for a cell column that isn't there. Loud, like the
    * codebook-parameter refusal.
    */
  override protected def checkedManifest(man: Manifest): Manifest = {
    require(man.seeds.isDefined == nCells.isDefined,
      s"store at $path is ${if (man.seeds.isDefined) "cell-partitioned "
        else "flat "}but this handle was opened with nCells=$nCells — " +
        "shape mismatch")
    man
  }

  /** The frozen codebook of the current generation. */
  def codebook(spark: SparkSession): PqCodebook =
    readCodebook(spark, resolved(spark).codebook)

  /** Encode against the frozen codebook + (optionally) frozen seeds. */
  protected def encodeBatch(spark: SparkSession, man: Manifest,
                            vectors: DataFrame): DataFrame = {
    val cb = readCodebook(spark, man.codebook)
    man.seeds match {
      case Some(sd) =>
        val seeds = broadcast(spark.read.parquet(log.subPath(sd)))
        val assigned = Similarity.assignToSeeds(
          vectors.select(col(idCol).as("cid"), col(vecCol).as("cv")), seeds)
        Similarity.pqEncode(vectors, cb, idCol, vecCol, Some(assigned))
      case None => Similarity.pqEncode(vectors, cb, idCol, vecCol)
    }
  }

  /** Idempotence probe: ids already present in the batch's TARGET
    * cells (partition-pruned, id-only scan when coarse; id-column
    * scan otherwise — column pruning keeps it narrow).
    */
  protected def existingIds(spark: SparkSession, man: Manifest,
                            enc: DataFrame): DataFrame =
    nCells match {
      case Some(_) =>
        val targetCells: Seq[Any] = enc.select(col("cell")).distinct()
          .collect().map(_.get(0)).toSeq // ≤ nCells rows
        codesOf(spark, man)
          .filter(col("cell").isInCollection(targetCells))
          .select(col("cid"))
      case None => codesOf(spark, man).select(col("cid"))
    }

  protected def writeSegmentDir(man: Manifest, encoded: DataFrame,
                                segDir: String): Unit = {
    // repartition by cell before the partitioned write: ~one file per
    // cell, not (write tasks × cells) fragments (the IvfIndex rule)
    val w =
      if (nCells.isDefined)
        encoded.repartition(col("cell")).write.mode("overwrite")
          .partitionBy("cell")
      else encoded.write.mode("overwrite")
    w.parquet(log.subPath(segDir))
  }

  /** (Re)build the store: train (or accept) the codebook, persist it
    * and — for the IVF-PQ shape — the coarse seeds, encode the corpus
    * into the first segment, commit a FULL-REPLACEMENT generation.
    * Pass `codebook` when it must be trained on a different slice than
    * the build corpus (e.g. train on the full corpus, build on the
    * part already ingested, [[append]] the rest).
    */
  def build(corpus: DataFrame, codebook: Option[PqCodebook] = None): Unit = {
    val spark = corpus.sparkSession
    val cb = codebook.getOrElse(Similarity.pqTrainCodebook(
      corpus, m, nCodes, iters, idCol, vecCol))
    require(cb.m == m && cb.nCodes == nCodes && cb.iters == iters,
      s"codebook was trained for (m=${cb.m}, nCodes=${cb.nCodes}, " +
        s"iters=${cb.iters}), not this store's (m=$m, nCodes=$nCodes, " +
        s"iters=$iters)")
    val u = log.uid
    val cbDir = s"codebook-$u"
    writeCodebook(spark, cbDir, cb)
    val seedsDir = nCells.map { nc =>
      val sd = s"seeds-$u"
      Similarity.ivfSeeds(corpus, nc, idCol, vecCol)
        .coalesce(1).write.mode("overwrite").parquet(log.subPath(sd))
      sd
    }
    val segDir = s"seg-$u"
    val man0 = Manifest(cbDir, seedsDir, Nil)
    writeSegmentDir(man0, encodeBatch(spark, man0, corpus), segDir)
    val man = man0.copy(segments = Seq(segDir))
    // full replacement: the manifest depends on nothing but this
    // build's own dirs, so lost races just claim the next number
    log.commitWithRetry(spark, None, beforeCommit, cleanupPerRace = false)(
      (_, _) => Some((man, man.dirs)))
  }

  // append / remove / consolidate / codes / tombstoneIds /
  // segmentCount ride [[SegmentStoreProtocol]] — the one spelling of
  // the manifest-level discipline (Sq8CodesStore shares it)

  /** Reclaim crashed-writer orphan directories (unreferenced by any
    * present commit, older than the horizon).
    */
  def vacuum(spark: SparkSession,
             olderThanMs: Long = 86400000L): Seq[String] =
    log.vacuum(spark,
      n => Seq("seg-", "codebook-", "seeds-", "tomb-").exists(n.startsWith),
      olderThanMs)
}

object PqCodesStore {
  /** One committed generation: the frozen codebook, the frozen coarse
    * seeds (IVF-PQ shape only), the ordered segment list, and the
    * pending logical removals (cleared by consolidate).
    */
  private[functions] case class Manifest(codebook: String,
                                         seeds: Option[String],
                                         segments: Seq[String],
                                         tombstones: Option[String] = None) {
    def dirs: Seq[String] = Seq(codebook) ++ seeds ++ tombstones ++ segments
    def serialize: String = {
      val b = new StringBuilder
      b.append(s"codebook $codebook\n")
      seeds.foreach(sd => b.append(s"seeds $sd\n"))
      tombstones.foreach(t => b.append(s"tombstones $t\n"))
      segments.foreach(sg => b.append(s"segment $sg\n"))
      b.result()
    }
  }

  private[functions] object Manifest {
    def parse(content: String): Option[Manifest] = scala.util.Try {
      var cb: String = null
      var sd: Option[String] = None
      var tomb: Option[String] = None
      val segs = Seq.newBuilder[String]
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val parts = line.trim.split("\\s+")
        parts(0) match {
          case "codebook" => cb = parts(1)
          case "seeds" => sd = Some(parts(1))
          case "tombstones" => tomb = Some(parts(1))
          case "segment" => segs += parts(1)
          case other => throw new IllegalArgumentException(
            s"unknown manifest keyword: $other")
        }
      }
      val m = Manifest(cb, sd, segs.result(), tomb)
      require(cb != null && m.segments.nonEmpty)
      m
    }.toOption
  }
}

/** Persisted SQ8 codes table with incremental append — the same
  * generation discipline as [[PqCodesStore]] for the scalar-quantized
  * artifact. SQ8 has NO trained state (scale derives from each vector
  * itself), so a generation is just the segment list and append parity
  * with re-encode is structural; what the store adds over the plain
  * `codesPath` write-once file is exactly the delta shape: corpus
  * growth encodes only the new vectors (one batch scan + an id-column
  * anti-join probe) instead of re-quantizing the corpus, lock-free for
  * concurrent probes, idempotent under replay.
  */
class Sq8CodesStore(path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    retainVersions: Int = 2,
                    autoConsolidateSegments: Int = 0)
    extends SegmentStoreProtocol[Sq8CodesStore.Manifest] {
  import Sq8CodesStore.Manifest

  protected val log = new GenerationLog[Manifest](path,
    (_, s) => Manifest.parse(s), _.serialize, (_, m) => m.dirs, retainVersions)
  protected def storePath: String = path
  protected def keyCol: String = idCol
  protected def autoConsolidateBudget: Int = autoConsolidateSegments
  protected def segmentsOf(man: Manifest): Seq[String] = man.segments
  protected def tombstonesOf(man: Manifest): Option[String] = man.tombstones
  protected def withLive(man: Manifest, segments: Seq[String],
                         tombstones: Option[String]): Manifest =
    man.copy(segments = segments, tombstones = tombstones)

  /** SQ8 has no trained state — the encode derives scale from each
    * vector itself, so the manifest contributes nothing to it.
    */
  protected def encodeBatch(spark: SparkSession, man: Manifest,
                            batch: DataFrame): DataFrame =
    Similarity.sq8Quantize(batch, idCol, vecCol)

  protected def existingIds(spark: SparkSession, man: Manifest,
                            enc: DataFrame): DataFrame =
    codesOf(spark, man).select(col(idCol))

  protected def writeSegmentDir(man: Manifest, rows: DataFrame,
                                dir: String): Unit =
    rows.write.mode("overwrite").parquet(log.subPath(dir))

  def build(corpus: DataFrame): Unit = {
    val spark = corpus.sparkSession
    val segDir = s"seg-${log.uid}"
    Similarity.sq8Quantize(corpus, idCol, vecCol)
      .write.mode("overwrite").parquet(log.subPath(segDir))
    val man = Manifest(Seq(segDir))
    log.commitWithRetry(spark, None, beforeCommit, cleanupPerRace = false)(
      (_, _) => Some((man, man.dirs)))
  }

  // append / remove / consolidate / codes (the (idCol, sq_codes,
  // sq_scale, sq_norm) relation [[Similarity.sq8TopK]] takes) /
  // tombstoneIds / segmentCount ride [[SegmentStoreProtocol]]

  def vacuum(spark: SparkSession,
             olderThanMs: Long = 86400000L): Seq[String] =
    log.vacuum(spark, n => Seq("seg-", "tomb-").exists(n.startsWith),
      olderThanMs)
}

object Sq8CodesStore {
  private[functions] case class Manifest(segments: Seq[String],
                                         tombstones: Option[String] = None) {
    def dirs: Seq[String] = tombstones.toSeq ++ segments
    def serialize: String =
      tombstones.map(t => s"tombstones $t\n").mkString +
        segments.map(sg => s"segment $sg\n").mkString
  }

  private[functions] object Manifest {
    def parse(content: String): Option[Manifest] = scala.util.Try {
      var tomb: Option[String] = None
      val segs = Seq.newBuilder[String]
      content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val parts = line.trim.split("\\s+")
        parts(0) match {
          case "tombstones" => tomb = Some(parts(1))
          case "segment" => segs += parts(1)
          case other => throw new IllegalArgumentException(
            s"unknown manifest keyword: $other")
        }
      }
      val m = Manifest(segs.result(), tomb)
      require(m.segments.nonEmpty)
      m
    }.toOption
  }
}
