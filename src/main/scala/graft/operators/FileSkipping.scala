package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** File-level data skipping for the versioned upsert store — the
  * Delta-log stats slice (the capability the reference's Delta sink
  * gets from `delta.dataSkippingNumIndexedCols`,
  * /root/reference/src/03_gold_realtime_rides.py:75's OPTIMIZE
  * setting being useful precisely because stats then prune files).
  *
  * At commit time the writer reads the PARQUET FOOTERS of the files it
  * just wrote — metadata-only, O(files), no second data scan; the
  * footers already hold exact per-column min/max/null-count — and
  * persists them as `_stats.json` INSIDE the uniquely-named snapshot
  * directory, so the stats publish atomically with the version (the
  * commit file is the only commit point; a crash before it leaves
  * stats and data equally invisible).
  *
  * At read time [[ParquetUpsertSink.scan]] evaluates the predicate
  * against each file's stats and enumerates only files that MAY hold a
  * matching row. Why this matters at 100 TB even though parquet
  * row-group stats already prune at scan time: row-group pruning
  * happens AFTER a task was scheduled and the footer fetched — a
  * 100 TB table is ~800k files whose footers alone are hundreds of GB
  * of round-trips; manifest-level skipping removes the files from the
  * scan's file index, so eliminated files cost zero tasks, zero opens,
  * zero footer reads. Combined with [[ZOrder]]-clustered compaction
  * (disjoint multi-column ranges per file) a point/range query touches
  * O(matching) files instead of O(table).
  *
  * The pruner is CONSERVATIVE by construction: every expression shape
  * it does not understand — non-literal comparands, casts it cannot
  * see through, UDFs, unknown columns, missing stats — keeps the file.
  * Skipping is only ever an optimization; correctness never depends on
  * it (the residual predicate is still applied to survivors).
  */
object FileSkipping {

  /** Typed stat value. Dates ride as SLong(days since epoch),
    * timestamps as SLong(micros since epoch) — the same physical
    * encodings parquet and Catalyst literals use, so comparisons never
    * re-encode.
    */
  sealed trait SValue
  final case class SLong(v: Long) extends SValue
  final case class SDouble(v: Double) extends SValue
  final case class SString(v: String) extends SValue
  final case class SBool(v: Boolean) extends SValue

  /** Per-column, per-file stats. `kind` ∈ long | double | string |
    * bool | date | ts. min/max are None when any row group's footer
    * lacked usable bounds (unknown ⇒ never prune on them); nulls is
    * None when any row group's null count was unset.
    */
  final case class ColStats(kind: String, min: Option[SValue],
                            max: Option[SValue], nulls: Option[Long])

  final case class FileStat(file: String, rows: Long,
                            cols: Map[String, ColStats])

  /** Stats are collected for at most this many leading schema columns
    * (Delta's `dataSkippingNumIndexedCols` default): wide tables pay
    * footer-stat JSON proportional to indexed columns only.
    */
  val maxIndexedCols = 32

  val statsFileName = "_stats.json"

  // ---------------------------------------------------------------
  // Collection (commit-time, footer-only)
  // ---------------------------------------------------------------

  /** Read per-file stats for every `*.parquet` under `dir` (non-
    * recursive — snapshot dirs are flat) from the files' footers.
    * Small snapshots use a sequential driver loop (each footer read is
    * a few KB of metadata); past [[distributedThresholdKey]] files the
    * work moves onto executors — a 100 TB compaction emits ~800k
    * files, and 800k serial footer round-trips on the driver would
    * dominate the commit. The per-file work is self-contained; the
    * Hadoop conf ships as its property list and is rebuilt per
    * partition (the conf object itself is not serializable).
    */
  def collectStats(spark: org.apache.spark.sql.SparkSession,
                   dir: Path): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val threshold = spark.conf.getOption(distributedThresholdKey)
      .map(_.toInt).getOrElse(64)
    if (files.size <= threshold)
      files.map(f => fileStats(conf, f.getPath))
    else {
      import scala.jdk.CollectionConverters._
      val props = conf.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
      val names = files.map(_.getPath.toString)
      val slices = math.min(names.size,
        spark.sparkContext.defaultParallelism * 4)
      spark.sparkContext.parallelize(names, slices)
        .mapPartitions { it =>
          val c = new Configuration(false)
          props.foreach { case (k, v) => c.set(k, v) }
          it.map(n => fileStats(c, new Path(n)))
        }
        .collect().toSeq.sortBy(_.file)
    }
  }

  /** Driver-conf variant for callers without a session at hand —
    * always sequential.
    */
  def collectStats(conf: Configuration, dir: Path): Seq[FileStat] = {
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(f => fileStats(conf, f.getPath))
  }

  /** Session conf key: file count above which commit-time stats
    * collection runs distributed instead of on the driver.
    */
  val distributedThresholdKey = "graft.skipping.distributedStatsThreshold"

  private def fileStats(conf: Configuration, file: Path): FileStat = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val indexed: Set[String] = schema.getFields.asScala.iterator
        .take(maxIndexedCols)
        .filter(_.isPrimitive)
        .map(_.getName).toSet
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per-column: fold this file's row groups; ANY group with
      // unusable bounds poisons min/max (unknown), ANY unset null
      // count poisons the null count — sound, never optimistic
      val perCol = scala.collection.mutable.Map[String, Agg]()
      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val pathArr = chunk.getPath.toArray
        if (pathArr.length == 1 && indexed.contains(pathArr(0))) {
          val name = pathArr(0)
          statKind(chunk.getPrimitiveType).foreach { kind =>
            val g = groupBounds(chunk.getStatistics, kind, block.getRowCount)
            perCol(name) = perCol.get(name) match {
              case None => g
              case Some(prev) => Agg(kind,
                boundsBad = prev.boundsBad || g.boundsBad,
                min = mergeBound(prev.min, g.min, kind, takeMin = true),
                max = mergeBound(prev.max, g.max, kind, takeMin = false),
                nullsBad = prev.nullsBad || g.nullsBad,
                nulls = prev.nulls + g.nulls)
            }
          }
        }
      }
      val resolved = perCol.toMap.map { case (n, a) =>
        n -> ColStats(a.kind,
          min = if (a.boundsBad) None else a.min,
          max = if (a.boundsBad) None else a.max,
          nulls = if (a.nullsBad) None else Some(a.nulls))
      }
      FileStat(file.getName, rows, resolved)
    } finally reader.close()
  }

  /** Row-group fold state: bounds over the non-null values seen so
    * far (None while no group contributed any — all-null groups are
    * legitimate and must not poison), plus poison flags for
    * genuinely-unknown stats.
    */
  private final case class Agg(kind: String, boundsBad: Boolean,
                               min: Option[SValue], max: Option[SValue],
                               nullsBad: Boolean, nulls: Long)

  private def mergeBound(a: Option[SValue], b: Option[SValue], kind: String,
                         takeMin: Boolean): Option[SValue] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      Some(if ((cmpSame(x, y, kind) <= 0) == takeMin) x else y)
  }

  /** One row group's contribution. Three legitimate shapes: usable
    * bounds; a provably all-null group (null count == row count — no
    * bounds to contribute, nothing poisoned); unknown stats (poison).
    */
  private def groupBounds(st: org.apache.parquet.column.statistics.Statistics[_],
                          kind: String, groupRows: Long): Agg = {
    if (st == null) return Agg(kind, boundsBad = true, None, None,
      nullsBad = true, 0L)
    val nullsKnown = st.isNumNullsSet
    val nulls = if (nullsKnown) st.getNumNulls else 0L
    if (st.hasNonNullValue) {
      val mn = toSValue(st.genericGetMin, kind)
      val mx = toSValue(st.genericGetMax, kind)
      Agg(kind, boundsBad = mn.isEmpty || mx.isEmpty, mn, mx,
        nullsBad = !nullsKnown, nulls)
    } else if (nullsKnown && nulls == groupRows) {
      Agg(kind, boundsBad = false, None, None, nullsBad = false, nulls)
    } else Agg(kind, boundsBad = true, None, None,
      nullsBad = !nullsKnown, nulls)
  }

  /** Parquet physical+logical type → stat kind. Unsupported encodings
    * (INT96 timestamps have no sane stats ordering, decimals and
    * unsigned ints would need width-aware compares, nested columns
    * are not top-level) return None — those columns simply never
    * prune.
    */
  private def statKind(pt: org.apache.parquet.schema.PrimitiveType)
      : Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case BOOLEAN => Some("bool")
      case FLOAT | DOUBLE => Some("double")
      case INT32 => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if !i.isSigned => None
        case _ => Some("long")
      }
      case INT64 => pt.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // only MICROS — the unit Catalyst timestamp literals use, so
          // comparisons never re-scale; MILLIS/NANOS columns (foreign
          // writers) just don't prune
          if (ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) Some("ts")
          else None
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if !i.isSigned => None
        case _ => Some("long")
      }
      case BINARY => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some("string")
        case _ => None
      }
      case _ => None
    }
  }

  /** Footer stat value → SValue. Non-finite doubles poison the bound
    * (parquet writers skip NaN in stats, but belt and braces — JSON
    * has no NaN, and a NaN bound could prune nothing soundly anyway).
    */
  private def toSValue(v: Any, kind: String): Option[SValue] = kind match {
    case "bool" => Some(SBool(v.asInstanceOf[java.lang.Boolean]))
    case "double" =>
      val d = v match {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }
      if (java.lang.Double.isFinite(d)) Some(SDouble(d)) else None
    case "long" | "date" => v match {
      case i: java.lang.Integer => Some(SLong(i.toLong))
      case l: java.lang.Long => Some(SLong(l))
    }
    case "ts" => v match { // MICROS by statKind's gate
      case l: java.lang.Long => Some(SLong(l))
      case i: java.lang.Integer => Some(SLong(i.toLong))
    }
    case "string" =>
      Some(SString(v.asInstanceOf[org.apache.parquet.io.api.Binary]
        .toStringUsingUTF8))
  }

  // ---------------------------------------------------------------
  // Bloom-filter file index (_blooms.json inside the snapshot dir)
  // ---------------------------------------------------------------

  /** Per-file split-block bloom filters over chosen columns — the
    * equality-skipping channel min/max stats cannot serve (the Delta
    * `bloomfilter` index analog): a point lookup on a HIGH-CARDINALITY
    * key (`doc_id = <uuid>`) finds every file's [min, max] spanning
    * the keyspace unless the table is clustered on exactly that key,
    * but a per-file bloom answers "definitely not in this file" for
    * ~97% of non-matching files at fpp 0.03 — independent of the
    * physical sort order, so it composes with clustering on OTHER
    * columns. False positives only ever KEEP a file (the residual
    * predicate still runs), so bloom pruning inherits the stats
    * pruner's soundness story; absent/corrupt/stale index entries
    * degrade to keep, never to wrong results.
    *
    * Cost model, stated for the 100 TB case: building the index is one
    * column-pruned scan of the files just written (unlike footer
    * stats, blooms need the data), so it rides the commit that already
    * wrote those bytes; the index itself is O(rows · bits-per-row) for
    * the indexed columns only — choose them like Delta does, per
    * column, not table-wide. Probing is metadata-only at plan time.
    *
    * Encodings (write and probe MUST agree): integral columns hash the
    * value as a long, strings as UTF-8 bytes, dates as epoch days.
    * Other types are skipped at build time and never probed.
    */
  val bloomsFileName = "_blooms.json"

  /** Default false-positive rate (Delta's default neighborhood): ~7
    * bits/row. Lower fpp prunes marginally more but grows the index
    * linearly in log(1/fpp).
    */
  val bloomDefaultFpp = 0.03

  import org.apache.spark.util.sketch.BloomFilter

  /** Per-file bloom index of one snapshot directory:
    * column → (encoding kind, file → STILL-ENCODED filter). Filters
    * decode LAZILY, per requested file: plan-time deserialization
    * cost is proportional to the files that survive stats pruning
    * and get bloom-probed, not to the table — the distinction that
    * matters when a snapshot has 800k files and the stats already
    * pruned all but a handful. (The index document itself is one
    * JSON per snapshot dir, like the stats manifest; at extreme file
    * counts both would shard, the same evolution Delta's log took.)
    */
  final case class BloomIndex(
      cols: Map[String, (String, Map[String, String])]) {
    /** col → (kind, filter) slice for one file — the shape
      * [[mayMatch]] consumes. Decodes just this file's entries.
      */
    def forFile(file: String): Map[String, (String, BloomFilter)] =
      cols.flatMap { case (c, (kind, byFile)) =>
        byFile.get(file).flatMap(decode).map(bf => c -> (kind, bf))
      }
    /** One (file, column) filter — the dynamic-file-pruning probe. */
    def forFileCol(file: String, column: String)
        : Option[(String, BloomFilter)] =
      cols.get(column).flatMap { case (kind, byFile) =>
        byFile.get(file).flatMap(decode).map(bf => (kind, bf))
      }
    /** True when no column carries any filter (skip the probe pass). */
    def isEmpty: Boolean = cols.forall(_._2._2.isEmpty)
    private def decode(b64: String): Option[BloomFilter] =
      scala.util.Try(BloomFilter.readFrom(new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(b64)))).toOption
  }

  /** Bloom-supported encoding for a Spark type: how values are fed to
    * the filter (and how probe literals must be fed later). None =
    * the column cannot be bloom-indexed.
    */
  private def bloomKind(dt: org.apache.spark.sql.types.DataType)
      : Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case StringType => Some("string")
      case DateType => Some("date")
      case _ => None
    }
  }

  /** Build and persist per-file blooms over `cols` for every parquet
    * file under `dir`. One distributed column-pruned pass: each input
    * partition folds its rows into partial filters keyed by
    * (file, column); the driver merges partials (bit-OR — filters are
    * built with identical per-file sizing, so they are mergeable) and
    * writes `_blooms.json`. Sizing comes from the stats manifest's
    * per-file row counts (written immediately before in every commit
    * path); files missing from it get a conservative default.
    * Failures are swallowed into "no index" — like stats, blooms are
    * an optimization and must never fail a commit.
    */
  def writeBlooms(spark: org.apache.spark.sql.SparkSession, dir: Path,
                  cols: Seq[String], fpp: Double = bloomDefaultFpp): Unit =
    try {
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val rowsByFile: Map[String, Long] =
        readStats(fs, dir).map(_.map(s => s.file -> s.rows).toMap)
          .getOrElse(Map.empty)
      val df = spark.read.parquet(dir.toString)
      val indexed = cols.distinct.flatMap { c =>
        df.schema.find(_.name == c)
          .flatMap(f => bloomKind(f.dataType).map(k => (c, k)))
      }
      if (indexed.isEmpty) return
      val projected = df.select(
        org.apache.spark.sql.functions.input_file_name().as("_bf_file") +:
          indexed.map { case (c, _) => org.apache.spark.sql.functions.col(c) }: _*)
      val kinds = indexed.map(_._2).toArray
      val names = indexed.map(_._1).toArray
      val sizing = rowsByFile // serialized to executors; O(files) entries
      val defaultItems = 1000000L
      // partial filters per (file, colIdx), serialized for the collect
      val partials: Array[((String, Int), Array[Byte])] =
        projected.rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.Map[(String, Int), BloomFilter]()
          it.foreach { row =>
            val fileName = {
              // input_file_name() is the percent-ENCODED URI form;
              // every read-side lookup (probe, sizing) keys on the
              // decoded FileStatus name — decode here or a file whose
              // name percent-encodes (space, '%', unicode) gets an
              // index entry nothing can ever find
              val p = row.getString(0)
              val decoded = scala.util.Try(new java.net.URI(p).getPath)
                .getOrElse(p)
              decoded.substring(decoded.lastIndexOf('/') + 1)
            }
            var i = 0
            while (i < kinds.length) {
              if (!row.isNullAt(i + 1)) {
                val bf = acc.getOrElseUpdate((fileName, i), BloomFilter.create(
                  math.max(1L, sizing.getOrElse(fileName, defaultItems)), fpp))
                kinds(i) match {
                  case "long" => bf.putLong(row.get(i + 1) match {
                    case b: java.lang.Byte => b.longValue()
                    case s: java.lang.Short => s.longValue()
                    case n: java.lang.Integer => n.longValue()
                    case l: java.lang.Long => l.longValue()
                  })
                  case "date" => bf.putLong(row.get(i + 1) match {
                    case d: java.sql.Date => d.toLocalDate.toEpochDay
                    case d: java.time.LocalDate => d.toEpochDay
                  })
                  case "string" => bf.putString(row.getString(i + 1))
                }
              }
              i += 1
            }
          }
          acc.iterator.map { case (k, bf) =>
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            (k, bos.toByteArray)
          }
        }.collect()
      val merged = scala.collection.mutable.Map[(String, Int), BloomFilter]()
      partials.foreach { case (k, bytes) =>
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        merged.get(k) match {
          case None => merged(k) = bf
          case Some(prev) => prev.mergeInPlace(bf)
        }
      }
      val enc = java.util.Base64.getEncoder
      val json = JObject(
        "version" -> JInt(1),
        "fpp" -> JDouble(fpp),
        "cols" -> JObject(names.indices.map { i =>
          names(i) -> (JObject(
            "kind" -> (JString(kinds(i)): JValue),
            "files" -> (JObject(merged.toList.collect {
              case ((f, ci), bf) if ci == i =>
                val bos = new java.io.ByteArrayOutputStream()
                bf.writeTo(bos)
                f -> (JString(enc.encodeToString(bos.toByteArray)): JValue)
            }): JValue)): JValue)
        }.toList))
      val out = fs.create(new Path(dir, bloomsFileName), true)
      try out.write(JsonMethods.compact(JsonMethods.render(json))
        .getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Read a directory's bloom index; None on absence or any parse
    * problem (prune-nothing, like stats). Per-file entries are
    * inherently fresh: data files are uniquely named, so an entry for
    * a replaced file simply never matches a current listing, and a
    * new file without an entry just isn't bloom-pruned.
    */
  def readBlooms(fs: FileSystem, dir: Path): Option[BloomIndex] = {
    val p = new Path(dir, bloomsFileName)
    if (!fs.exists(p)) return None
    scala.util.Try {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val root = JsonMethods.parse(s)
      val cols = (root \ "cols") match {
        case JObject(fields) => fields.flatMap { case (cn, cj) =>
          (cj \ "kind") match {
            case JString(kind) =>
              val files = (cj \ "files") match {
                case JObject(fs2) => fs2.collect {
                  case (fn, JString(b64)) => fn -> b64
                }.toMap
                case _ => Map.empty[String, String]
              }
              Some(cn -> (kind, files))
            case _ => None
          }
        }.toMap
        case _ => Map.empty[String, (String, Map[String, String])]
      }
      BloomIndex(cols)
    }.toOption
  }

  // ---------------------------------------------------------------
  // Persistence (_stats.json inside the snapshot dir)
  // ---------------------------------------------------------------

  private def svalueToJson(v: SValue): JValue = v match {
    case SLong(l) => JLong(l)
    case SDouble(d) => JDouble(d)
    case SString(s) => JString(s)
    case SBool(b) => JBool(b)
  }

  private def svalueFromJson(j: JValue, kind: String): Option[SValue] =
    (kind, j) match {
      case (("long" | "date" | "ts"), JInt(bi)) => Some(SLong(bi.toLong))
      case (("long" | "date" | "ts"), JLong(l)) => Some(SLong(l))
      case ("double", JDouble(d)) => Some(SDouble(d))
      case ("double", JInt(bi)) => Some(SDouble(bi.toDouble))
      case ("double", JLong(l)) => Some(SDouble(l.toDouble))
      case ("double", JDecimal(d)) => Some(SDouble(d.toDouble))
      case ("string", JString(s)) => Some(SString(s))
      case ("bool", JBool(b)) => Some(SBool(b))
      case _ => None
    }

  def statsToJson(stats: Seq[FileStat]): String = {
    val files = stats.map { f =>
      JObject(
        "file" -> JString(f.file),
        "rows" -> JLong(f.rows),
        "cols" -> JObject(f.cols.toList.sortBy(_._1).map { case (n, cs) =>
          n -> (JObject(List(
            Some("kind" -> (JString(cs.kind): JValue)),
            cs.min.map(v => "min" -> svalueToJson(v)),
            cs.max.map(v => "max" -> svalueToJson(v)),
            cs.nulls.map(nl => "nulls" -> (JLong(nl): JValue))
          ).flatten): JValue)
        })
      )
    }
    JsonMethods.compact(JsonMethods.render(
      JObject("version" -> JInt(1), "files" -> JArray(files.toList))))
  }

  def statsFromJson(s: String): Option[Seq[FileStat]] =
    scala.util.Try {
      val root = JsonMethods.parse(s)
      val JArray(files) = (root \ "files"): @unchecked
      files.map { f =>
        val JString(name) = (f \ "file"): @unchecked
        val rows = (f \ "rows") match {
          case JInt(bi) => bi.toLong
          case JLong(l) => l
          case other => throw new IllegalArgumentException(other.toString)
        }
        val cols = (f \ "cols") match {
          case JObject(fields) => fields.flatMap { case (cn, cj) =>
            (cj \ "kind") match {
              case JString(kind) =>
                val mn = (cj \ "min").toOption.flatMap(svalueFromJson(_, kind))
                val mx = (cj \ "max").toOption.flatMap(svalueFromJson(_, kind))
                val nulls = (cj \ "nulls") match {
                  case JInt(bi) => Some(bi.toLong)
                  case JLong(l) => Some(l)
                  case _ => None
                }
                Some(cn -> ColStats(kind, mn, mx, nulls))
              case _ => None
            }
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
        FileStat(name, rows, cols)
      }
    }.toOption

  /** Collect and persist stats for the snapshot at `dir`. Failures are
    * swallowed into "no stats" — skipping is an optimization and must
    * never fail a commit (the reader treats an absent/corrupt stats
    * file as prune-nothing).
    */
  def writeStats(spark: org.apache.spark.sql.SparkSession, dir: Path): Unit =
    try persist(spark.sessionState.newHadoopConf(), dir,
      collectStats(spark, dir))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Sequential variant (no session). */
  def writeStats(conf: Configuration, dir: Path): Unit =
    try persist(conf, dir, collectStats(conf, dir))
    catch { case scala.util.control.NonFatal(_) => () }

  private def persist(conf: Configuration, dir: Path,
                      stats: Seq[FileStat]): Unit = {
    val fs = dir.getFileSystem(conf)
    val out = fs.create(new Path(dir, statsFileName), true)
    try out.write(statsToJson(stats).getBytes("UTF-8"))
    finally out.close()
  }

  def readStats(fs: FileSystem, dir: Path): Option[Seq[FileStat]] = {
    val p = new Path(dir, statsFileName)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.toOption.flatMap(statsFromJson)
  }

  // ---------------------------------------------------------------
  // Pruning (read-time)
  // ---------------------------------------------------------------

  /** Whether `file` may hold a row satisfying `predicate` — false only
    * when the stats PROVE no row can match. Understands conjunction/
    * disjunction, ordered comparisons and equality against literals
    * (either side), IN-lists, null checks, and string prefix; anything
    * else — including any column without stats — is conservatively
    * "may match".
    */
  def mayMatch(predicate: Expression, file: FileStat): Boolean =
    mayMatch(predicate, file, Map.empty)

  /** As above, additionally consulting the file's bloom filters
    * (column → (encoding kind, filter), the [[BloomIndex.forFile]]
    * slice) on EQUALITY leaves: a bloom that proves the probed value
    * absent falsifies that leaf for this file exactly like an
    * out-of-[min,max] verdict — sound under And/Or/In nesting because
    * the leaf itself is unsatisfiable (nulls never equal a non-null
    * literal, so "no non-null occurrence" is "no occurrence").
    * Kind-mismatched or unsupported probes keep the file.
    */
  def mayMatch(predicate: Expression, file: FileStat,
               blooms: Map[String, (String, BloomFilter)]): Boolean = {
    if (file.rows == 0) return false // no rows: nothing satisfies anything
    def bloomLeaf(attr: Expression, l: Literal): Boolean =
      attrName(attr).flatMap(blooms.get) match {
        case None => true // no bloom for the column (or a cast in the way)
        case Some((kind, bf)) => litFamily(l) match {
          case Some(("num", SLong(v))) if kind == "long" =>
            bf.mightContainLong(v)
          case Some(("date", SLong(days))) if kind == "date" =>
            bf.mightContainLong(days)
          case Some(("string", SString(s))) if kind == "string" =>
            bf.mightContainString(s)
          case _ => true // unsupported/mismatched encoding: keep
        }
      }
    def mm(e: Expression): Boolean = e match {
      case And(l, r) => mm(l) && mm(r)
      case Or(l, r) => mm(l) || mm(r)
      case Not(IsNull(a)) => notNullLeaf(a, file)
      case Not(IsNotNull(a)) => nullLeaf(a, file)
      // negated equality: NOT(a = v) passes only non-null values ≠ v —
      // prunable when the file is single-valued AT v (min = max = v,
      // so every non-null row fails) or all null (NOT(null) is null,
      // filtered). The optimizer does not rewrite these, so they
      // reach the pruner as-is.
      case Not(EqualTo(a, l: Literal)) => notEqLeaf(a, l, file)
      case Not(EqualTo(l: Literal, a)) => notEqLeaf(a, l, file)
      case Not(EqualNullSafe(a, l: Literal)) if l.value != null =>
        // <=> with a non-null literal is null-free: nulls PASS the
        // negation, so only the single-valued-at-v zero-null file
        // prunes
        notEqLeaf(a, l, file, nullsPass = true)
      case Not(EqualNullSafe(l: Literal, a)) if l.value != null =>
        notEqLeaf(a, l, file, nullsPass = true)
      case Not(In(a, list)) if list.forall(_.isInstanceOf[Literal]) =>
        // NOT IN = a ≠ every element, a conjunction — the file prunes
        // if ANY conjunct is unsatisfiable for it; a null element
        // nulls every verdict (nothing ever passes)
        if (list.exists(_.asInstanceOf[Literal].value == null)) false
        else list.forall(l => notEqLeaf(a, l.asInstanceOf[Literal], file))
      case Not(StartsWith(a, Literal(p: UTF8String, _))) =>
        notPrefixLeaf(a, p.toString, file)
      case l: Literal => l.value match {
        case null => false // NULL filter verdict drops every row
        case b: Boolean => b
        case _ => true
      }
      case EqualTo(a, l: Literal) =>
        cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
      case EqualTo(l: Literal, a) =>
        cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
      case EqualNullSafe(a, l: Literal) =>
        if (l.value == null) nullLeaf(a, file)
        else cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
      case EqualNullSafe(l: Literal, a) =>
        if (l.value == null) nullLeaf(a, file)
        else cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
      case LessThan(a, l: Literal) => cmpLeaf(a, l, file, "lt")
      case LessThan(l: Literal, a) => cmpLeaf(a, l, file, "gt")
      case LessThanOrEqual(a, l: Literal) => cmpLeaf(a, l, file, "le")
      case LessThanOrEqual(l: Literal, a) => cmpLeaf(a, l, file, "ge")
      case GreaterThan(a, l: Literal) => cmpLeaf(a, l, file, "gt")
      case GreaterThan(l: Literal, a) => cmpLeaf(a, l, file, "lt")
      case GreaterThanOrEqual(a, l: Literal) => cmpLeaf(a, l, file, "ge")
      case GreaterThanOrEqual(l: Literal, a) => cmpLeaf(a, l, file, "le")
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists { l0 =>
          val l = l0.asInstanceOf[Literal]
          cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
        }
      case InSet(a, values) if a.resolved => // the optimizer's large-IN form
        values.exists { v =>
          val l = Literal(v, a.dataType)
          cmpLeaf(a, l, file, "eq") && bloomLeaf(a, l)
        }
      case IsNull(a) => nullLeaf(a, file)
      case IsNotNull(a) => notNullLeaf(a, file)
      case StartsWith(a, Literal(p: UTF8String, _)) =>
        prefixLeaf(a, p.toString, file)
      case Not(a @ (_: AttributeReference | _: UnresolvedAttribute)) =>
        boolLeaf(a, file, want = false)
      case a @ (_: AttributeReference | _: UnresolvedAttribute) =>
        boolLeaf(a, file, want = true)
      case _ => true // unknown shape: never prune
    }
    mm(predicate)
  }

  /** NOT(attr = v): may the file hold a NON-NULL value ≠ v? False
    * (prunable) when the file is single-valued exactly at v, or —
    * unless `nullsPass` (the null-safe form, where nulls satisfy the
    * negation) — when it is all null.
    */
  private def notEqLeaf(attr: Expression, l: Literal, f: FileStat,
                        nullsPass: Boolean = false): Boolean =
    colStats(attr, f) match {
      case None => true
      case Some(cs) =>
        if (cs.nulls.contains(f.rows)) return nullsPass // all null
        litFamily(l) match {
          case None => l.value != null // null literal: nothing passes
          case Some(lv) =>
            val singleValuedAtV =
              cs.min.flatMap(m => cmpLit(lv, m, cs.kind)).contains(0) &&
                cs.max.flatMap(m => cmpLit(lv, m, cs.kind)).contains(0)
            if (!singleValuedAtV) true
            // every non-null value equals v: plain ≠ passes nothing
            // (nulls filter out); the null-safe form passes exactly
            // the nulls, so the file survives only if it may have some
            else if (nullsPass) !cs.nulls.contains(0L)
            else false
        }
    }

  /** NOT(startswith(attr, p)): if both min and max start with p, every
    * value lexicographically between them does too (a differing first
    * |p| bytes would fall outside [min, max]) — no non-null row can
    * pass, and nulls never pass NOT(null). Prunable.
    */
  private def notPrefixLeaf(attr: Expression, prefix: String,
                            f: FileStat): Boolean =
    colStats(attr, f) match {
      case Some(cs) if cs.kind == "string" =>
        if (cs.nulls.contains(f.rows)) false // all null: nothing passes
        else {
          val p = prefix.getBytes("UTF-8")
          def startsWithP(v: SValue): Boolean = {
            val b = v.asInstanceOf[SString].v.getBytes("UTF-8")
            b.length >= p.length && truncCmp(b, p) == 0
          }
          val covered = cs.min.exists(startsWithP) &&
            cs.max.exists(startsWithP)
          !covered
        }
      case _ => true
    }

  /** Bare boolean column as the predicate (or its negation): prunable
    * when the file's [min, max] excludes `want` or the column is all
    * null.
    */
  private def boolLeaf(attr: Expression, f: FileStat, want: Boolean): Boolean =
    colStats(attr, f) match {
      case Some(cs) if cs.kind == "bool" =>
        if (cs.nulls.contains(f.rows)) false
        else if (want) cs.max.forall(_ == SBool(true))
        else cs.min.forall(_ == SBool(false))
      case _ => true
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute if u.nameParts.length == 1 =>
      Some(u.nameParts.head)
    case _ => None
  }

  /** Stats for the column `e` refers to — seeing through MONOTONE
    * WIDENING numeric casts the analyzer puts on the attribute side of
    * mixed-type comparisons (`cast(int_col as bigint) = 5L`): the
    * bounds are transformed with the same cast, so `cast(v)`'s range
    * is exactly [cast(min), cast(max)] (cast is monotone
    * non-decreasing and total for these pairs — no overflow wrap, no
    * new nulls). Narrowing casts wrap and are NOT seen through.
    * Comparing the raw long bound against a double literal without the
    * transform would be unsound at the 2^53 boundary, where
    * `cast(v as double)` rounds onto the literal from above.
    */
  private def colStats(e: Expression, f: FileStat): Option[ColStats] =
    e match {
      case c: Cast =>
        import org.apache.spark.sql.types._
        colStats(c.child, f).flatMap { cs =>
          (cs.kind, c.dataType) match {
            case ("long", LongType) => Some(cs)
            case ("long", DoubleType) =>
              Some(mapBounds(cs, "double") { case SLong(v) => SDouble(v.toDouble) })
            case ("long", FloatType) =>
              Some(mapBounds(cs, "double") {
                case SLong(v) => SDouble(v.toFloat.toDouble) })
            case ("double", DoubleType) => Some(cs)
            case ("double", FloatType) =>
              Some(mapBounds(cs, "double") {
                case SDouble(v) => SDouble(v.toFloat.toDouble) })
            case _ => None
          }
        }
      case _ => attrName(e).flatMap(f.cols.get)
    }

  /** Bounds transformed by `t`, DROPPING any mapped bound that lands
    * non-finite (e.g. a double value beyond Float range maps to
    * Infinity under a float cast): a non-finite bound would blow up
    * the exact BigDecimal comparison downstream, and "unknown" is the
    * sound verdict for it anyway — the file is simply kept.
    */
  private def mapBounds(cs: ColStats, newKind: String)
                       (t: PartialFunction[SValue, SValue]): ColStats = {
    def finite(v: SValue): Boolean = v match {
      case SDouble(d) => java.lang.Double.isFinite(d)
      case _ => true
    }
    ColStats(newKind, cs.min.collect(t).filter(finite),
      cs.max.collect(t).filter(finite), cs.nulls)
  }

  /** Catalyst literal → (family, SValue). Families gate comparability:
    * `num` literals compare against long/double stats via BigDecimal
    * (exact — a Long→Double round at the boundary could prune a
    * matching file); date against date (days), ts against ts (micros),
    * string byte-lexicographically (UTF8String order == parquet's
    * UTF8 sorted order; Java String order differs past the BMP).
    */
  private def litFamily(l: Literal): Option[(String, SValue)] = {
    import org.apache.spark.sql.types._
    if (l.value == null) return None
    (l.dataType, l.value) match {
      case (ByteType, v: Byte) => Some(("num", SLong(v.toLong)))
      case (ShortType, v: Short) => Some(("num", SLong(v.toLong)))
      case (IntegerType, v: Int) => Some(("num", SLong(v.toLong)))
      case (LongType, v: Long) => Some(("num", SLong(v)))
      // non-finite literals (NaN, ±Infinity) never prune: NaN compares
      // unlike its IEEE self in stats order, and an infinity would
      // break the exact BigDecimal comparison — keep the file instead
      case (FloatType, v: Float) =>
        if (!java.lang.Float.isFinite(v)) None
        else Some(("num", SDouble(v.toDouble)))
      case (DoubleType, v: Double) =>
        if (!java.lang.Double.isFinite(v)) None else Some(("num", SDouble(v)))
      case (_: DecimalType, v: org.apache.spark.sql.types.Decimal) =>
        Some(("num", SString(v.toBigDecimal.toString))) // exact via BigDecimal
      case (StringType, v: UTF8String) => Some(("string", SString(v.toString)))
      case (BooleanType, v: Boolean) => Some(("bool", SBool(v)))
      case (DateType, v: Int) => Some(("date", SLong(v.toLong)))
      case (TimestampType, v: Long) => Some(("ts", SLong(v)))
      case (TimestampNTZType, v: Long) => Some(("ts", SLong(v)))
      case _ => None
    }
  }

  /** Exact comparison of a literal against a stat bound of kind
    * `kind`; None = incomparable (never prune).
    */
  private def cmpLit(lit: (String, SValue), bound: SValue, kind: String)
      : Option[Int] = (lit, kind) match {
    case (("num", lv), "long" | "double") => Some(toBig(lv).compare(toBig(bound)))
    case (("date", SLong(a)), "date") =>
      Some(java.lang.Long.compare(a, bound.asInstanceOf[SLong].v))
    case (("ts", SLong(a)), "ts") =>
      Some(java.lang.Long.compare(a, bound.asInstanceOf[SLong].v))
    case (("string", SString(a)), "string") =>
      Some(Integer.signum(UTF8String.fromString(a)
        .compareTo(UTF8String.fromString(bound.asInstanceOf[SString].v))))
    case (("bool", SBool(a)), "bool") =>
      Some(java.lang.Boolean.compare(a, bound.asInstanceOf[SBool].v))
    case _ => None
  }

  private def toBig(v: SValue): BigDecimal = v match {
    case SLong(l) => BigDecimal(l)
    case SDouble(d) => BigDecimal(d)
    case SString(s) => BigDecimal(s) // decimal literal carried as string
    case SBool(_) => throw new IllegalStateException("bool is not numeric")
  }

  /** attr <op> literal over one file's stats; true = may match. */
  private def cmpLeaf(attr: Expression, l: Literal, f: FileStat,
                      op: String): Boolean =
    colStats(attr, f) match {
      case None => true
      case Some(cs) =>
        if (cs.nulls.contains(f.rows)) return false // all null: no compare is true
        litFamily(l) match {
          // null literal: the comparison is never true → prunable;
          // NaN / unknown literal family: keep
          case None => l.value != null
          case Some(lv) =>
            val vsMin = cs.min.flatMap(m => cmpLit(lv, m, cs.kind))
            val vsMax = cs.max.flatMap(m => cmpLit(lv, m, cs.kind))
            op match {
              // eq: v ∈ [min, max]
              case "eq" => !vsMin.exists(_ < 0) && !vsMax.exists(_ > 0)
              // attr < v: possible iff min < v
              case "lt" => !vsMin.exists(_ <= 0)
              // attr <= v: possible iff min <= v
              case "le" => !vsMin.exists(_ < 0)
              // attr > v: possible iff max > v
              case "gt" => !vsMax.exists(_ >= 0)
              // attr >= v: possible iff max >= v
              case "ge" => !vsMax.exists(_ > 0)
            }
        }
    }

  private def nullLeaf(attr: Expression, f: FileStat): Boolean =
    colStats(attr, f) match {
      case Some(cs) => cs.nulls.forall(_ > 0)
      case None => true
    }

  private def notNullLeaf(attr: Expression, f: FileStat): Boolean =
    colStats(attr, f) match {
      case Some(cs) => !cs.nulls.contains(f.rows)
      case None => true
    }

  /** startswith(attr, p): a file may hold such a string iff
    * trunc(min, |p|) <= p <= trunc(max, |p|) in unsigned UTF-8 byte
    * order (proper-prefix bounds compare as less). Sound under
    * parquet's stat truncation, which only ever widens [min, max].
    */
  private def prefixLeaf(attr: Expression, prefix: String,
                         f: FileStat): Boolean =
    colStats(attr, f) match {
      case Some(cs) if cs.kind == "string" =>
        if (cs.nulls.contains(f.rows)) false
        else {
          val p = prefix.getBytes("UTF-8")
          val okMin = cs.min.forall(m =>
            truncCmp(m.asInstanceOf[SString].v.getBytes("UTF-8"), p) <= 0)
          val okMax = cs.max.forall(m =>
            truncCmp(m.asInstanceOf[SString].v.getBytes("UTF-8"), p) >= 0)
          okMin && okMax
        }
      case _ => true
    }

  /** Compare a's first |p| bytes against p, unsigned; a proper prefix
    * of p compares less (no string starting with p can be ≤ it).
    */
  private def truncCmp(a: Array[Byte], p: Array[Byte]): Int = {
    val n = math.min(a.length, p.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (p(i) & 0xff)
      if (d != 0) return Integer.signum(d)
      i += 1
    }
    if (a.length >= p.length) 0 else -1
  }

  // ---------------------------------------------------------------
  // Dynamic file pruning (join-key sets against one file's stats)
  // ---------------------------------------------------------------

  /** Collected build-side join keys → (stat kind, SORTED SValue array)
    * in the same representation the probe column's stats use, so
    * [[mayHoldAnyKey]] compares without re-encoding. None =
    * unsupported type (callers fall back to unpruned scans). Input
    * values are the Row-external types of the named DataType; nulls
    * must be pre-filtered (a null never equals a join key).
    */
  def keySValues(dt: org.apache.spark.sql.types.DataType,
                 values: Seq[Any]): Option[(String, Array[SValue])] = {
    import org.apache.spark.sql.types._
    val conv: Option[(String, Any => SValue)] = dt match {
      case ByteType => Some(("long", v => SLong(v.asInstanceOf[Byte].toLong)))
      case ShortType => Some(("long", v => SLong(v.asInstanceOf[Short].toLong)))
      case IntegerType => Some(("long", v => SLong(v.asInstanceOf[Int].toLong)))
      case LongType => Some(("long", v => SLong(v.asInstanceOf[Long])))
      case FloatType => Some(("double",
        v => SDouble(v.asInstanceOf[Float].toDouble)))
      case DoubleType => Some(("double", v => SDouble(v.asInstanceOf[Double])))
      case StringType => Some(("string", v => SString(v.asInstanceOf[String])))
      // both external representations (java.sql.* default,
      // java.time.* under spark.sql.datetime.java8API.enabled)
      case DateType => Some(("date", {
        case d: java.sql.Date => SLong(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => SLong(d.toEpochDay)
      }))
      case TimestampType => Some(("ts", {
        // getTime already FLOORS to millis for pre-1970 instants and
        // getNanos carries the non-negative sub-second part, so the
        // micros-within-milli remainder just adds on — Spark's own
        // fromJavaTimestamp shape. (A truncating getTime/1000*1e6 +
        // nanos/1000 spelling is wrong for negative instants: it
        // rounds the seconds toward zero and then adds the full
        // sub-second forward, mis-encoding e.g. 1969-12-31T23:59:58.5
        // by a full second — and a mis-encoded key can fall outside a
        // file's true [min,max], pruning a file that HOLDS the key.)
        case ts: java.sql.Timestamp =>
          SLong(ts.getTime * 1000L + (ts.getNanos / 1000) % 1000L)
        case i: java.time.Instant =>
          SLong(i.getEpochSecond * 1000000L + i.getNano / 1000)
      }))
      case _ => None
    }
    // any unexpected external representation degrades to "no key
    // pruning" (None), never to a failed scan
    conv.flatMap { case (kind, f) =>
      scala.util.Try(
        (kind, values.map(f).sortWith((a, b) => cmpSame(a, b, kind) < 0)
          .toArray)).toOption
    }
  }

  /** May `file` hold ANY of `sortedKeys` in `column`? The per-file
    * half of dynamic file pruning: binary-search the sorted key array
    * for the file's [min, max] window — O(log |keys|) per file, never
    * O(|keys|), which is what keeps a 2M-key build side affordable
    * against an 800k-file probe manifest — then refine the (usually
    * few) in-window keys against the file's bloom, capped at
    * `maxProbes` probes. Unknown stats, kind mismatches, and
    * over-budget probe sets all KEEP the file; `false` only when no
    * key can be present.
    */
  def mayHoldAnyKey(file: FileStat, column: String, kind: String,
                    sortedKeys: Array[SValue],
                    bloom: => Option[(String, BloomFilter)],
                    maxProbes: Int = 64): Boolean = {
    if (file.rows == 0) return false
    if (sortedKeys.isEmpty) return false
    def bloomSaysMaybe(lo: Int, hi: Int): Boolean = bloom match {
      case Some((bkind, bf)) if hi - lo <= maxProbes =>
        (lo until hi).exists { i =>
          (bkind, sortedKeys(i)) match {
            case ("long", SLong(x)) => bf.mightContainLong(x)
            case ("date", SLong(x)) => bf.mightContainLong(x)
            case ("string", SString(s)) => bf.mightContainString(s)
            case _ => true // indeterminate encoding: keep
          }
        }
      case _ => true // no bloom / too many probes: keep
    }
    file.cols.get(column) match {
      case Some(cs) if cs.kind == kind =>
        if (cs.nulls.contains(file.rows)) return false // all null
        val lo = cs.min match {
          case Some(mn) => lowerBound(sortedKeys, mn, kind)
          case None => 0
        }
        val hi = cs.max match {
          case Some(mx) => upperBound(sortedKeys, mx, kind)
          case None => sortedKeys.length
        }
        lo < hi && bloomSaysMaybe(lo, hi)
      case Some(_) => true // kind mismatch: keep
      case None => bloomSaysMaybe(0, sortedKeys.length)
    }
  }

  /** First index whose key >= bound (binary search). */
  private def lowerBound(keys: Array[SValue], bound: SValue,
                         kind: String): Int = {
    var lo = 0; var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmpSame(keys(mid), bound, kind) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** First index whose key > bound (binary search). */
  private def upperBound(keys: Array[SValue], bound: SValue,
                         kind: String): Int = {
    var lo = 0; var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmpSame(keys(mid), bound, kind) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Global [min, max] of `column` across a snapshot's file stats —
    * sound only when EVERY file has known bounds or is provably
    * all-null (a single unknown file could hold the true extremum →
    * None), and at least one file holds a non-null value. Unwraps
    * SValues to plain Scala values.
    */
  def globalBounds(stats: Seq[FileStat], column: String)
      : Option[(Any, Any)] = {
    val files = stats.filter(_.rows > 0)
    // every non-empty file must carry stats for the column, and each
    // must either have known bounds or be provably all-null — one
    // unknown file could hold the true extremum
    val perFile: Seq[Option[(Option[SValue], Option[SValue])]] =
      files.map { f =>
        f.cols.get(column).flatMap { c =>
          if (c.min.isDefined && c.max.isDefined) Some((c.min, c.max))
          else if (c.nulls.contains(f.rows)) Some((None, None)) // all null
          else None // unknown bounds
        }
      }
    if (perFile.isEmpty || perFile.exists(_.isEmpty)) return None
    // ALL files must agree on the stat kind: manifests written against
    // different schema generations (e.g. a column widened long→double)
    // are incomparable, and folding mixed kinds through cmpSame (which
    // returns 0 for a kind mismatch) would keep an arbitrary operand —
    // an unsound bound. Unknown beats wrong.
    val kinds = files.flatMap(_.cols.get(column)).map(_.kind).distinct
    if (kinds.size != 1) return None
    val kind = kinds.head
    val mins = perFile.flatten.flatMap(_._1)
    val maxs = perFile.flatten.flatMap(_._2)
    if (mins.isEmpty || maxs.isEmpty) return None // no non-null values
    val gMin = mins.reduce((a, b) => if (cmpSame(a, b, kind) <= 0) a else b)
    val gMax = maxs.reduce((a, b) => if (cmpSame(a, b, kind) >= 0) a else b)
    def unwrap(v: SValue): Any = v match {
      case SLong(l) => l
      case SDouble(d) => d
      case SString(s) => s
      case SBool(b) => b
    }
    Some((unwrap(gMin), unwrap(gMax)))
  }

  /** Pseudo column stats for a PARTITION-VALUE directory (partitioned
    * layout): the directory name pins every row's value, so the
    * column's per-file stats are min = max = value, zero nulls — and
    * the one pruner handles partition pruning and data-column
    * skipping uniformly. The Hive default-partition directory means
    * "value is null": all-null stats. Types without a lossless
    * path-string round-trip return None (those columns simply don't
    * prune).
    */
  def partitionColStats(dt: org.apache.spark.sql.types.DataType,
                        raw: String, rows: Long): Option[ColStats] = {
    import org.apache.spark.sql.types._
    def point(kind: String, v: SValue) =
      ColStats(kind, Some(v), Some(v), Some(0L))
    if (raw == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME)
      return Some(ColStats("string", None, None, Some(rows)))
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(raw.toLong).toOption.map(v => point("long", SLong(v)))
      case FloatType | DoubleType =>
        scala.util.Try(raw.toDouble).toOption
          .filter(java.lang.Double.isFinite)
          .map(v => point("double", SDouble(v)))
      case StringType => Some(point("string", SString(raw)))
      case DateType =>
        scala.util.Try(java.time.LocalDate.parse(raw).toEpochDay).toOption
          .map(d => point("date", SLong(d)))
      case _ => None
    }
  }

  /** Compare two SValues of the same kind (collection-side fold). */
  private def cmpSame(a: SValue, b: SValue, kind: String): Int = (a, b) match {
    case (SLong(x), SLong(y)) => java.lang.Long.compare(x, y)
    case (SDouble(x), SDouble(y)) => java.lang.Double.compare(x, y)
    case (SString(x), SString(y)) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (SBool(x), SBool(y)) => java.lang.Boolean.compare(x, y)
    case _ => 0
  }
}

/** Multi-column Z-order clustering for compaction — the true
  * `OPTIMIZE ZORDER BY (a, b, …)`: interleave the bits of per-column
  * EQUAL-DEPTH bucket ranks (quantile-derived, so skew cannot pile
  * the whole table into one bucket) into a single space-filling-curve
  * key, then range-partition + sort on it. Every output file then
  * covers a small hyper-rectangle of the clustered space — min/max
  * stats are tight on EVERY clustered column, where a lexicographic
  * sort gives tight bounds only on the first. With
  * [[FileSkipping]]-based scans, a predicate on ANY clustered column
  * prunes ~(1 - 1/2^bits-per-col) of the files.
  *
  * Write-time cost: one quantile sketch pass over the snapshot
  * (sample-based, driver-collected boundaries — ≤ 255·cols doubles)
  * plus the same shuffle+sort a plain clustered compaction pays. The
  * z-value is computed by a scalar closure over the casted columns —
  * acceptable off the read path (compaction is already a full
  * rewrite); scans never see it.
  */
object ZOrder {
  import org.apache.spark.sql.functions._

  /** Arrange `df` into `nFiles` z-ordered partitions on `cols` (all
    * must cast to double: numerics out of the box; date/timestamp
    * callers pre-project an epoch column). `bits` per column bounds
    * the interleaved key at bits·|cols| ≤ 63.
    */
  def arrange(df: DataFrame, cols: Seq[String], nFiles: Int,
              bits: Int = 8): DataFrame =
    withZColumn(df, cols, bits)
      .repartitionByRange(nFiles, col(zColName))
      .sortWithinPartitions(zColName)
      .drop(zColName)

  /** Name of the interleaved-curve column [[withZColumn]] appends. */
  val zColName = "_z"

  /** `df` plus the interleaved z-curve key as column [[zColName]] —
    * the composable half of [[arrange]], for callers that need to
    * combine the curve with their own partitioning (e.g. the
    * partitioned layout's per-directory compaction, which range-
    * partitions on (partition value, z) so each directory's files
    * cover disjoint curve ranges WITHIN the directory).
    */
  def withZColumn(df: DataFrame, cols: Seq[String],
                  bits: Int = 8): DataFrame = {
    require(cols.size >= 2, "z-order needs >= 2 columns (one column is a sort)")
    require(bits * cols.size <= 63, s"bits($bits) * cols(${cols.size}) > 63")
    // withColumn would silently REPLACE a user column of this name and
    // arrange() would then drop it from the rewritten snapshot — the
    // same fail-fast style as the non-numeric check below
    require(!df.columns.contains(zColName),
      s"input already has a column named $zColName — rename it before " +
        "z-ordering (the curve key would silently replace it)")
    // a non-numeric column would cast to null for every row, silently
    // collapsing its dimension of the curve into bucket 0 — fail fast
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order column $c must be numeric (got $dt): pre-project " +
          "date/timestamp/string columns to a numeric key at the call site")
    }
    val nb = 1 << bits
    val casted = cols.map(c => col(c).cast("double"))
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val qcols = cols.indices.map(i => s"_zq_$i")
    val projected = df.select(cols.indices.map(i =>
      casted(i).as(qcols(i))): _*)
    // one aggregation pass computes all columns' boundaries
    val bounds: Array[Array[Double]] =
      projected.stat.approxQuantile(qcols.toArray, probs, 0.001)
    val zf = udf { (vals: Seq[java.lang.Double]) =>
      var z = 0L
      var bit = bits - 1
      while (bit >= 0) {
        var i = 0
        while (i < vals.length) {
          val b = bucketOf(bounds(i), vals(i))
          z = (z << 1) | ((b >> bit) & 1L)
          i += 1
        }
        bit -= 1
      }
      z
    }
    df.withColumn(zColName, zf(array(casted: _*)))
  }

  /** Equal-depth bucket of `v` given sorted cut points; nulls sort
    * first (bucket 0).
    */
  private def bucketOf(cuts: Array[Double], v: java.lang.Double): Long = {
    if (v == null || v.isNaN) return 0L
    val idx = java.util.Arrays.binarySearch(cuts, v.doubleValue())
    val ip = if (idx >= 0) idx + 1 else -idx - 1
    math.min(ip.toLong, cuts.length.toLong)
  }
}
