package graft.core

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File pruning from the PER-FILE MEMBERSHIP EVIDENCE the write path
  * already embeds: a point predicate (`=` / `IN`) on a key column drops
  * every candidate file whose row groups PROVE the value(s) absent —
  * BEFORE task scheduling, from footer+sidecar driver reads.
  *
  * Two complementary provers, matching how parquet-mr actually writes:
  *  - **Bloom filters** (AppendOp: PK columns + [[graft.format
  *    .StorageMetadata.bloomColumns]]) — parquet-mr only materializes
  *    them for chunks that FELL BACK from dictionary encoding, i.e.
  *    exactly the high-NDV production-scale chunks.
  *  - **Dictionary pages** — a chunk that stayed fully
  *    dictionary-encoded gets NO bloom (the writer skips it by design),
  *    but its dictionary is a complete, EXACT value inventory; probing
  *    it gives false-positive-free membership for the low-NDV chunks
  *    blooms never cover.
  *
  * This is the third pruning layer and the one that works when the
  * OTHER two can't: manifest min/max stats need the layout to correlate
  * with the key (clustered tables), bucket pruning needs a bucket spec —
  * membership evidence answers point lookups on an arbitrary layout.
  * The intended 100 TB shape is a small candidate set AFTER stats/bucket
  * pruning (a point read); a broad scan gains nothing from per-file
  * membership tests, so pruning engages only under [[MaxCandidateFiles]],
  * and the per-file probes run on the shared [[DriverPool]] (object-store
  * footers are hundreds of RPCs if walked serially).
  *
  * Conservative by construction: any chunk with neither a bloom nor a
  * fully-dictionary-encoded page set (legacy files,
  * `spark.graft.pkBloomFilters=false` writes, partially-dict chunks,
  * oversized dictionaries), any non-literal or type-mismatched
  * comparison, and any value possibly present in ANY row group keeps
  * the file. Per-file evidence is cached (bounded LRU) so the repeated
  * point reads of a streaming ingest pay the footer IO once per file.
  */
object BloomPruning {

  /** Only point-read-shaped candidate sets benefit; a broad scan would
    * pay O(files) footer reads for nothing. */
  private val MaxCandidateFiles = 512

  /** Cap on total membership probes (values × conjuncts). */
  private val MaxLookupValues = 1024

  /** A dictionary bigger than this is a high-NDV chunk that should have
    * carried a bloom instead; decoding it to a set stops paying. */
  private val MaxDictEntries = 1 << 17

  /** Footer opens performed by the evidence loader (test observability:
    * manifest-marked evidence-less files must cause ZERO of these). */
  private[graft] val footerOpens = new java.util.concurrent.atomic.AtomicLong()

  /** Per-row-group membership evidence for one column: either the
    * parquet bloom bits or the exact decoded dictionary. */
  private sealed trait Prover {
    def mightContain(dt: DataType, v: Any): Boolean
  }
  /** `prim` is the FILE's physical type for the column. With metadata-
    * only type widening (int→bigint, int→double, float→double —
    * [[Storage.widenColumn]]), the predicate literal arrives in the
    * WIDENED schema type while old files hashed the narrow physical
    * values into their blooms: hashing the wide value directly would
    * miss every member (silent wrong prune). Probes convert the literal
    * down to the file's type when it is exactly representable there —
    * and a literal NOT representable in the file's type provably
    * matches nothing in that file, which is a sound (stronger) prune. */
  private final case class BloomProver(
      b: BloomFilter,
      prim: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName) extends Prover {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    private def hitInt(i: Int): Boolean = b.findHash(b.hash(i))
    private def hitLong(l: Long): Boolean = b.findHash(b.hash(l))
    private def hitFloat(f: Float): Boolean =
      // Spark SQL evaluates -0.0 = 0.0 as TRUE, but the bloom hashed
      // the writer's raw IEEE bits — a zero probe must admit either
      // pattern or a file whose zeros are all -0.0 is wrongly pruned
      // for `k = 0.0` (and vice versa). NaN bit patterns are not
      // canonical across writers: keep the file.
      if (java.lang.Float.isNaN(f)) true
      else if (f == 0.0f) b.findHash(b.hash(0.0f)) || b.findHash(b.hash(-0.0f))
      else b.findHash(b.hash(f))
    private def hitDouble(d: Double): Boolean =
      if (java.lang.Double.isNaN(d)) true
      else if (d == 0.0d) b.findHash(b.hash(0.0d)) || b.findHash(b.hash(-0.0d))
      else b.findHash(b.hash(d))

    def mightContain(dt: DataType, v: Any): Boolean = dt match {
      case IntegerType => hitInt(v.asInstanceOf[Int])
      case LongType =>
        val l = v.asInstanceOf[Long]
        prim match {
          case INT64 => hitLong(l)
          case INT32 => l >= Int.MinValue && l <= Int.MaxValue && hitInt(l.toInt)
          case _ => true
        }
      case FloatType => hitFloat(v.asInstanceOf[Float])
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        prim match {
          case DOUBLE => hitDouble(d)
          case FLOAT =>
            // a stored float f equals the double probe iff widening f
            // reproduces d exactly (NaN conservatively kept)
            java.lang.Double.isNaN(d) || (d.toFloat.toDouble == d && hitFloat(d.toFloat))
          case INT32 =>
            // int→double widen: only an integral in-int-range double
            // can match any stored value
            !java.lang.Double.isNaN(d) && d == Math.rint(d) &&
              d >= Int.MinValue && d <= Int.MaxValue && hitInt(d.toInt)
          case _ => true
        }
      case StringType => b.findHash(b.hash(Binary.fromConstantByteArray(utf8(v))))
      case _ => true
    }
  }
  /** Exact membership. Values are NORMALIZED at decode time — integral
    * physical types to Long, floating to Double with zeros collapsed to
    * +0.0 — so membership survives metadata-only type widening (the
    * probe literal's type and the file's physical type may legally
    * differ by a safe promotion) while still following Spark SQL's
    * `-0.0 = 0.0 → true` (boxed equality distinguishes ±0.0) and
    * NaN-equals-NaN semantics (boxed Double NaN == NaN). */
  private final case class DictProver(values: Set[Any]) extends Prover {
    def mightContain(dt: DataType, v: Any): Boolean = dt match {
      case StringType => values.contains(new String(utf8(v), java.nio.charset.StandardCharsets.UTF_8))
      case IntegerType => values.contains(v.asInstanceOf[Int].toLong)
      case LongType => values.contains(v.asInstanceOf[Long])
      case FloatType => values.contains(canonZero(v.asInstanceOf[Float].toDouble))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        // the set holds Doubles (FLOAT/DOUBLE files) or Longs (an INT32
        // file probed after an int→double widen) — check both images
        values.contains(canonZero(d)) ||
          (!java.lang.Double.isNaN(d) && d == Math.rint(d) &&
            d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble &&
            values.contains(d.toLong))
      case _ => true
    }
  }

  /** Collapse -0.0 onto +0.0 so boxed membership follows Spark SQL's
    * `-0.0 = 0.0 → true` (java.lang.{Float,Double}.equals compares bit
    * patterns and would say false). */
  private def canonZero(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
    case other => other
  }

  private def utf8(v: Any): Array[Byte] = v match {
    case s: UTF8String => s.getBytes
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case other => other.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Drop candidate files whose membership evidence falsifies a point
    * conjunct. `filters` are resolved and implicitly ANDed; `files` are
    * table-root-relative. `evidence` carries the manifest's per
    * (file, column) markers when the planner has them: `false` means
    * the write path PROVED the file has no usable evidence for that
    * column (some row group has neither bloom nor full dictionary), so
    * the file is kept without ever opening its footer — the metadata
    * plane answers what used to be one RPC per evidence-less file. */
  def pruneFiles(
      spark: SparkSession,
      storage: Storage,
      filters: Seq[Expression],
      files: Seq[String],
      evidence: Map[(String, String), Boolean] = Map.empty): Seq[String] = {
    if (files.isEmpty || files.size > MaxCandidateFiles || filters.isEmpty) return files
    val lookups = pointLookups(storage, filters)
    if (lookups.isEmpty) return files
    if (lookups.map(_._3.size).sum > MaxLookupValues) return files
    val conf = spark.sparkContext.hadoopConfiguration

    def keep(rel: String): Boolean = {
      val abs = storage.absolute(rel)
      lookups.forall { case (colName, dt, values) =>
        // the conjunct can hold in this file only if SOME value might
        // be present in SOME row group (missing evidence = might)
        if (evidence.get((rel, colName)).contains(false)) true
        else provers(abs, colName, conf) match {
          case None => true // no evidence anywhere in the file
          case Some(perGroup) => perGroup.exists {
            case None => true
            case Some(p) => values.exists(v => p.mightContain(dt, v))
          }
        }
      }
    }

    // files whose EVERY probed column is manifest-marked evidence-less
    // never touch storage at all — decide them inline
    def metadataOnly(rel: String): Boolean =
      lookups.forall { case (c, _, _) => evidence.get((rel, c)).contains(false) }

    val (decided, probed) = files.partition(metadataOnly)
    // object-store footer probes are network RPCs: a serial walk of a
    // few hundred candidates would put seconds of latency inside planning
    val probedKept = probed.zip(DriverPool.parMap(probed)(keep)).collect { case (f, true) => f }
    // preserve input order (downstream file lists are order-stable)
    val keptSet = (decided ++ probedKept).toSet
    files.filter(keptSet.contains)
  }

  /** Conjunctive point lookups on evidence-carrying columns:
    * (column, type, candidate values) per conjunct — the conjunct holds
    * only if the row's column equals one of the values. */
  private def pointLookups(
      storage: Storage,
      filters: Seq[Expression]): Seq[(String, DataType, Seq[Any])] = {
    val eligible: Map[String, DataType] = {
      // PHYSICAL names: the planner's filters are over the physical
      // schema (renamed columns prune under their as-written name,
      // matching the parquet footer's column paths)
      val schema = storage.schema
      (storage.primaryKeys ++ storage.metadata.bloomColumns).distinct.flatMap { c =>
        schema.fields.find(f => f.name == c && ManifestIO.statsEligible(f.dataType))
          .map(f => c -> f.dataType)
      }.toMap
    }
    if (eligible.isEmpty) return Nil

    def bloomAttr(e: Expression): Option[(String, DataType)] = e match {
      case a: AttributeReference => eligible.get(a.name).map(a.name -> _)
      case _ => None
    }
    // a literal of another type than the column is not a raw-value probe
    def litOf(e: Expression, dt: DataType): Option[Any] = e match {
      case Literal(v, ldt) if v != null && ldt == dt => Some(v)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    filters.flatMap(conjuncts).flatMap {
      case EqualTo(a, v) if bloomAttr(a).isDefined =>
        val (c, dt) = bloomAttr(a).get
        litOf(v, dt).map(x => (c, dt, Seq(x)))
      case EqualTo(v, a) if bloomAttr(a).isDefined =>
        val (c, dt) = bloomAttr(a).get
        litOf(v, dt).map(x => (c, dt, Seq(x)))
      case EqualNullSafe(a, v) if bloomAttr(a).isDefined =>
        val (c, dt) = bloomAttr(a).get
        litOf(v, dt).map(x => (c, dt, Seq(x)))
      case In(a, vs) if bloomAttr(a).isDefined && vs.nonEmpty =>
        val (c, dt) = bloomAttr(a).get
        val lits = vs.map(litOf(_, dt))
        if (lits.forall(_.isDefined)) Some((c, dt, lits.flatten)) else None
      case InSet(a, vs) if bloomAttr(a).isDefined && vs.nonEmpty =>
        val (c, dt) = bloomAttr(a).get
        Some((c, dt, vs.filter(_ != null).toSeq))
      case _ => None
    }
  }

  // -------------------------------------------- membership evidence cache

  /** (absolute path, column) → per-row-group provers; None = no row
    * group in the file carries usable evidence (cache that too —
    * re-proving absence costs the same footer read the cache exists to
    * avoid). */
  private val MaxCached = 512
  private val cache =
    new java.util.LinkedHashMap[(String, String), Option[Seq[Option[Prover]]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Option[Seq[Option[Prover]]]]): Boolean =
        size() > MaxCached
    }

  private def provers(
      absPath: String,
      colName: String,
      conf: org.apache.hadoop.conf.Configuration): Option[Seq[Option[Prover]]] = {
    val key = (absPath, colName)
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val loaded: Option[Seq[Option[Prover]]] = {
      footerOpens.incrementAndGet()
      val reader = RecordIO.openParquet(absPath, conf)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val perGroup = reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == colName).flatMap { cc =>
            val bloom = Option(reader.getBloomFilterDataReader(block)).flatMap(r =>
              Option(r.readBloomFilter(cc))).map(bf =>
              BloomProver(bf, cc.getPrimitiveType.getPrimitiveTypeName))
            bloom.orElse(dictProver(reader, block, cc, schema))
          }
        }
        if (perGroup.forall(_.isEmpty)) None else Some(perGroup)
      } finally reader.close()
    }
    cache.synchronized { cache.put(key, loaded) }
    loaded
  }

  /** Exact membership from the dictionary page of a chunk that never
    * fell back to plain encoding — the case parquet-mr deliberately
    * writes no bloom for. `hasNonDictionaryEncodedPages` is the same
    * test parquet's own row-group DictionaryFilter uses. */
  private def dictProver(
      reader: ParquetFileReader,
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      schema: org.apache.parquet.schema.MessageType): Option[Prover] = {
    val stats = cc.getEncodingStats
    if (stats == null || !stats.hasDictionaryPages || stats.hasNonDictionaryEncodedPages) return None
    // upcast to the public read-store interface: the concrete
    // DictionaryPageReader class is package-private in parquet-mr
    val dicts: org.apache.parquet.column.page.DictionaryPageReadStore =
      reader.getDictionaryReader(block)
    if (dicts == null) return None
    val desc = schema.getColumnDescription(cc.getPath.toArray)
    Option(dicts.readDictionaryPage(desc)).flatMap { page =>
      val dict = page.getEncoding.initDictionary(desc, page)
      val n = dict.getMaxId + 1
      if (n > MaxDictEntries) None
      else {
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        // normalize to Long / Double at decode (see DictProver): probes
        // may legally arrive in a WIDENED schema type
        val values: Option[Set[Any]] = desc.getPrimitiveType.getPrimitiveTypeName match {
          case INT32 => Some((0 until n).map(i => dict.decodeToInt(i).toLong: Any).toSet)
          case INT64 => Some((0 until n).map(i => dict.decodeToLong(i): Any).toSet)
          case FLOAT => Some((0 until n).map(i =>
            canonZero(dict.decodeToFloat(i).toDouble: Any)).toSet)
          case DOUBLE => Some((0 until n).map(i => canonZero(dict.decodeToDouble(i): Any)).toSet)
          case BINARY => Some((0 until n).map(i =>
            dict.decodeToBinary(i).toStringUsingUTF8: Any).toSet)
          case _ => None
        }
        values.map(DictProver.apply)
      }
    }
  }

  /** Test hook: drop cached evidence (e.g. after rewriting files). */
  private[graft] def clearCache(): Unit = cache.synchronized(cache.clear())
}
