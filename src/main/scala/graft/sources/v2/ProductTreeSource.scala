package graft.sources.v2

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptionsInRead, JacksonParser}
import org.apache.spark.sql.catalyst.util.BadRecordException
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualNullSafe, EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.ProductSources

/** S4 — the landing-zone scan as a native DataSource V2 connector.
  *
  * The reference's extractor writes
  * `data/<category>/<product_id>/metadata.json` and its curator re-walks
  * that tree on the driver, injecting `category` from the directory name
  * (reference: curate.py:180-210, zara_extractor.py:555-568).
  * [[ProductSources.readProductTree]] (S3) already re-models the walk as a
  * distributed `spark.read.json` glob; this connector is the full V2
  * expression of the same contract, and is what the scan should look like
  * at 100 TB:
  *
  *   - '''Partition pruning at the source.''' `category = 'x'` /
  *     `category IN (...)` filters are consumed by the scan builder and
  *     prune whole directories at PLANNING time — a pruned category is
  *     never even listed, let alone opened. The path-derived column is
  *     this source's partition key, exactly like Hive-style
  *     `category=` directories under a parquet root.
  *   - '''Column pruning into the parser.''' Catalyst hands the scan its
  *     required columns; only those fields are converted from JSON. A
  *     `count(*)` or a category-only rollup never opens a single file —
  *     one row per document is emitted straight from the listing.
  *   - '''Scan-reported statistics.''' `estimateStatistics` exposes
  *     post-pruning byte/row counts, so a filtered read of one small
  *     category auto-broadcasts in joins instead of shuffling the big
  *     fact side.
  *
  * Registered as `spark.read.format("product-tree")` via
  * `DataSourceRegister` (META-INF/services). Options: `path` (tree root,
  * required), `brand` (default "zara"), `filesPerPartition` (default 512),
  * `mode` (`permissive` default — malformed documents yield null fields
  * with `category` still set from the path; `failfast` throws).
  *
  * Scale note: listing is one glob per surviving category (not one RPC
  * per product directory). Millions of tiny metadata files remain a
  * small-files problem for ANY engine — the cure is compaction into the
  * parquet landing zone (S1), which this connector's semantics mirror
  * 1:1, so pipelines can switch between the raw tree and the compacted
  * table without query changes.
  */
class ProductTreeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "product-tree"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProductTreeTable.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ProductTreeTable(new CaseInsensitiveStringMap(properties))
}

object ProductTreeTable {
  /** Raw JSON fields + the two derived columns, same shape and order as
    * [[ProductSources.readProductTree]]. `category` is ALWAYS path-derived
    * (overriding any embedded value, as the reference does); `brand_name`
    * is the constant brand option. */
  val derivedFields = Seq("category", "brand_name")
  val fullSchema: StructType = StructType(
    ProductSources.rawProductSchema.fields.filterNot(_.name == "category") ++
      Seq(org.apache.spark.sql.types.StructField("category",
          org.apache.spark.sql.types.StringType, nullable = true),
        // the constant brand, non-nullable like S3's lit() column
        org.apache.spark.sql.types.StructField("brand_name",
          org.apache.spark.sql.types.StringType, nullable = false)))
}

class ProductTreeTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  private val root = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("product-tree source requires a 'path' option"))

  override def name(): String = s"product_tree($root)"
  override def schema(): StructType = ProductTreeTable.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ProductTreeScanBuilder(root,
      Option(options.get("brand")).getOrElse("zara"),
      Option(options.get("filesPerPartition")).map(_.toInt).getOrElse(512),
      Option(options.get("mode")).getOrElse("permissive").toLowerCase)
}

class ProductTreeScanBuilder(root: String, brand: String,
                             filesPerPartition: Int, mode: String)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = ProductTreeTable.fullSchema
  private var consumed: Array[Filter] = Array.empty
  // None = no category constraint; Some(set) = read only these directories
  private var categories: Option[Set[String]] = None

  /** category predicates the directory pruning enforces EXACTLY (so they
    * need no re-evaluation): equality, IN-lists of strings, and
    * IsNotNull (vacuous — the path always provides a category). */
  private def prunable(f: Filter): Option[Option[Set[String]]] = f match {
    case EqualTo("category", v: String)       => Some(Some(Set(v)))
    case EqualNullSafe("category", v: String) => Some(Some(Set(v)))
    case In("category", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      Some(Some(vs.map(_.asInstanceOf[String]).toSet))
    case IsNotNull("category")                => Some(None)
    case _                                    => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accumulate across invocations (round-4 ADVICE): Catalyst may call
    // pushFilters more than once, and each call's filters are CONJUNCTS
    // of the same query — so sets intersect and consumed appends; a
    // replace would silently widen an earlier call's constraint
    val (prune, residual) = filters.partition(f => prunable(f).isDefined)
    consumed ++= prune.filterNot(consumed.contains)
    val incoming = prune.flatMap(f => prunable(f).get)
      .reduceOption(_ intersect _)
    categories = (categories, incoming) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b)             => b.orElse(a)
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = consumed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    ProductTreeScan(root, brand, required, categories,
      consumed.map(_.toString).toSeq, filesPerPartition, mode)
}

case class ProductTreeScan(root: String, brand: String, required: StructType,
                           categories: Option[Set[String]],
                           pushedDescription: Seq[String],
                           filesPerPartition: Int, mode: String)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def description(): String =
    s"ProductTreeScan root=$root, " +
      s"PrunedCategories: ${categories.map(_.toSeq.sorted.mkString("[", ",", "]")).getOrElse("*")}, " +
      s"PushedFilters: ${pushedDescription.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  // driver-side planning state: list once, reuse for stats + partitions
  @transient private lazy val spark = SparkSession.active
  @transient private lazy val listed: Array[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val cats = fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(p => categories.forall(_.contains(p.getName)))
    // one glob per SURVIVING category — pruned directories are never
    // listed — and the globs run in parallel: listing latency (not
    // parsing) dominates a many-category tree, and each glob is an
    // independent namenode/object-store round trip
    // (BASELINE.md "Round-4: V2 connector listing smoke": 200
    // sequential globs cost 1.7 s of a 2.0 s full read at 40k docs)
    if (cats.length <= 1) {
      cats.flatMap { c =>
        fs.globStatus(new Path(c, "*/metadata.json"))
          .filter(_.isFile).map(s => (s.getPath.toString, s.getLen))
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, cats.length))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Array[(String, Long)]]] =
          cats.toSeq.map { c =>
            (() => fs.globStatus(new Path(c, "*/metadata.json"))
              .filter(_.isFile).map(s => (s.getPath.toString, s.getLen))
            ): java.util.concurrent.Callable[Array[(String, Long)]]
          }
        pool.invokeAll(tasks.asJava).asScala.toArray.flatMap(_.get())
      } finally pool.shutdown()
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    listed.grouped(math.max(1, filesPerPartition))
      .map(g => ProductTreePartition(g.map(_._1)))
      .toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    ProductTreeReaderFactory(required, brand, mode,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()),
      spark.sessionState.conf.sessionLocalTimeZone)

  /** Post-pruning size: lets Catalyst auto-broadcast a small filtered
    * read instead of shuffling the fact side of a join. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, listed.map(_._2).sum))
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(listed.length.toLong)
  }
}

case class ProductTreePartition(files: Array[String]) extends InputPartition

case class ProductTreeReaderFactory(required: StructType, brand: String,
                                    mode: String, conf: SerializableConfiguration,
                                    timeZoneId: String)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ProductTreeReader(partition.asInstanceOf[ProductTreePartition].files,
      required, brand, mode, conf, timeZoneId)
}

/** One row per document. JSON conversion covers only the required
  * non-derived columns; with none required (count(*), category rollups)
  * files are never opened. */
class ProductTreeReader(files: Array[String], required: StructType,
                        brand: String, mode: String,
                        conf: SerializableConfiguration, timeZoneId: String)
  extends PartitionReader[InternalRow] {

  private val jsonSchema = StructType(required.fields.filterNot(f =>
    ProductTreeTable.derivedFields.contains(f.name)))
  // required ordinal -> Right(json ordinal) | Left(derived name)
  private val plan: Array[Either[String, Int]] = {
    var j = -1
    required.fields.map { f =>
      if (ProductTreeTable.derivedFields.contains(f.name)) Left(f.name)
      else { j += 1; Right(j) }
    }
  }
  private val parser: JacksonParser =
    if (jsonSchema.isEmpty) null
    else new JacksonParser(jsonSchema,
      new JSONOptionsInRead(Map("multiLine" -> "true"), timeZoneId, ""),
      allowArrayAsStructs = true, Nil)
  private val brandUtf8 = UTF8String.fromString(brand)

  private var i = 0
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  private def categoryOf(path: String): UTF8String = {
    val parts = path.split('/')
    UTF8String.fromString(if (parts.length >= 3) parts(parts.length - 3) else null)
  }

  private def assemble(json: InternalRow, cat: UTF8String): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var k = 0
    while (k < plan.length) {
      plan(k) match {
        case Left("category")   => out.update(k, cat)
        case Left(_)            => out.update(k, brandUtf8)
        case Right(j) =>
          out.update(k,
            if (json == null || json.isNullAt(j)) null
            else json.get(j, jsonSchema.fields(j).dataType))
      }
      k += 1
    }
    out
  }

  private def readFile(path: String): Iterator[InternalRow] = {
    val cat = categoryOf(path)
    if (parser == null) return Iterator.single(assemble(null, cat))
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val in = fs.open(p)
    val content =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    try parser.parse[String](content, CreateJacksonParser.string,
        UTF8String.fromString).iterator.map(r => assemble(r, cat))
    catch {
      case e: BadRecordException if mode != "failfast" =>
        Iterator.single(assemble(null, cat)) // PERMISSIVE: null fields, path category kept
      case e: BadRecordException =>
        throw new IllegalStateException(s"Malformed document $path", e)
    }
  }

  override def next(): Boolean = {
    while (!pending.hasNext && i < files.length) {
      pending = readFile(files(i)); i += 1
    }
    if (pending.hasNext) { current = pending.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
