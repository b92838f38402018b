package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 connector for the reference's duels TSV layout
  * (`challenger \t challenged \t score \t duration`, no header —
  * emulator.py:8,176-181): the custom-source extension surface
  * (SURVEY §4.3) exercised end-to-end.
  *
  * What makes it scale-shaped rather than a toy:
  *
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): the reader
  *    parses ONLY the union of projected and filter-referenced fields of
  *    each line — a projection of one unfiltered column runs one
  *    `toLong` per row, not four — and emits just the pruned schema.
  *  - **Filter pushdown** (`SupportsPushDownFilters`): =, <, <=, >, >=
  *    comparisons against the long columns are evaluated inside the
  *    reader, BEFORE a row object exists; Catalyst is told they are
  *    fully handled (pushedFilters), so no post-scan Filter remains.
  *  - **One input partition per file**: a directory of shards
  *    parallelizes exactly like any file source; a single file is one
  *    task (the reference fixture is 518 rows — splitting within a file
  *    would be the standard byte-range extension and changes nothing
  *    structurally).
  *  - **Aggregate pushdown** (`SupportsPushDownAggregates`): ungrouped
  *    MIN/MAX/COUNT/COUNT(*) (composed with any pushed filters)
  *    collapse each file to ONE partial row inside the reader — the
  *    scan ships one row per file instead of the file's rows, and
  *    Spark's final aggregate merges the partials (min of mins, sum of
  *    counts). Partial, not complete, pushdown: correct under any
  *    partition count, which is the posture that matters at scale.
  *
  * Usage: `spark.read.format(classOf[TsvTableProvider].getName)
  * .load(dir)`; [[graft.ops.Duels.readOriginV2]] wires it to the origin
  * fixture, and SourcesSpec proves rows ≡ the csv reader, the pruned
  * read schema, and the absence of a post-scan Filter for pushed
  * predicates. */
class TsvTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsvSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TsvTable(properties.get("path"))
  // The table's layout is fixed by the file format; a caller-supplied
  // schema (`.schema(...)`) would be silently ignored by getTable, so
  // honestly refuse external metadata and let Catalyst error instead.
  override def supportsExternalMetadata(): Boolean = false
}

object TsvSource {
  val schema: StructType = StructType(Seq(
    StructField("challenger", LongType), StructField("challenged", LongType),
    StructField("score", LongType), StructField("duration", LongType)))

  /** Column index in the physical line for each schema field. */
  val colIndex: Map[String, Int] =
    schema.fields.map(_.name).zipWithIndex.toMap

  /** Files under `path` (or `path` itself), sorted for determinism. */
  def listFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(_.isFile).map(_.getAbsolutePath).sorted.toSeq
    else Seq(f.getAbsolutePath)
  }

  /** Compile a pushed filter into a predicate over the parsed line's
    * four raw columns. Only called for filters [[pushable]] accepted. */
  def compile(f: Filter): Array[Long] => Boolean = f match {
    case EqualTo(a, v: Long)            => r => r(colIndex(a)) == v
    case GreaterThan(a, v: Long)        => r => r(colIndex(a)) > v
    case GreaterThanOrEqual(a, v: Long) => r => r(colIndex(a)) >= v
    case LessThan(a, v: Long)           => r => r(colIndex(a)) < v
    case LessThanOrEqual(a, v: Long)    => r => r(colIndex(a)) <= v
    case IsNotNull(_)                   => _ => true // parsed longs are never null
    case _ => _ => true
  }

  /** Compile a pushed aggregate into (fold, empty-value) over the
    * parsed raw line columns: (state, raw) => state'. State longs,
    * MIN/MAX seeded by the first row (empty partitions emit null). */
  def compileAgg(a: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc): AggFold = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    def field(e: org.apache.spark.sql.connector.expressions.Expression): Int =
      colIndex(e.asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference]
        .fieldNames()(0))
    a match {
      case m: Min => val i = field(m.column); AggFold(math.min, i, countLike = false)
      case m: Max => val i = field(m.column); AggFold(math.max, i, countLike = false)
      case c: Count => val i = field(c.column); AggFold((s, _) => s + 1, i, countLike = true)
      case _: CountStar => AggFold((s, _) => s + 1, 0, countLike = true)
      case other => throw new IllegalArgumentException(s"unpushable aggregate ${other}")
    }
  }

  /** One pushed aggregate's fold: combine(state, value), the source
    * column index, and whether the empty state is 0 (counts) or null
    * (extrema). */
  final case class AggFold(combine: (Long, Long) => Long, col: Int, countLike: Boolean)

  def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _: Long) => colIndex.contains(a)
    case GreaterThan(a, _: Long) => colIndex.contains(a)
    case GreaterThanOrEqual(a, _: Long) => colIndex.contains(a)
    case LessThan(a, _: Long) => colIndex.contains(a)
    case LessThanOrEqual(a, _: Long) => colIndex.contains(a)
    case IsNotNull(a) => colIndex.contains(a)
    case _ => false
  }
}

class TsvTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-tsv:$path"
  override def schema(): StructType = TsvSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsvScanBuilder(path)
}

class TsvScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = TsvSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Array[AggregateFunc] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accept, reject) = filters.partition(TsvSource.pushable)
    pushed = accept
    reject // residual filters Catalyst must still evaluate
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Single-column field name of a V2 expression when it names one of
    * our columns. */
  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames.length == 1 && TsvSource.colIndex.contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // ungrouped MIN/MAX/COUNT/COUNT(*) only; anything else stays in Spark
    if (aggregation.groupByExpressions.nonEmpty) return false
    val ok = aggregation.aggregateExpressions.forall {
      case m: Min => fieldOf(m.column).isDefined
      case m: Max => fieldOf(m.column).isDefined
      case c: Count => !c.isDistinct && fieldOf(c.column).isDefined
      case _: CountStar => true
      case _ => false
    }
    if (ok) aggs = aggregation.aggregateExpressions
    ok
  }

  /** Intermediate (partial) schema the scan emits when aggregated: one
    * field per pushed function, long-typed; MIN/MAX are nullable (an
    * empty partition has no extremum), counts are not. */
  private def aggSchema: StructType = StructType(aggs.map {
    case m: Min => StructField(s"min_${fieldOf(m.column).get}", LongType, nullable = true)
    case m: Max => StructField(s"max_${fieldOf(m.column).get}", LongType, nullable = true)
    case c: Count => StructField(s"count_${fieldOf(c.column).get}", LongType, nullable = false)
    case _: CountStar => StructField("count_star", LongType, nullable = false)
  })

  override def build(): Scan =
    if (aggs.isEmpty) new TsvScan(path, required, pushed)
    else new TsvAggScan(path, aggSchema, aggs.map(TsvSource.compileAgg), pushed)
}

case class TsvFilePartition(file: String) extends InputPartition

class TsvScan(path: String, required: StructType, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftTsv path=$path, ReadSchema=${required.fieldNames.mkString(",")}, " +
      s"PushedFilters=[${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    TsvSource.listFiles(path).map(TsvFilePartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(required.fieldNames, pushed)
}

/** Scan variant with pushed aggregation: one partial row per file. */
class TsvAggScan(path: String, aggSchema: StructType,
    folds: Array[TsvSource.AggFold], pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftTsv path=$path, PushedAggregates=[${aggSchema.fieldNames.mkString(", ")}], " +
      s"PushedFilters=[${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    TsvSource.listFiles(path).map(TsvFilePartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new TsvAggReaderFactory(folds, pushed)
}

class TsvAggReaderFactory(folds: Array[TsvSource.AggFold], pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[TsvFilePartition].file
    val preds = pushed.map(TsvSource.compile)
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted
      override def get(): InternalRow = {
        emitted = true
        val lines = scala.io.Source.fromFile(file)
        try {
          val state = new Array[Long](folds.length)
          var n = 0L
          lines.getLines().foreach { line =>
            val parts = line.split("\t", -1)
            val raw = Array.tabulate(4)(i => parts(i).trim.toLong)
            if (preds.forall(_(raw))) {
              var i = 0
              while (i < folds.length) {
                val f = folds(i)
                state(i) = if (n == 0 && !f.countLike) raw(f.col)
                  else f.combine(state(i), raw(f.col))
                i += 1
              }
              n += 1
            }
          }
          InternalRow.fromSeq(folds.zipWithIndex.map { case (f, i) =>
            if (n == 0 && !f.countLike) null else java.lang.Long.valueOf(state(i))
          }.toSeq)
        } finally lines.close()
      }
      override def close(): Unit = ()
    }
  }
}

class TsvReaderFactory(requiredCols: Array[String], pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[TsvFilePartition].file
    val idxs = requiredCols.map(TsvSource.colIndex)
    val preds = pushed.map(TsvSource.compile)
    // Parse only the union of projected and filter-referenced columns:
    // the other slots of `raw` stay 0 and are never read.
    val needed: Array[Int] =
      (idxs ++ pushed.flatMap(_.references.map(TsvSource.colIndex))).distinct.sorted
    new PartitionReader[InternalRow] {
      private val lines = scala.io.Source.fromFile(file)
      private val it = lines.getLines().flatMap { line =>
        val parts = line.split("\t", -1)
        val raw = new Array[Long](4)
        needed.foreach(i => raw(i) = parts(i).trim.toLong)
        // pushed predicates run HERE, before any row object exists
        if (preds.forall(_(raw))) Some(InternalRow.fromSeq(idxs.map(raw(_)).toSeq))
        else None
      }
      // PartitionReader contract: get() must return the SAME row until
      // next() advances — buffer the current row rather than draining
      // the iterator from get()
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (it.hasNext) { current = it.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}
