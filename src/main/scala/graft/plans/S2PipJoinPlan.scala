package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  BindReferences, Cast, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{LoopCache, PolygonCache}
import graft.operators.SpatialJoin
import graft.s2.{S2CellId, S2Region}

/** The physical form of every covering PIP join: custom logical nodes, one
  * planning strategy and two execs that share one probe loop
  * ([[S2PipProbeExec]]) over one region index ([[CellTable]]).
  *
  *  - [[S2PipJoinPlan]] / [[S2PipJoinExec]]: [[SpatialJoin.pipJoin]]'s
  *    regions, covered on the driver ([[DriverRegions]]) and shipped in the
  *    task closure.
  *  - [[S2PolygonTableJoinPlan]] / [[S2PolygonTableJoinExec]]: the
  *    polygon-TABLE joins. The table's executor-side covering projection
  *    (one row per polygon row: id, vertex arrays, covering) reaches the exec
  *    through a broadcast exchange in `IdentityBroadcastMode`; each executor
  *    builds one [[CellTable]] from the broadcast rows for its tasks.
  *
  * For each points row the probe encodes the leaf cell once and does one
  * exact-match binary search per covering level; interior hits emit at once,
  * boundary hits run the exact refinement. No row is multiplied, no hash
  * table is built and the points side never shuffles, at the cost of
  * stepping outside whole-stage codegen.
  */
case class S2PipJoinPlan(child: LogicalPlan,
                         regions: DriverRegions,
                         latExpr: Expression,
                         lonExpr: Expression,
                         // constructor parameter so plan copies keep the same
                         // expression id (a fresh id per copy breaks binding)
                         regionIdAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ regionIdAttr
  override def producedAttributes: AttributeSet = AttributeSet(regionIdAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): S2PipJoinPlan =
    copy(child = newChild)
}

/** `points` (left) joined to a polygon table's covering projection (right,
  * columns `table`: id, vertex arrays, `array<struct<cell, interior>>`).
  * The vertex arrays are `array<double>` (one loop) or
  * `array<array<double>>` (a polygon's shells and holes). */
case class S2PolygonTableJoinPlan(left: LogicalPlan,
                                  right: LogicalPlan,
                                  latExpr: Expression,
                                  lonExpr: Expression,
                                  table: Seq[Attribute],
                                  regionIdAttr: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ regionIdAttr
  override def producedAttributes: AttributeSet = AttributeSet(regionIdAttr)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
                                                 newRight: LogicalPlan): S2PolygonTableJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** The covering cells of many regions, indexed for point probes. Per
  * covering level it keeps a sorted array of the distinct cell ids and CSR
  * postings of the regions each cell covers (region index; bit 31 set when
  * the region contains the whole cell). A leaf probes with one exact-match
  * binary search per level, on its ancestor at that level, so a probe costs
  * O(levels * log cells) whatever the number of regions, and a hot cell costs
  * what any other cell costs. Each region's cells must be disjoint, so a leaf
  * meets each region at most once. */
final class CellTable private (levels: Array[Int],
                               cells: Array[Array[Long]],
                               offsets: Array[Array[Int]],
                               postings: Array[Array[Int]]) extends Serializable {

  /** The most postings one probe can return. */
  val maxHits: Int = offsets.map(o => (0 until o.length - 1).map(i => o(i + 1) - o(i))
    .foldLeft(0)(math.max)).sum

  def numCells: Int = cells.map(_.length).sum

  /** Writes the postings of the cells that contain `leaf` to `out`, from
    * index 0, and returns how many there are. */
  def probe(leaf: Long, out: Array[Int]): Int = {
    var n = 0
    var l = 0
    while (l < levels.length) {
      val i = java.util.Arrays.binarySearch(cells(l), S2CellId.parentForLevel(leaf, levels(l)))
      if (i >= 0) {
        val ps = postings(l)
        var p = offsets(l)(i)
        val end = offsets(l)(i + 1)
        while (p < end) {
          out(n) = ps(p)
          n += 1
          p += 1
        }
      }
      l += 1
    }
    n
  }
}

object CellTable {
  final val InteriorBit = Int.MinValue

  /** Collects (region, cell, interior) entries; entries added in region
    * order keep region order inside each posting list. */
  final class Entries {
    private var cells = new Array[Long](64)
    private var entries = new Array[Int](64)
    private var n = 0

    def add(region: Int, cell: Long, interior: Boolean): Unit = {
      if (n == cells.length) {
        cells = java.util.Arrays.copyOf(cells, 2 * n)
        entries = java.util.Arrays.copyOf(entries, 2 * n)
      }
      cells(n) = cell
      entries(n) = if (interior) region | InteriorBit else region
      n += 1
    }

    def build(): CellTable = {
      val level = Array.tabulate(n)(i => S2CellId.level(cells(i)))
      val levels = level.distinct.sorted
      val keys = new Array[Array[Long]](levels.length)
      val offsets = new Array[Array[Int]](levels.length)
      val postings = new Array[Array[Int]](levels.length)
      for (l <- levels.indices) {
        val at = Array.range(0, n).filter(i => level(i) == levels(l))
        val sorted = at.map(cells)
        java.util.Arrays.sort(sorted)
        var d = 0
        for (c <- sorted if d == 0 || sorted(d - 1) != c) { sorted(d) = c; d += 1 }
        val distinct = java.util.Arrays.copyOf(sorted, d)
        val slot = at.map(i => java.util.Arrays.binarySearch(distinct, cells(i)))
        val off = new Array[Int](d + 1)
        slot.foreach(s => off(s + 1) += 1)
        for (s <- 0 until d) off(s + 1) += off(s)
        val fill = off.clone()
        val post = new Array[Int](at.length)
        for (k <- at.indices) {
          post(fill(slot(k))) = entries(at(k))
          fill(slot(k)) += 1
        }
        keys(l) = distinct
        offsets(l) = off
        postings(l) = post
      }
      new CellTable(levels, keys, offsets, postings)
    }
  }
}

/** One task's regions behind a [[CellTable]]: the value each region emits
  * as `region_id` and its exact shape. Shapes are built on the first
  * boundary hit and kept for the task only: they cache lazy state, so they
  * are never shared across threads. */
final class ProbeRegions(val table: CellTable, ids: Array[Any], shape: Int => S2Region) {
  private val shapes = new Array[S2Region](ids.length)

  def id(region: Int): Any = ids(region)

  def contains(region: Int, lat: Double, lon: Double): Boolean = {
    if (shapes(region) == null) shapes(region) = shape(region)
    SpatialJoin.regionContains(shapes(region), lat, lon)
  }
}

/** [[SpatialJoin.pipJoin]]'s regions: each covered on the driver
  * ([[SpatialJoin.coverRegions]]) into one [[CellTable]], shipped with the
  * region ids and shapes in the task closure (small: <= regions x maxCells
  * cells). */
final class DriverRegions(regions: Seq[(String, S2Region)], maxCells: Int) extends Serializable {
  private val ids: Array[String] = regions.map(_._1).toArray
  private val shapes: Array[S2Region] = regions.map(_._2).toArray
  val table: CellTable = {
    val b = new CellTable.Entries
    for (((id, region), r) <- regions.zipWithIndex;
         c <- SpatialJoin.coverRegions(Seq(id -> region), maxCells))
      b.add(r, c.cell, c.interior)
    b.build()
  }

  /** The probe's view for one task, on the task's own deserialized copy. */
  def forTask(): ProbeRegions =
    new ProbeRegions(table, ids.map(UTF8String.fromString), shapes(_))

  override def toString: String = s"${ids.length} regions, ${table.numCells} cells"
}

/** What the two PIP execs share: the SQL metrics and the one probe loop
  * over the `streamed` (points) child. */
trait S2PipProbeExec extends SparkPlan {
  def streamed: SparkPlan
  def latExpr: Expression
  def lonExpr: Expression

  /** Each (points row, region) posting a probe returns is a cell hit, and
    * is an interior accept or an exact refinement; each refinement passes
    * or is a reject. So cellHits = interiorAccepts + refinements and
    * numOutputRows = interiorAccepts + refinements - refineRejects. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "cellHits" -> SQLMetrics.createMetric(sparkContext, "number of cell hits"),
    "interiorAccepts" -> SQLMetrics.createMetric(sparkContext, "number of interior accepts"),
    "refinements" -> SQLMetrics.createMetric(sparkContext, "number of exact refinements"),
    "refineRejects" -> SQLMetrics.createMetric(sparkContext, "number of refine rejects"))

  override def producedAttributes: AttributeSet = AttributeSet(output.last)
  override def outputPartitioning: Partitioning = streamed.outputPartitioning

  /** Probes every `streamed` row against the regions `regionsFor` builds
    * once per task (`regionsFor` must not capture this node). Per row: skip
    * NULL and non-finite (NaN, +-Inf) coordinates, encode the leaf, probe
    * the table, accept interior hits, refine boundary hits, then emit one
    * row per containing region, in region order. */
  protected def probe(regionsFor: () => ProbeRegions): RDD[InternalRow] = {
    val lat = latExpr
    val lon = lonExpr
    val childOutput = streamed.output
    val outAttrs = output
    val Seq(numOutput, cellHits, interiorAccepts, refinements, refineRejects) =
      Seq("numOutputRows", "cellHits", "interiorAccepts", "refinements", "refineRejects")
        .map(metrics)
    streamed.execute().mapPartitions({ input =>
      val latEval = BindReferences.bindReference(lat, childOutput)
      val lonEval = BindReferences.bindReference(lon, childOutput)
      val proj = UnsafeProjection.create(outAttrs, childOutput :+ outAttrs.last)
      val regions = regionsFor()
      val table = regions.table
      val found = new Array[Int](table.maxHits)
      val joined = new JoinedRow
      val idRow = new GenericInternalRow(1)

      new Iterator[InternalRow] {
        private var row: InternalRow = _
        private var n = 0 // accepted regions of `row`, in found(0 until n)
        private var k = 0 // next of them to emit

        override def hasNext: Boolean = {
          while (k == n && input.hasNext) accept(input.next())
          k < n
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          idRow.update(0, regions.id(found(k)))
          k += 1
          numOutput += 1
          proj(joined(row, idRow))
        }

        private def accept(r: InternalRow): Unit = {
          row = r
          k = 0
          n = 0
          val latV = latEval.eval(r)
          val lonV = lonEval.eval(r)
          if (latV != null && lonV != null) {
            val la = latV.asInstanceOf[Double]
            val lo = lonV.asInstanceOf[Double]
            if (java.lang.Double.isFinite(la) && java.lang.Double.isFinite(lo)) {
              val hits = table.probe(S2CellId.fromLatLngDegrees(la, lo), found)
              cellHits += hits
              var i = 0
              while (i < hits) {
                val region = found(i) & Int.MaxValue
                val ok =
                  if (found(i) < 0) { interiorAccepts += 1; true }
                  else {
                    refinements += 1
                    val in = regions.contains(region, la, lo)
                    if (!in) refineRejects += 1
                    in
                  }
                if (ok) {
                  // insertion sort: hits arrive in level order, emit in region order
                  var j = n
                  while (j > 0 && found(j - 1) > region) { found(j) = found(j - 1); j -= 1 }
                  found(j) = region
                  n += 1
                }
                i += 1
              }
            }
          }
        }
      }
    }, preservesPartitioning = true)
  }
}

case class S2PipJoinExec(child: SparkPlan,
                         regions: DriverRegions,
                         latExpr: Expression,
                         lonExpr: Expression,
                         output: Seq[Attribute]) extends UnaryExecNode with S2PipProbeExec {
  override def streamed: SparkPlan = child
  override protected def withNewChildInternal(newChild: SparkPlan): S2PipJoinExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val r = regions
    probe(() => r.forTask())
  }
}

case class S2PolygonTableJoinExec(left: SparkPlan,
                                  right: SparkPlan,
                                  latExpr: Expression,
                                  lonExpr: Expression,
                                  table: Seq[Attribute],
                                  output: Seq[Attribute])
    extends BinaryExecNode with S2PipProbeExec {
  override def streamed: SparkPlan = left
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil
  override protected def withNewChildrenInternal(newLeft: SparkPlan,
                                                 newRight: SparkPlan): S2PolygonTableJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = right.executeBroadcast[Array[InternalRow]]()
    val ordinals = table.map(a => right.output.indexWhere(_.exprId == a.exprId))
    require(!ordinals.contains(-1), s"table columns $table not in ${right.output}")
    val idType = table.head.dataType
    val multiLoop = table(1).dataType match {
      case ArrayType(_: ArrayType, _) => true
      case _ => false
    }
    probe(() => S2PolygonTableJoinExec.regions(rows, ordinals, idType, multiLoop))
  }
}

object S2PolygonTableJoinExec {
  /** Each executor builds the [[CellTable]] and ids of a broadcast table
    * once and its tasks share them (both are immutable); only the refine
    * shapes are per task. Keyed weakly by the broadcast value, so an entry
    * goes when the broadcast does; a value not seen before is built anew. */
  private val built =
    new java.util.WeakHashMap[Array[InternalRow], (Seq[Int], CellTable, Array[Any])]

  /** One task's [[ProbeRegions]] over the broadcast table rows (columns at
    * `ordinals`: id, lats, lons, covering): one region per row, so
    * duplicate and NULL ids each keep their own entry, and a row with a
    * NULL covering never matches. */
  private def regions(rows: Broadcast[Array[InternalRow]], ordinals: Seq[Int],
                      idType: DataType, multiLoop: Boolean): ProbeRegions = {
    val Seq(id, lats, lons, covering) = ordinals
    val table = rows.value
    val (cells, ids) = built.synchronized {
      val hit = built.get(table)
      if (hit != null && hit._1 == ordinals) (hit._2, hit._3)
      else {
        val b = new CellTable.Entries
        for (r <- table.indices if !table(r).isNullAt(covering)) {
          val cs = table(r).getArray(covering)
          for (j <- 0 until cs.numElements()) {
            val c = cs.getStruct(j, 2)
            b.add(r, c.getLong(0), c.getBoolean(1))
          }
        }
        val t = (b.build(), table.map(row => if (row.isNullAt(id)) null else row.get(id, idType)))
        built.put(table, (ordinals, t._1, t._2))
        t
      }
    }
    def nested(a: ArrayData): Array[Array[Double]] =
      Array.tabulate(a.numElements())(i => a.getArray(i).toDoubleArray())
    val shape: Int => S2Region = r => {
      val row = table(r)
      if (multiLoop) PolygonCache.build(nested(row.getArray(lats)), nested(row.getArray(lons)))
      else LoopCache.build(row.getArray(lats).toDoubleArray(), row.getArray(lons).toDoubleArray())
    }
    new ProbeRegions(cells, ids, shape)
  }
}

/** Plans [[S2PipJoinPlan]] and [[S2PolygonTableJoinPlan]]; registered on the
  * session's `spark.experimental.extraStrategies` by [[S2PipJoin]]. */
object S2PipJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: S2PipJoinPlan =>
      S2PipJoinExec(planLater(p.child), p.regions, p.latExpr, p.lonExpr, p.output) :: Nil
    case p: S2PolygonTableJoinPlan =>
      S2PolygonTableJoinExec(planLater(p.left), planLater(p.right), p.latExpr, p.lonExpr,
        p.table, p.output) :: Nil
    case _ => Nil
  }
}

object S2PipJoin {
  /** Same as [[SpatialJoin.pipJoin]], which it forwards to; kept for the
    * callers that name the operator by this entry point (the perfbench
    * harness). */
  def pipJoinExec(points: DataFrame, latCol: String, lonCol: String,
                  regions: Seq[(String, S2Region)], maxCells: Int = 64): DataFrame =
    SpatialJoin.pipJoin(points, latCol, lonCol, regions, maxCells)

  /** `points` + `region_id` (string) through [[S2PipJoinPlan]]. */
  private[graft] def plan(points: DataFrame, latCol: String, lonCol: String,
                          regions: DriverRegions): DataFrame = {
    val logical = points.queryExecution.analyzed
    build(points, S2PipJoinPlan(logical, regions, coord(logical, latCol), coord(logical, lonCol),
      AttributeReference("region_id", StringType, nullable = false)()))
  }

  /** `points` + `region_id` (the type of `idCol`) through
    * [[S2PolygonTableJoinPlan]], one row per (point, containing polygon
    * row). `covering` is the per-row `array<struct<cell, interior>>`. The
    * vertex columns (`array<_>` for one loop, `array<array<_>>` for a
    * polygon's loops) are cast to double elements, as the covering and
    * containment expressions cast them, so the refine reads the vertices the
    * covering used. */
  private[graft] def planTable(points: DataFrame, latCol: String, lonCol: String,
                               polys: DataFrame, idCol: String,
                               latsCol: String, lonsCol: String,
                               covering: Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val logical = points.queryExecution.analyzed
    val vertices = polys.select(col(latsCol)).schema.head.dataType match {
      case ArrayType(_: ArrayType, _) => ArrayType(ArrayType(DoubleType))
      case _ => ArrayType(DoubleType)
    }
    val table = polys.select(col(idCol), col(latsCol).cast(vertices),
        col(lonsCol).cast(vertices), covering.as("covering"))
      .queryExecution.analyzed
    val id = table.output.head
    build(points, S2PolygonTableJoinPlan(logical, table,
      coord(logical, latCol), coord(logical, lonCol), table.output,
      AttributeReference("region_id", id.dataType, id.nullable)()))
  }

  /** A coordinate column as a double, as the S2 expressions cast it. */
  private def coord(logical: LogicalPlan, name: String): Expression = {
    val a = logical.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    if (a.dataType == DoubleType) a else Cast(a, DoubleType)
  }

  /** The strategy is added to the session once, so a session built without
    * any extension config still plans the nodes. */
  private def build(points: DataFrame, plan: LogicalPlan): DataFrame = {
    val spark = points.sparkSession
    if (!spark.experimental.extraStrategies.contains(S2PipJoinStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ S2PipJoinStrategy
    }
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, plan)
  }
}
