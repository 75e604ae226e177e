package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
  AttributeSet, BindReferences, BoundReference, Cast, Expression, GenericInternalRow, JoinedRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, ProjectExec, SQLExecution,
  SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{LoopCache, PolygonCache, Vertices}
import graft.operators.SpatialJoin
import graft.s2.{S2CellId, S2LatLng, S2Point, S2Region}

/** The physical form of every covering PIP join: custom logical nodes, one
  * planning strategy and two execs that share one probe loop
  * ([[PipProbe]], driven by [[S2PipProbeExec]]) over one region index
  * ([[CellTable]]).
  *
  *  - [[S2PipJoinPlan]] / [[S2PipJoinExec]]: [[SpatialJoin.pipJoin]]'s
  *    regions, covered on the driver ([[DriverRegions]]) and shipped in the
  *    task closure.
  *  - [[S2PolygonTableJoinPlan]] / [[S2PolygonTableJoinExec]]: the
  *    polygon-TABLE joins. The table's covering runs in the broadcast-side
  *    job, one task per table partition: [[S2TableCoveringPlan]] plans as a
  *    `ProjectExec` (id, double-cast vertex arrays, covering) under the
  *    broadcast exchange, out of reach of the optimizer rules that would
  *    fold it into a local relation and evaluate it on the driver. Each
  *    executor builds one [[CellTable]] from the broadcast rows for its
  *    tasks.
  *
  * For each points row the probe encodes the leaf cell once and does one
  * exact-match binary search per covering level; interior hits are accepted
  * at once, boundary hits run the exact refinement. No row is multiplied, no
  * hash table is built and the points side never shuffles. Both execs run
  * inside whole-stage codegen, fused with the points scan and the operator
  * above: the generated code hands lat/lon to the probe as primitives and
  * emits each accepted region through the parent's `consume`, so columns
  * the probe does not read are computed only for matched rows.
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

/** `child`'s rows plus their `covering` as `coveringAttr`: a projection the
  * optimizer does not know, so no rule folds it into a local relation (which
  * evaluates it on the driver, one row after another). It plans as a
  * `ProjectExec`, evaluated in the tasks of the job that reads `child`. */
case class S2TableCoveringPlan(child: LogicalPlan,
                               covering: Expression,
                               coveringAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ coveringAttr
  override def producedAttributes: AttributeSet = AttributeSet(coveringAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): S2TableCoveringPlan =
    copy(child = newChild)
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

  /** The (cell, region) entries: the covering cells summed over regions. */
  def numEntries: Int = postings.map(_.length).sum

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

    /** Sorts the cell ids once (a cell id encodes its level, so cells of
      * different levels never compare equal), splits the distinct ones by
      * level and fills each level's postings by counting, in entry order.
      * Primitive arrays throughout. */
    def build(): CellTable = {
      val sorted = java.util.Arrays.copyOf(cells, n)
      java.util.Arrays.sort(sorted)
      var d = 0
      var i = 0
      while (i < n) {
        if (d == 0 || sorted(d - 1) != sorted(i)) { sorted(d) = sorted(i); d += 1 }
        i += 1
      }
      val perLevel = new Array[Int](S2CellId.MaxLevel + 1)
      i = 0
      while (i < d) { perLevel(S2CellId.level(sorted(i))) += 1; i += 1 }
      val levels = perLevel.indices.filter(perLevel(_) > 0).toArray
      val levelIndex = new Array[Int](S2CellId.MaxLevel + 1)
      for (l <- levels.indices) levelIndex(levels(l)) = l
      val keys = levels.map(l => new Array[Long](perLevel(l)))
      val fill = new Array[Int](levels.length)
      i = 0
      while (i < d) {
        val l = levelIndex(S2CellId.level(sorted(i)))
        keys(l)(fill(l)) = sorted(i)
        fill(l) += 1
        i += 1
      }
      val offsets = keys.map(k => new Array[Int](k.length + 1))
      val level = new Array[Int](n)
      val slot = new Array[Int](n)
      i = 0
      while (i < n) {
        val l = levelIndex(S2CellId.level(cells(i)))
        val s = java.util.Arrays.binarySearch(keys(l), cells(i))
        level(i) = l
        slot(i) = s
        offsets(l)(s + 1) += 1
        i += 1
      }
      for (off <- offsets) {
        var s = 0
        while (s < off.length - 1) { off(s + 1) += off(s); s += 1 }
      }
      val postings = offsets.map(off => new Array[Int](off.last))
      val next = offsets.map(_.clone())
      i = 0
      while (i < n) {
        val l = level(i)
        postings(l)(next(l)(slot(i))) = entries(i)
        next(l)(slot(i)) += 1
        i += 1
      }
      new CellTable(levels, keys, offsets, postings)
    }
  }
}

/** One task's regions behind a [[CellTable]]: the one-column row each
  * region emits as `region_id` and its exact shape. Shapes are built on the
  * first boundary hit and kept for the task only: they cache lazy state, so
  * they are never shared across threads. */
final class ProbeRegions(val table: CellTable, idRows: Array[InternalRow],
                         shape: Int => S2Region) {
  private val shapes = new Array[S2Region](idRows.length)

  def idRow(region: Int): InternalRow = idRows(region)

  def contains(region: Int, p: S2Point, lat: Double, lon: Double): Boolean = {
    if (shapes(region) == null) shapes(region) = shape(region)
    SpatialJoin.regionContains(shapes(region), p, lat, lon)
  }
}

/** [[SpatialJoin.pipJoin]]'s regions: each covered on the driver
  * ([[SpatialJoin.coverRegions]]) into one [[CellTable]], shipped with the
  * region ids and shapes in the task closure (small: <= regions x maxCells
  * cells). */
final class DriverRegions(regions: Seq[(String, S2Region)], maxCells: Int) extends Serializable {
  private val ids: Array[String] = regions.map(_._1).toArray
  private val shapes: Array[S2Region] = regions.map(_._2).toArray
  private val t0 = System.nanoTime()
  val table: CellTable = {
    val b = new CellTable.Entries
    for (((id, region), r) <- regions.zipWithIndex;
         c <- SpatialJoin.coverRegions(Seq(id -> region), maxCells))
      b.add(r, c.cell, c.interior)
    b.build()
  }
  /** Driver time to cover the regions and build [[table]]. */
  val buildMs: Long = (System.nanoTime() - t0) / 1000000

  /** The probe's view for one task, on the task's own deserialized copy. */
  def forTask(): ProbeRegions =
    new ProbeRegions(table,
      ids.map(id => new GenericInternalRow(Array[Any](UTF8String.fromString(id)))), shapes(_))

  override def toString: String = s"${ids.length} regions, ${table.numCells} cells"
}

/** The one probe loop, one instance per task: both execs, with and without
  * whole-stage codegen, call [[accept]] once per points row and read the
  * accepted regions' ids through [[idRow]]. The counters live in fields and
  * reach the SQL metrics once, when the task completes. */
final class PipProbe private[plans] (regions: ProbeRegions, metrics: Map[String, SQLMetric]) {
  private val table = regions.table
  private val found = new Array[Int](table.maxHits)
  private var rowsIn = 0L
  private var cellHits = 0L
  private var interiorAccepts = 0L
  private var refinements = 0L
  private var refineRejects = 0L
  private var numOutput = 0L

  /** Skips a NULL (`isNull`) or non-finite (NaN, +-Inf) coordinate, encodes
    * the leaf once, probes the table, accepts interior hits, refines boundary
    * hits, and orders the accepted regions by region index. Returns how many
    * regions contain the point; [[idRow]] gives the k-th of them. */
  def accept(isNull: Boolean, lat: Double, lon: Double): Int = {
    rowsIn += 1
    if (isNull || !java.lang.Double.isFinite(lat) || !java.lang.Double.isFinite(lon)) return 0
    // one point feeds the leaf encode and every point-based refine
    // (S2CellId.fromLatLngDegrees does the same arithmetic)
    val p = S2LatLng.fromDegrees(lat, lon).toPoint
    val hits = table.probe(S2CellId.fromPoint(p), found)
    cellHits += hits
    var n = 0
    var i = 0
    while (i < hits) {
      val region = found(i) & Int.MaxValue
      val ok =
        if (found(i) < 0) { interiorAccepts += 1; true }
        else {
          refinements += 1
          val in = regions.contains(region, p, lat, lon)
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
    numOutput += n
    n
  }

  /** The `region_id` row of the k-th region the last [[accept]] returned. */
  def idRow(k: Int): InternalRow = regions.idRow(found(k))

  private[plans] def flush(): Unit = {
    metrics("numInputRows") += rowsIn
    metrics("cellHits") += cellHits
    metrics("interiorAccepts") += interiorAccepts
    metrics("refinements") += refinements
    metrics("refineRejects") += refineRejects
    metrics("numOutputRows") += numOutput
  }
}

/** How each task opens its [[PipProbe]]: it travels in the task closure (or
  * in the generated code's references), so `regions` must not capture an
  * exec node. `regions` may add to the `coveringCells` and `tableBuildTime`
  * metrics it is given. */
final class PipProbeSource(regions: Map[String, SQLMetric] => ProbeRegions,
                           metrics: Map[String, SQLMetric]) extends Serializable {
  def open(): PipProbe = {
    val probe = new PipProbe(regions(metrics), metrics)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => probe.flush()))
    probe
  }
}

/** What the two PIP execs share: the SQL metrics, the whole-stage codegen
  * path and the interpreted fallback, both over [[PipProbe]]. */
trait S2PipProbeExec extends SparkPlan with CodegenSupport {
  def streamed: SparkPlan
  def latExpr: Expression
  def lonExpr: Expression

  /** Driver side, once per execution: what each task opens. */
  protected def probeSource(): PipProbeSource

  /** Each (points row, region) posting a probe returns is a cell hit, and
    * is an interior accept or an exact refinement; each refinement passes
    * or is a reject. So cellHits = interiorAccepts + refinements and
    * numOutputRows = interiorAccepts + refinements - refineRejects.
    * numInputRows counts every points row, NULL and non-finite ones too;
    * coveringCells counts the (cell, region) entries of the [[CellTable]]
    * and tableBuildTime the time to build it: on the driver, covering
    * included, for [[S2PipJoinExec]]; per executor, from the broadcast
    * coverings, for [[S2PolygonTableJoinExec]]. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "cellHits" -> SQLMetrics.createMetric(sparkContext, "number of cell hits"),
    "interiorAccepts" -> SQLMetrics.createMetric(sparkContext, "number of interior accepts"),
    "refinements" -> SQLMetrics.createMetric(sparkContext, "number of exact refinements"),
    "refineRejects" -> SQLMetrics.createMetric(sparkContext, "number of refine rejects"),
    "coveringCells" -> SQLMetrics.createMetric(sparkContext, "number of covering cells"),
    "tableBuildTime" -> SQLMetrics.createTimingMetric(sparkContext, "table build time"))

  override def producedAttributes: AttributeSet = AttributeSet(output.last)
  override def outputPartitioning: Partitioning = streamed.outputPartitioning

  // ---- whole-stage codegen: fused with the points side and the parent ----

  /** Only the coordinates are read per row; the other points columns are
    * computed where the parent reads them, for matched rows only. */
  override def usedInputs: AttributeSet = latExpr.references ++ lonExpr.references
  // a row can emit several output rows before the parent consumes them
  override def needCopyResult: Boolean = true
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    streamed.asInstanceOf[CodegenSupport].inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String =
    streamed.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val source = ctx.addReferenceObj("pipProbeSource", probeSource())
    val probe = ctx.addMutableState(classOf[PipProbe].getName, "pipProbe",
      v => s"$v = $source.open();", forceInline = true)
    ctx.currentVars = input
    val lat = BindReferences.bindReference(latExpr, streamed.output).genCode(ctx)
    val lon = BindReferences.bindReference(lonExpr, streamed.output).genCode(ctx)
    val n = ctx.freshName("regions")
    val k = ctx.freshName("k")
    val idRow = ctx.freshName("idRow")
    ctx.currentVars = null
    ctx.INPUT_ROW = idRow
    val regionId = BoundReference(0, output.last.dataType, output.last.nullable).genCode(ctx)
    s"""
       |${lat.code}
       |${lon.code}
       |int $n = $probe.accept(${lat.isNull} || ${lon.isNull}, ${lat.value}, ${lon.value});
       |for (int $k = 0; $k < $n; $k++) {
       |  InternalRow $idRow = $probe.idRow($k);
       |  ${consume(ctx, input :+ regionId)}
       |}
     """.stripMargin
  }

  // ---- interpreted fallback (whole-stage codegen off or failed) ----

  override protected def doExecute(): RDD[InternalRow] = {
    val source = probeSource()
    val lat = latExpr
    val lon = lonExpr
    val childOutput = streamed.output
    val outAttrs = output
    streamed.execute().mapPartitions({ input =>
      val probe = source.open()
      val latEval = BindReferences.bindReference(lat, childOutput)
      val lonEval = BindReferences.bindReference(lon, childOutput)
      val proj = UnsafeProjection.create(outAttrs, childOutput :+ outAttrs.last)
      val joined = new JoinedRow
      input.flatMap { r =>
        val la = latEval.eval(r)
        val lo = lonEval.eval(r)
        val n =
          if (la == null || lo == null) probe.accept(isNull = true, 0.0, 0.0)
          else probe.accept(isNull = false, la.asInstanceOf[Double], lo.asInstanceOf[Double])
        Iterator.tabulate(n)(k => proj(joined(r, probe.idRow(k))))
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

  /** The covering ran on the driver: its cells and time are driver metrics. */
  override protected def probeSource(): PipProbeSource = {
    metrics("coveringCells").set(regions.table.numEntries.toLong)
    metrics("tableBuildTime").set(regions.buildMs)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(metrics("coveringCells"), metrics("tableBuildTime")))
    val r = regions
    new PipProbeSource(_ => r.forTask(), metrics)
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

  override protected def probeSource(): PipProbeSource = {
    val rows = right.executeBroadcast[Array[InternalRow]]()
    val ordinals = table.map(a => right.output.indexWhere(_.exprId == a.exprId))
    require(!ordinals.contains(-1), s"table columns $table not in ${right.output}")
    val idType = table.head.dataType
    val multiLoop = table(1).dataType match {
      case ArrayType(_: ArrayType, _) => true
      case _ => false
    }
    new PipProbeSource(m => S2PolygonTableJoinExec.regions(rows, ordinals, idType, multiLoop, m),
      metrics)
  }
}

object S2PolygonTableJoinExec {
  /** Each executor builds the [[CellTable]] and id rows of a broadcast table
    * once and its tasks share them (both are immutable); only the refine
    * shapes are per task. Keyed weakly by the broadcast value, so an entry
    * goes when the broadcast does; a value not seen before is built anew. */
  private val built =
    new java.util.WeakHashMap[Array[InternalRow], (Seq[Int], CellTable, Array[InternalRow])]

  /** One task's [[ProbeRegions]] over the broadcast table rows (columns at
    * `ordinals`: id, lats, lons, covering): one region per row, so
    * duplicate and NULL ids each keep their own entry, and a row with a
    * NULL covering never matches. The executor that builds the table adds
    * its entries to `coveringCells` and its build time to `tableBuildTime`. */
  private def regions(rows: Broadcast[Array[InternalRow]], ordinals: Seq[Int],
                      idType: DataType, multiLoop: Boolean,
                      metrics: Map[String, SQLMetric]): ProbeRegions = {
    val Seq(id, lats, lons, covering) = ordinals
    val table = rows.value
    val (cells, idRows) = built.synchronized {
      val hit = built.get(table)
      if (hit != null && hit._1 == ordinals) (hit._2, hit._3)
      else {
        val t0 = System.nanoTime()
        val b = new CellTable.Entries
        for (r <- table.indices if !table(r).isNullAt(covering)) {
          val cs = table(r).getArray(covering)
          for (j <- 0 until cs.numElements()) {
            val c = cs.getStruct(j, 2)
            b.add(r, c.getLong(0), c.getBoolean(1))
          }
        }
        val cells = b.build()
        val idRows: Array[InternalRow] = table.map(row =>
          new GenericInternalRow(Array[Any](if (row.isNullAt(id)) null else row.get(id, idType))))
        metrics("coveringCells") += cells.numEntries
        metrics("tableBuildTime") += (System.nanoTime() - t0) / 1000000
        built.put(table, (ordinals, cells, idRows))
        (cells, idRows)
      }
    }
    val shape: Int => S2Region = r => {
      val row = table(r)
      if (multiLoop)
        PolygonCache.build(Vertices.loops(row.getArray(lats)), Vertices.loops(row.getArray(lons)))
      else LoopCache.build(Vertices(row.getArray(lats)), Vertices(row.getArray(lons)))
    }
    new ProbeRegions(cells, idRows, shape)
  }
}

/** Plans [[S2PipJoinPlan]], [[S2PolygonTableJoinPlan]] and
  * [[S2TableCoveringPlan]]; registered on the session's
  * `spark.experimental.extraStrategies` by [[S2PipJoin]]. */
object S2PipJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: S2PipJoinPlan =>
      S2PipJoinExec(planLater(p.child), p.regions, p.latExpr, p.lonExpr, p.output) :: Nil
    case p: S2PolygonTableJoinPlan =>
      S2PolygonTableJoinExec(planLater(p.left), planLater(p.right), p.latExpr, p.lonExpr,
        p.table, p.output) :: Nil
    case p: S2TableCoveringPlan =>
      val a = p.coveringAttr
      ProjectExec(p.child.output :+ Alias(p.covering, a.name)(exprId = a.exprId),
        planLater(p.child)) :: Nil
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
    * row). The vertex columns (`array<_>` for one loop, `array<array<_>>`
    * for a polygon's loops) are cast to double elements, as the covering and
    * containment expressions cast them; `covering` builds the per-row
    * `array<struct<cell, interior>>` from those cast columns, so the refine
    * reads the vertices the covering used. The covering is an
    * [[S2TableCoveringPlan]] over the table, so it runs in the broadcast-side
    * job's tasks. */
  private[graft] def planTable(points: DataFrame, latCol: String, lonCol: String,
                               polys: DataFrame, idCol: String,
                               latsCol: String, lonsCol: String,
                               covering: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val logical = points.queryExecution.analyzed
    val vertices = polys.select(col(latsCol)).schema.head.dataType match {
      case ArrayType(_: ArrayType, _) => ArrayType(ArrayType(DoubleType))
      case _ => ArrayType(DoubleType)
    }
    // every caller reserves __rlats/__rlons
    val covered = polys.select(col(idCol), col(latsCol).cast(vertices).as("__rlats"),
        col(lonsCol).cast(vertices).as("__rlons"))
      .select(covering(col("__rlats"), col("__rlons")).as("covering"))
      .queryExecution.analyzed.asInstanceOf[Project]
    val coveringExpr = covered.projectList.head.asInstanceOf[Alias].child
    val table = S2TableCoveringPlan(covered.child, coveringExpr,
      AttributeReference("covering", coveringExpr.dataType, coveringExpr.nullable)())
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
