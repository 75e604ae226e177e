package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.Base64

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.operators.SpatialJoin
import graft.s2.S2Region

/** Serialized-region codec: regions travel through the expression tree as
  * base64 string literals and deserialize once per executor. */
object RegionCodec {
  def encode(region: S2Region): String = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(region)
    oos.close()
    Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, S2Region]()

  def decode(encoded: String): S2Region =
    cache.computeIfAbsent(encoded, { e =>
      val ois = new ObjectInputStream(new ByteArrayInputStream(Base64.getDecoder.decode(e)))
      ois.readObject().asInstanceOf[S2Region]
    })
}

/** `s2_region_contains(regionLiteral, latDeg, lonDeg)`: exact containment of
  * a point in a serialized region — the predicate form of the PIP refinement.
  * `boundsPushed` marks that [[PushS2RegionBounds]] already injected the
  * region's rect-bound conjuncts around this predicate. */
case class S2RegionContains(first: Expression, second: Expression, third: Expression,
                            boundsPushed: Boolean = false)
    extends TernaryExpression with CodegenFallback with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType

  @transient private lazy val region: S2Region =
    RegionCodec.decode(first.eval(null).asInstanceOf[UTF8String].toString)

  override protected def nullSafeEval(enc: Any, lat: Any, lon: Any): Any =
    SpatialJoin.regionContains(region, lat.asInstanceOf[Double], lon.asInstanceOf[Double])

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): S2RegionContains =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "s2_region_contains"
}

/** Optimizer rule: for every `s2_region_contains(region, lat, lon)` filter
  * predicate, conjoin the region's latitude/longitude rect bounds as plain
  * comparisons on the lat/lon columns. Catalyst then pushes those conjuncts
  * into the parquet scan (`PushedFilters`) where row-group min/max stats
  * prune — the declarative analogue of the reference's bounding-rect quick
  * reject (`S2Loop.cs:796-799`). */
object PushS2RegionBounds extends Rule[LogicalPlan] {

  private def boundsFor(rc: S2RegionContains): Option[Expression] = {
    val enc = rc.first match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => return None
    }
    val bound = RegionCodec.decode(enc).rectBound
    Some(if (bound.isEmpty) Literal(false) else SpatialJoin.boundBand(bound, rc.second, rc.third))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(condition, child) if condition.exists {
          case rc: S2RegionContains => !rc.boundsPushed
          case _ => false
        } =>
      val newCond = condition.transform {
        case rc: S2RegionContains if !rc.boundsPushed =>
          boundsFor(rc) match {
            case Some(b) => And(b, rc.copy(boundsPushed = true))
            case None => rc.copy(boundsPushed = true)
          }
      }
      Filter(newCond, child)
  }
}

/** Session extensions: SQL registration for every s2_* function
  * ([[s2functions.sqlFunctions]]) plus the spatial-predicate pushdown rule.
  * Activate with `spark.sql.extensions=graft.plans.S2Extensions` or
  * `S2Extensions.install(spark)` post-hoc. */
class S2Extensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (f <- s2functions.sqlFunctions) ext.injectFunction(f)
    ext.injectOptimizerRule(_ => PushS2RegionBounds)
  }
}

object S2Extensions {
  /** Column-API entry: `where(st_contains(region, col("lat"), col("lon")))`. */
  def st_contains(region: S2Region, latDeg: Column, lonDeg: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(S2RegionContains(
      Literal(UTF8String.fromString(RegionCodec.encode(region)), StringType),
      ColumnBridge.expression(latDeg), ColumnBridge.expression(lonDeg)))
  }

  /** Post-hoc install on an existing session: registers the SQL functions
    * ([[s2functions.registerAll]]) and adds the optimizer rule once. */
  def install(spark: SparkSession): Unit = {
    s2functions.registerAll(spark)
    if (!spark.sessionState.optimizer.preCBORules.contains(PushS2RegionBounds)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushS2RegionBounds
    }
  }
}
