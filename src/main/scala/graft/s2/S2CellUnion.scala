package graft.s2

import scala.collection.mutable.ArrayBuffer

/** A region represented as a sorted, normalized set of cell ids
  * (`OpenSky.S2Geometry/S2CellUnion.cs`). All ordering is *unsigned* on the
  * raw 64-bit ids. Engine-side, the exploded `(region_id, cell_id)` form of
  * this type is the build side of the covering join.
  */
final class S2CellUnion private (private val ids: ArrayBuffer[Long]) extends S2Region with Serializable {

  def size: Int = ids.length
  def cellId(i: Int): Long = ids(i)
  def cellIds: IndexedSeq[Long] = ids.toIndexedSeq

  /** Number of leaf cells covered (`S2CellUnion.cs:39-52`). */
  def leafCellsCovered: Long = {
    var numLeaves = 0L
    for (id <- ids) {
      val invertedLevel = S2CellId.MaxLevel - S2CellId.level(id)
      numLeaves += 1L << (invertedLevel << 1)
    }
    numLeaves
  }

  def averageBasedArea: Double =
    S2Projections.AvgArea.getValue(S2CellId.MaxLevel) * leafCellsCovered.toDouble

  def approxArea: Double = ids.iterator.map(id => S2Cell(id).approxArea).sum
  def exactArea: Double = ids.iterator.map(id => S2Cell(id).exactArea).sum

  private def binarySearch(key: Long): Int = {
    // unsigned lower-bound style search matching List<S2CellId>.BinarySearch
    var low = 0
    var high = ids.length - 1
    while (low <= high) {
      val mid = (low + high) >>> 1
      val cmp = java.lang.Long.compareUnsigned(ids(mid), key)
      if (cmp < 0) low = mid + 1
      else if (cmp > 0) high = mid - 1
      else return mid
    }
    -low - 1
  }

  /** Exact containment by binary search on the Hilbert span
    * (`S2CellUnion.cs:348-368`); requires normalized ids. */
  def contains(id: Long): Boolean = {
    var pos = binarySearch(id)
    if (pos < 0) pos = -pos - 1
    if (pos < ids.length &&
        java.lang.Long.compareUnsigned(S2CellId.rangeMin(ids(pos)), id) <= 0) return true
    pos != 0 && java.lang.Long.compareUnsigned(S2CellId.rangeMax(ids(pos - 1)), id) >= 0
  }

  def intersects(id: Long): Boolean = {
    var pos = binarySearch(id)
    if (pos < 0) pos = -pos - 1
    if (pos < ids.length &&
        java.lang.Long.compareUnsigned(S2CellId.rangeMin(ids(pos)), S2CellId.rangeMax(id)) <= 0) return true
    pos != 0 && java.lang.Long.compareUnsigned(S2CellId.rangeMax(ids(pos - 1)), S2CellId.rangeMin(id)) >= 0
  }

  def contains(that: S2CellUnion): Boolean = that.ids.forall(contains)
  def intersects(that: S2CellUnion): Boolean = that.ids.exists(intersects)

  def contains(p: S2Point): Boolean = contains(S2CellId.fromPoint(p))

  // --- S2Region ---
  def containsCell(cell: S2Cell): Boolean = contains(cell.id)
  def mayIntersectCell(cell: S2Cell): Boolean = intersects(cell.id)

  def capBound: S2Cap = {
    if (ids.isEmpty) return S2Cap.Empty
    var centroid = S2Point.Zero
    for (id <- ids) {
      val area = S2Projections.AvgArea.getValue(S2CellId.level(id))
      centroid = centroid + (S2CellId.toPoint(id) * area)
    }
    centroid = if (centroid == S2Point.Zero) S2Point(1, 0, 0) else S2Point.normalize(centroid)
    var cap = S2Cap.fromAxisHeight(centroid, 0)
    for (id <- ids) cap = cap.addCap(S2Cell(id).capBound)
    cap
  }

  def rectBound: S2LatLngRect = {
    var bound = S2LatLngRect.Empty
    for (id <- ids) bound = bound.union(S2Cell(id).rectBound)
    bound
  }

  /** Expand so all level-`level` cells adjacent to the union are included
    * (`S2CellUnion.cs:593-621`). */
  def expand(level: Int): S2CellUnion = {
    val output = ArrayBuffer.empty[Long]
    val levelLsb = S2CellId.lowestOnBitForLevel(level)
    var i = size - 1
    while (i >= 0) {
      var id = cellId(i)
      if (java.lang.Long.compareUnsigned(S2CellId.lowestOnBit(id), levelLsb) < 0) {
        id = S2CellId.parentForLevel(id, level)
        while (i > 0 && S2CellId.contains(id, cellId(i - 1))) i -= 1
      }
      output += id
      output ++= S2CellId.allNeighbors(id, level)
      i -= 1
    }
    S2CellUnion.normalized(output)
  }

  /** Expand by a minimum spherical radius (`S2CellUnion.cs:636-648`). */
  def expand(minRadiusRadians: Double, maxLevelDiff: Int): S2CellUnion = {
    var minLevel = S2CellId.MaxLevel
    for (id <- ids) minLevel = math.min(minLevel, S2CellId.level(id))
    val radiusLevel = S2Projections.MinWidth.getMaxLevel(minRadiusRadians)
    var u = this
    if (radiusLevel == 0 && minRadiusRadians > S2Projections.MinWidth.getValue(0)) {
      u = u.expand(0)
    }
    u.expand(math.min(minLevel + maxLevelDiff, radiusLevel))
  }

  /** Sorted-merge union (`S2CellUnion.cs:455-460`). */
  def union(y: S2CellUnion): S2CellUnion =
    S2CellUnion.normalized(ids ++ y.ids)

  /** Intersection with a single cell: the contained sub-span
    * (`S2CellUnion.cs:467-487`). */
  def intersection(id: Long): S2CellUnion = {
    val out = ArrayBuffer.empty[Long]
    if (contains(id)) out += id
    else {
      var pos = binarySearch(S2CellId.rangeMin(id))
      if (pos < 0) pos = -pos - 1
      val idmax = S2CellId.rangeMax(id)
      while (pos < ids.length && java.lang.Long.compareUnsigned(ids(pos), idmax) <= 0) {
        out += ids(pos)
        pos += 1
      }
    }
    new S2CellUnion(out)
  }

  /** Sort-merge intersection with binary-search skipping
    * (`S2CellUnion.cs:494-544`). */
  def intersection(y: S2CellUnion): S2CellUnion = {
    val x = this
    val out = ArrayBuffer.empty[Long]
    var i = 0
    var j = 0
    def ult(a: Long, b: Long) = java.lang.Long.compareUnsigned(a, b) < 0
    def ule(a: Long, b: Long) = java.lang.Long.compareUnsigned(a, b) <= 0
    while (i < x.ids.length && j < y.ids.length) {
      val imin = S2CellId.rangeMin(x.cellId(i))
      val jmin = S2CellId.rangeMin(y.cellId(j))
      if (ult(jmin, imin)) {
        if (ule(x.cellId(i), S2CellId.rangeMax(y.cellId(j)))) {
          out += x.cellId(i); i += 1
        } else {
          j = S2CellUnion.indexedBinarySearch(y.ids, imin, j + 1)
          if (ule(x.cellId(i), S2CellId.rangeMax(y.cellId(j - 1)))) j -= 1
        }
      } else if (ult(imin, jmin)) {
        if (ule(y.cellId(j), S2CellId.rangeMax(x.cellId(i)))) {
          out += y.cellId(j); j += 1
        } else {
          i = S2CellUnion.indexedBinarySearch(x.ids, jmin, i + 1)
          if (ule(y.cellId(j), S2CellId.rangeMax(x.cellId(i - 1)))) i -= 1
        }
      } else {
        if (ult(x.cellId(i), y.cellId(j))) { out += x.cellId(i); i += 1 }
        else { out += y.cellId(j); j += 1 }
      }
    }
    new S2CellUnion(out)
  }

  /** Re-expand to satisfy minLevel/levelMod constraints
    * (`S2CellUnion.cs:297-327`). */
  def denormalize(minLevel: Int, levelMod: Int): IndexedSeq[Long] = {
    val output = ArrayBuffer.empty[Long]
    for (id <- ids) {
      val level = S2CellId.level(id)
      var newLevel = math.max(minLevel, level)
      if (levelMod > 1) {
        newLevel += (S2CellId.MaxLevel - (newLevel - minLevel)) % levelMod
        newLevel = math.min(S2CellId.MaxLevel, newLevel)
      }
      if (newLevel == level) output += id
      else {
        val end = S2CellId.childEndForLevel(id, newLevel)
        var inner = S2CellId.childBeginForLevel(id, newLevel)
        while (inner != end) {
          output += inner
          inner = S2CellId.next(inner)
        }
      }
    }
    output.toIndexedSeq
  }

  override def equals(obj: Any): Boolean = obj match {
    case o: S2CellUnion => ids == o.ids
    case _ => false
  }
  override def hashCode: Int = ids.hashCode
  override def toString: String = ids.map(S2CellId.toToken).mkString("S2CellUnion(", ",", ")")
}

object S2CellUnion {

  /** Build from raw ids, normalizing (sort unsigned, drop contained cells,
    * merge complete sibling groups into parents; `S2CellUnion.cs:689-755`). */
  def normalized(rawIds: Iterable[Long]): S2CellUnion = {
    // unsigned sort: flip the sign bit, sort signed, flip back
    val buf = rawIds.toArray.map(_ ^ Long.MinValue)
    java.util.Arrays.sort(buf)
    var k = 0
    while (k < buf.length) { buf(k) ^= Long.MinValue; k += 1 }
    val output = ArrayBuffer.empty[Long]
    for (idIn <- buf) {
      var id = idIn
      var continue = false
      if (output.nonEmpty && S2CellId.contains(output.last, id)) continue = true
      if (!continue) {
        while (output.nonEmpty && S2CellId.contains(id, output.last)) output.remove(output.length - 1)
        var merging = true
        while (merging && output.length >= 3) {
          val sze = output.length
          if ((output(sze - 3) ^ output(sze - 2) ^ output(sze - 1)) != id) merging = false
          else {
            var mask = S2CellId.lowestOnBit(id) << 1
            mask = ~(mask + (mask << 1))
            val idMasked = id & mask
            if ((output(sze - 3) & mask) != idMasked ||
                (output(sze - 2) & mask) != idMasked ||
                (output(sze - 1) & mask) != idMasked ||
                S2CellId.isFace(id)) merging = false
            else {
              output.remove(sze - 1)
              output.remove(sze - 2)
              output.remove(sze - 3)
              id = S2CellId.parent(id)
            }
          }
        }
        output += id
      }
    }
    new S2CellUnion(output)
  }

  def empty: S2CellUnion = new S2CellUnion(ArrayBuffer.empty)

  private[s2] def indexedBinarySearch(list: ArrayBuffer[Long], key: Long, low0: Int): Int = {
    var low = low0
    var high = list.length - 1
    while (low <= high) {
      val mid = (low + high) >> 1
      val cmp = java.lang.Long.compareUnsigned(list(mid), key)
      if (cmp < 0) low = mid + 1
      else if (cmp > 0) high = mid - 1
      else return mid
    }
    low
  }
}
