package graft.s2

/** S2 cell id kernel: 64-bit Hilbert-curve cell identifiers.
  *
  * An id packs a 3-bit cube face and a 61-bit Hilbert-curve position; the
  * level is encoded by the lowest set bit (`OpenSky.S2Geometry/S2CellId.cs:8-48`).
  * All operations here are static functions over a plain `Long` so that
  * Catalyst expressions can call them from generated code; the ids use
  * *unsigned* 64-bit semantics (C# `ulong`), i.e. ordering comparisons must go
  * through [[java.lang.Long.compareUnsigned]].
  *
  * The 4-bit Hilbert lookup tables and all bit math replicate the reference
  * exactly (`S2CellId.cs:74-131,873-1009,1107-1130`) so ids, tokens and
  * traversal order are bit-for-bit identical.
  */
object S2CellId {
  final val FaceBits = 3
  final val NumFaces = 6
  final val MaxLevel = 30
  final val PosBits: Int = 2 * MaxLevel + 1 // 61
  final val MaxSize: Int = 1 << MaxLevel
  final val WrapOffset: Long = NumFaces.toLong << PosBits

  final val None: Long = 0L
  final val Sentinel: Long = -1L // ~0UL: largest possible unsigned id

  private final val LookupBits = 4
  private final val SwapMask = 0x01
  private final val InvertMask = 0x02

  /** Hilbert traversal order -> orientation-adjust mask (`S2.cs:48-49`). */
  private val PosToOrientationTable = Array(SwapMask, 0, 0, InvertMask + SwapMask)

  /** orientation x traversal position -> ij index (`S2.cs:67-74`). */
  private val PosToIjTable: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2),
    Array(0, 2, 3, 1),
    Array(3, 2, 0, 1),
    Array(3, 1, 0, 2)
  )

  def posToOrientation(position: Int): Int = PosToOrientationTable(position)
  def posToIj(orientation: Int, position: Int): Int = PosToIjTable(orientation)(position)

  // 4-level lookup tables: 10-bit key "iiiijjjjoo" <-> "ppppppppoo"
  // (`S2CellId.cs:52-80,1107-1130`).
  private val LookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val LookupIj = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookupCell(level: Int, i: Int, j: Int, origOrientation: Int,
                             pos: Int, orientation: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      LookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
      LookupIj((pos << 2) + origOrientation) = (ij << 2) + orientation
    } else {
      val l = level + 1; val i2 = i << 1; val j2 = j << 1; val p2 = pos << 2
      var subPos = 0
      while (subPos < 4) {
        val ij = posToIj(orientation, subPos)
        val mask = posToOrientation(subPos)
        initLookupCell(l, i2 + (ij >> 1), j2 + (ij & 1), origOrientation, p2 + subPos,
          orientation ^ mask)
        subPos += 1
      }
    }
  }

  initLookupCell(0, 0, 0, 0, 0, 0)
  initLookupCell(0, 0, 0, SwapMask, 0, SwapMask)
  initLookupCell(0, 0, 0, InvertMask, 0, InvertMask)
  initLookupCell(0, 0, 0, SwapMask | InvertMask, 0, SwapMask | InvertMask)

  // ---------------------------------------------------------------------------
  // Introspection (`S2CellId.cs:144-242,333-336,487-490`)
  // ---------------------------------------------------------------------------
  @inline def face(id: Long): Int = (id >>> PosBits).toInt

  @inline def position(id: Long): Long = id & (-1L >>> FaceBits)

  @inline def isLeaf(id: Long): Boolean = (id & 1L) != 0

  @inline def lowestOnBit(id: Long): Long = id & -id

  @inline def lowestOnBitForLevel(level: Int): Long = 1L << (2 * (MaxLevel - level))

  def isFace(id: Long): Boolean = (id & (lowestOnBitForLevel(0) - 1)) == 0

  def isValid(id: Long): Boolean =
    face(id) < NumFaces && (lowestOnBit(id) & 0x1555555555555555L) != 0

  /** Level from the position of the lowest set bit; valid ids only. */
  def level(id: Long): Int =
    if ((id & 1L) != 0) MaxLevel
    else MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  @inline def rangeMin(id: Long): Long = id - (lowestOnBit(id) - 1)
  @inline def rangeMax(id: Long): Long = id + (lowestOnBit(id) - 1)

  def contains(id: Long, other: Long): Boolean =
    java.lang.Long.compareUnsigned(other, rangeMin(id)) >= 0 &&
      java.lang.Long.compareUnsigned(other, rangeMax(id)) <= 0

  def intersects(id: Long, other: Long): Boolean =
    java.lang.Long.compareUnsigned(rangeMin(other), rangeMax(id)) <= 0 &&
      java.lang.Long.compareUnsigned(rangeMax(other), rangeMin(id)) >= 0

  // ---------------------------------------------------------------------------
  // Level navigation (`S2CellId.cs:244-331,527-551`)
  // ---------------------------------------------------------------------------
  def parent(id: Long): Long = {
    val newLsb = lowestOnBit(id) << 2
    (id & -newLsb) | newLsb
  }

  def parentForLevel(id: Long, level: Int): Long = {
    val newLsb = lowestOnBitForLevel(level)
    (id & -newLsb) | newLsb
  }

  def child(id: Long, pos: Int): Long = {
    val newLsb = lowestOnBit(id) >>> 2
    id + (2 * pos + 1 - 4).toLong * newLsb
  }

  def childBegin(id: Long): Long = { val lsb = lowestOnBit(id); id - lsb + (lsb >>> 2) }

  def childBeginForLevel(id: Long, level: Int): Long =
    id - lowestOnBit(id) + lowestOnBitForLevel(level)

  def childEndForLevel(id: Long, level: Int): Long =
    id + lowestOnBit(id) + lowestOnBitForLevel(level)

  def next(id: Long): Long = id + (lowestOnBit(id) << 1)
  def prev(id: Long): Long = id - (lowestOnBit(id) << 1)

  def nextWithWrap(id: Long): Long = {
    val n = next(id)
    if (java.lang.Long.compareUnsigned(n, WrapOffset) < 0) n else n - WrapOffset
  }

  def prevWithWrap(id: Long): Long = {
    val p = prev(id)
    if (java.lang.Long.compareUnsigned(p, WrapOffset) < 0) p else p + WrapOffset
  }

  def childPosition(id: Long, level: Int): Int =
    ((id >>> (2 * (MaxLevel - level) + 1)) & 3L).toInt

  def fromFacePosLevel(face: Int, pos: Long, level: Int): Long =
    parentForLevel((face.toLong << PosBits) + (pos | 1L), level)

  def begin(level: Int): Long = childBeginForLevel(fromFacePosLevel(0, 0, 0), level)
  def end(level: Int): Long = childEndForLevel(fromFacePosLevel(5, 0, 0), level)

  // ---------------------------------------------------------------------------
  // Hilbert encode: (face,i,j) -> id (`S2CellId.cs:873-922`)
  // ---------------------------------------------------------------------------
  def fromFaceIj(face: Int, i: Int, j: Int): Long = {
    var n = face.toLong << (PosBits - 1)
    var bits = face & SwapMask
    val mask = (1 << LookupBits) - 1
    var k = 7
    while (k >= 0) {
      bits += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >> (k * LookupBits)) & mask) << 2
      bits = LookupPos(bits)
      n |= (bits >> 2).toLong << (k * 2 * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  /** i- or j-index of the leaf cell containing the given s- or t-value, using
    * round-half-even like the reference (`S2CellId.cs:1031-1040`). */
  @inline def stToIj(s: Double): Int = {
    val m = MaxSize / 2
    math.max(0, math.min(2L * m - 1, math.rint(m * s + (m - 0.5)).toLong)).toInt
  }

  /** Leaf cell containing a direction vector (`S2CellId.cs:410-417`). */
  def fromPoint(p: S2Point): Long = {
    val face = S2Projections.xyzToFace(p)
    val u = S2Projections.validFaceXyzToU(face, p)
    val v = S2Projections.validFaceXyzToV(face, p)
    fromFaceIj(face, stToIj(S2Projections.uvToSt(u)), stToIj(S2Projections.uvToSt(v)))
  }

  /** Leaf cell containing the given lat/lng in **radians**
    * (`S2CellId.cs:422-425` with `S2LatLng.ToPoint` at `S2LatLng.cs:210-216`). */
  def fromLatLngRadians(latRad: Double, lngRad: Double): Long = {
    val cosphi = math.cos(latRad)
    fromPoint(S2Point(math.cos(lngRad) * cosphi, math.sin(lngRad) * cosphi, math.sin(latRad)))
  }

  /** Leaf cell from lat/lng in degrees; degree->radian conversion matches
    * `S1Angle.FromDegrees` exactly: `deg * (Pi/180)` (`S1Angle.cs:121-124`). */
  def fromLatLngDegrees(latDeg: Double, lngDeg: Double): Long =
    fromLatLngRadians(latDeg * (math.Pi / 180), lngDeg * (math.Pi / 180))

  // ---------------------------------------------------------------------------
  // Hilbert decode: id -> (face,i,j[,orientation]) (`S2CellId.cs:944-1009`)
  // ---------------------------------------------------------------------------

  /** Decode to the (i,j) of the leaf cell at/near the cell center, packed as
    * (i << 32) | j. Face is available separately via [[face]]. */
  def toIj(id: Long): Long = {
    var i = 0
    var j = 0
    var bits = face(id) & SwapMask
    var k = 7
    while (k >= 0) {
      val nbits = if (k == 7) MaxLevel - 7 * LookupBits else LookupBits
      bits += ((id >>> (k * 2 * LookupBits + 1)).toInt & ((1 << (2 * nbits)) - 1)) << 2
      bits = LookupIj(bits)
      i += (bits >> (LookupBits + 2)) << (k * LookupBits)
      j += ((bits >> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    (i.toLong << 32) | (j.toLong & 0xffffffffL)
  }

  @inline def ijI(ij: Long): Int = (ij >>> 32).toInt
  @inline def ijJ(ij: Long): Int = ij.toInt

  /** Hilbert-curve orientation of this cell (`S2CellId.cs:967-983`). */
  def orientation(id: Long): Int = {
    var bits = face(id) & SwapMask
    var k = 7
    while (k >= 0) {
      val nbits = if (k == 7) MaxLevel - 7 * LookupBits else LookupBits
      bits += ((id >>> (k * 2 * LookupBits + 1)).toInt & ((1 << (2 * nbits)) - 1)) << 2
      bits = LookupIj(bits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    if ((lowestOnBit(id) & 0x1111111111111110L) != 0) bits ^= SwapMask
    bits
  }

  /** (face, si, ti) -> direction vector (`S2CellId.cs:1047-1053`). */
  def faceSiTiToXyz(face: Int, si: Int, ti: Int): S2Point = {
    val kScale = 1.0 / MaxSize
    val u = S2Projections.stToUv(kScale * si)
    val v = S2Projections.stToUv(kScale * ti)
    S2Projections.faceUvToXyz(face, u, v)
  }

  /** Direction vector of the cell center, not necessarily unit length
    * (`S2CellId.cs:437-468`). */
  def toPointRaw(id: Long): S2Point = {
    val ij = toIj(id)
    val i = ijI(ij); val j = ijJ(ij)
    val delta = if (isLeaf(id)) 1 else if (((i ^ (id.toInt >> 2)) & 1) != 0) 2 else 0
    val si = (i << 1) + delta - MaxSize
    val ti = (j << 1) + delta - MaxSize
    faceSiTiToXyz(face(id), si, ti)
  }

  def toPoint(id: Long): S2Point = S2Point.normalize(toPointRaw(id))

  /** Latitude of the cell center in radians (`S2LatLng.cs:48-54`). */
  def toLatRadians(id: Long): Double = {
    val p = toPointRaw(id)
    math.atan2(p.z, math.sqrt(p.x * p.x + p.y * p.y))
  }

  /** Longitude of the cell center in radians. */
  def toLngRadians(id: Long): Double = {
    val p = toPointRaw(id)
    math.atan2(p.y, p.x)
  }

  def toLatDegrees(id: Long): Double = 180.0 / math.Pi * toLatRadians(id)
  def toLngDegrees(id: Long): Double = 180.0 / math.Pi * toLngRadians(id)

  // ---------------------------------------------------------------------------
  // Tokens (`S2CellId.cs:594-677`)
  // ---------------------------------------------------------------------------

  /** Compact hex token: 16-nibble unsigned hex with trailing zeros stripped;
    * the zero id encodes as "X". */
  def toToken(id: Long): String = {
    if (id == 0) return "X"
    val hex = java.lang.Long.toHexString(id) // unsigned, lowercase
    val sb = new java.lang.StringBuilder(16)
    var i = hex.length
    while (i < 16) { sb.append('0'); i += 1 }
    sb.append(hex)
    var len = 16
    while (len > 0 && sb.charAt(len - 1) == '0') len -= 1
    sb.substring(0, len)
  }

  /** Inverse of [[toToken]]; tokens longer than 16 chars or equal to "X"
    * (case-insensitive) give the invalid id 0. */
  def fromToken(token: String): Long = {
    require(token != null && token.nonEmpty, "token must be non-empty")
    if (token.length > 16 || token.equalsIgnoreCase("X")) return None
    var value = 0L
    var pos = 0
    while (pos < 16) {
      var digit = 0
      if (pos < token.length) {
        digit = java.lang.Character.digit(token.charAt(pos), 16)
        if (digit == -1) throw new IllegalArgumentException(s"invalid token: $token")
      }
      value = value * 16 + digit
      pos += 1
    }
    value
  }

  // ---------------------------------------------------------------------------
  // Out-of-face normalization (`S2CellId.cs:1060-1099`)
  // ---------------------------------------------------------------------------
  def fromFaceIjWrap(face: Int, i0: Int, j0: Int): Long = {
    // Clamp to just beyond the face boundary, then hop through xyz to land on
    // the adjacent face.
    val i = math.max(-1, math.min(MaxSize, i0))
    val j = math.max(-1, math.min(MaxSize, j0))
    val kScale = 1.0 / MaxSize
    val s = kScale * ((i << 1) + 1 - MaxSize)
    val t = kScale * ((j << 1) + 1 - MaxSize)
    val p = S2Projections.faceUvToXyz(face, s, t)
    val f = S2Projections.xyzToFace(p)
    val u = S2Projections.validFaceXyzToU(f, p)
    val v = S2Projections.validFaceXyzToV(f, p)
    fromFaceIj(f, stToIj(u), stToIj(v))
  }

  def fromFaceIjSame(face: Int, i: Int, j: Int, sameFace: Boolean): Long =
    if (sameFace) fromFaceIj(face, i, j) else fromFaceIjWrap(face, i, j)

  // ---------------------------------------------------------------------------
  // Neighbors (`S2CellId.cs:715-863`)
  // ---------------------------------------------------------------------------

  /** The 4 edge-adjacent cells at the same level, in S, E, N, W order. */
  def edgeNeighbors(id: Long): Array[Long] = {
    val lvl = level(id)
    val size = 1 << (MaxLevel - lvl)
    val f = face(id)
    val ij = toIj(id)
    val i = ijI(ij); val j = ijJ(ij)
    Array(
      parentForLevel(fromFaceIjSame(f, i, j - size, j - size >= 0), lvl),
      parentForLevel(fromFaceIjSame(f, i + size, j, i + size < MaxSize), lvl),
      parentForLevel(fromFaceIjSame(f, i, j + size, j + size < MaxSize), lvl),
      parentForLevel(fromFaceIjSame(f, i - size, j, i - size >= 0), lvl)
    )
  }

  /** Neighbors of this cell's closest vertex at a coarser level; 3 at cube
    * corners, else 4. Requires level < level(id). */
  def vertexNeighbors(id: Long, level: Int): Array[Long] = {
    val f = face(id)
    val ij = toIj(id)
    val i = ijI(ij); val j = ijJ(ij)
    val halfsize = 1 << (MaxLevel - (level + 1))
    val size = halfsize << 1
    var isame = false; var jsame = false
    var ioffset = 0; var joffset = 0
    if ((i & halfsize) != 0) { ioffset = size; isame = (i + size) < MaxSize }
    else { ioffset = -size; isame = (i - size) >= 0 }
    if ((j & halfsize) != 0) { joffset = size; jsame = (j + size) < MaxSize }
    else { joffset = -size; jsame = (j - size) >= 0 }

    val out = new scala.collection.mutable.ArrayBuffer[Long](4)
    out += parentForLevel(id, level)
    out += parentForLevel(fromFaceIjSame(f, i + ioffset, j, isame), level)
    out += parentForLevel(fromFaceIjSame(f, i, j + joffset, jsame), level)
    if (isame || jsame)
      out += parentForLevel(fromFaceIjSame(f, i + ioffset, j + joffset, isame && jsame), level)
    out.toArray
  }

  /** All neighbors (edge + vertex) at nbrLevel >= level(id); may repeat cells
    * near face vertices, matching the reference. */
  def allNeighbors(id: Long, nbrLevel: Int): Array[Long] = {
    val f = face(id)
    val ij = toIj(id)
    val size = 1 << (MaxLevel - level(id))
    val i = ijI(ij) & -size
    val j = ijJ(ij) & -size
    val nbrSize = 1 << (MaxLevel - nbrLevel)
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var k = -nbrSize
    var done = false
    while (!done) {
      var sameFace = false
      if (k < 0) sameFace = (j + k >= 0)
      else if (k >= size) sameFace = (j + k < MaxSize)
      else {
        sameFace = true
        out += parentForLevel(fromFaceIjSame(f, i + k, j - nbrSize, j - size >= 0), nbrLevel)
        out += parentForLevel(fromFaceIjSame(f, i + k, j + size, j + size < MaxSize), nbrLevel)
      }
      out += parentForLevel(fromFaceIjSame(f, i - nbrSize, j + k, sameFace && i - size >= 0), nbrLevel)
      out += parentForLevel(fromFaceIjSame(f, i + size, j + k, sameFace && i + size < MaxSize), nbrLevel)
      if (k >= size) done = true else k += nbrSize
    }
    out.toArray
  }

  def unsignedLess(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) < 0
}
