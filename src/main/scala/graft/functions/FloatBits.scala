package graft.functions

/** Scalar fp32↔fp16 / fp32↔bf16 conversions.
  *
  * Semantics mirror the reference's storage quantization
  * (`/root/reference/src/MetalIndexFlat.mm:224-256`): fp32→fp16 behaves like
  * a C `(__fp16)` cast (IEEE 754 half, round-to-nearest-even, overflow→Inf),
  * fp32→bf16 is round-to-nearest-even truncation to the top 16 bits, and
  * both dequantizations are exact (every half/bf16 value is representable as
  * fp32 — fp16→fp32 at `MetalIndexFlat.mm:508-518`, bf16 via `bits << 16`).
  *
  * JDK 17 has no `Float.floatToFloat16` (added in JDK 20), so the bit math
  * is spelled out. These are plain static helpers so generated (codegen)
  * Java can call them directly.
  */
object FloatBits {

  /** fp32 → IEEE-754 binary16 bits, round-to-nearest-even. */
  def floatToHalfBits(f: Float): Short = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = (bits >>> 23) & 0xFF
    var mant = bits & 0x7FFFFF
    if (exp == 0xFF) { // Inf / NaN
      val nanBit = if (mant != 0) 0x200 else 0
      return (sign | 0x7C00 | nanBit).toShort
    }
    val e = exp - 127 + 15 // re-bias
    if (e >= 0x1F) return (sign | 0x7C00).toShort // overflow → Inf
    if (e <= 0) {
      // subnormal half or underflow to zero
      if (e < -10) return sign.toShort
      mant |= 0x800000 // make leading 1 explicit
      val shift = 14 - e // 24-bit significand → (10 + e) bits
      var h = mant >>> shift
      val rem = mant & ((1 << shift) - 1)
      val halfway = 1 << (shift - 1)
      if (rem > halfway || (rem == halfway && (h & 1) == 1)) h += 1
      return (sign | h).toShort
    }
    // normal: 23-bit mantissa → 10 bits, RNE; carry may bump the exponent,
    // which is correct (1.111..→10.0 rounds up into the next binade / Inf).
    var h = (e << 10) | (mant >>> 13)
    val rem = mant & 0x1FFF
    if (rem > 0x1000 || (rem == 0x1000 && (h & 1) == 1)) h += 1
    (sign | h).toShort
  }

  /** IEEE-754 binary16 bits → fp32 (exact) — computed form, used to build
    * the lookup table (and as the semantic reference in specs).
    */
  private[functions] def halfBitsToFloatCompute(h: Short): Float = {
    val hv = h & 0xFFFF
    val sign = if ((hv & 0x8000) != 0) -1f else 1f
    val exp = (hv >>> 10) & 0x1F
    val mant = hv & 0x3FF
    if (exp == 0x1F) {
      if (mant != 0) Float.NaN else sign * Float.PositiveInfinity
    } else if (exp == 0) {
      sign * mant * 5.9604645e-8f // mant * 2^-24, exact
    } else {
      // (1024 + mant) * 2^(exp-25) == (1 + mant/1024) * 2^(exp-15), exact
      sign * ((mant + 1024) * Math.scalb(1f, exp - 25))
    }
  }

  // all 2^16 half values precomputed: decode = one 256 KB array load,
  // ~5× cheaper than the branchy computed form on the scan hot loops
  // (the f16 storage paths decode every element of every scanned vector)
  private val halfTable: Array[Float] = {
    val t = new Array[Float](65536)
    var i = 0
    while (i < 65536) { t(i) = halfBitsToFloatCompute(i.toShort); i += 1 }
    t
  }

  /** IEEE-754 binary16 bits → fp32 (exact, table lookup). */
  def halfBitsToFloat(h: Short): Float = halfTable(h & 0xFFFF)

  /** fp32 → bfloat16 bits, round-to-nearest-even truncation of the top 16
    * bits (the same `0x7FFF + lsb` trick as the reference ingest path).
    */
  def floatToBf16Bits(f: Float): Short = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    if ((bits & 0x7FFFFFFF) > 0x7F800000) {
      // NaN: keep sign/payload top bits, force quiet bit so it stays NaN
      return ((bits >>> 16) | 0x40).toShort
    }
    val lsb = (bits >>> 16) & 1
    ((bits + 0x7FFF + lsb) >>> 16).toShort
  }

  /** bfloat16 bits → fp32 (exact: the bf16 value *is* the top half). */
  def bf16BitsToFloat(s: Short): Float =
    java.lang.Float.intBitsToFloat((s & 0xFFFF) << 16)

  /** fp32 → FP8 E4M3 bits (the OCP 8-bit format used for training-data
    * and activation storage: 1 sign, 4 exponent [bias 7], 3 mantissa;
    * NO infinities — S.1111.111 is NaN, max finite ±448). This is the
    * SATURATING-FINITE cast (the ML convention): round-to-nearest-even
    * onto the e4m3 grid, then anything beyond ±448 — including ±Inf —
    * clamps to ±448; NaN stays NaN (0x7F). Subnormal step is 2⁻⁹.
    */
  def floatToFp8E4m3Bits(f: Float): Byte = {
    val bits = java.lang.Float.floatToRawIntBits(f)
    val sign = (bits >>> 24) & 0x80
    val exp = (bits >>> 23) & 0xFF
    var mant = bits & 0x7FFFFF
    if (exp == 0xFF) {
      if (mant != 0) return (sign | 0x7F).toByte // NaN
      return (sign | 0x7E).toByte // ±Inf saturates to ±448
    }
    val e = exp - 127 + 7 // re-bias
    if (e >= 16) return (sign | 0x7E).toByte // overflow → ±448
    if (e <= 0) {
      // subnormal fp8 (step 2⁻⁹) or underflow to (signed) zero
      if (e < -3) return sign.toByte // |x| < 2⁻¹⁰ → 0 under RNE
      mant |= 0x800000 // explicit leading 1: 24-bit significand
      val shift = 21 - e // value = mant24 · 2^(e-21) units of 2⁻⁹
      var h = mant >>> shift
      val rem = mant & ((1 << shift) - 1)
      val halfway = 1 << (shift - 1)
      if (rem > halfway || (rem == halfway && (h & 1) == 1)) h += 1
      return (sign | h).toByte // h = 8 carries into exp 1 naturally
    }
    // normal: 23-bit mantissa → 3 bits, RNE; carry may bump the exponent
    var h = (e << 3) | (mant >>> 20)
    val rem = mant & 0xFFFFF
    if (rem > 0x80000 || (rem == 0x80000 && (h & 1) == 1)) h += 1
    if (h >= 0x7F) return (sign | 0x7E).toByte // rounded past max → ±448
    (sign | h).toByte
  }

  private[functions] def fp8E4m3ToFloatCompute(b: Byte): Float = {
    val v = b & 0xFF
    val sign = if ((v & 0x80) != 0) -1f else 1f
    val exp = (v >>> 3) & 0xF
    val mant = v & 7
    if (exp == 0xF && mant == 7) Float.NaN
    else if (exp == 0) sign * mant * 1.953125e-3f // mant · 2⁻⁹, exact
    else sign * ((mant + 8) * Math.scalb(1f, exp - 10)) // (1+m/8)·2^(exp-7)
  }

  private val fp8Table: Array[Float] = {
    val t = new Array[Float](256)
    var i = 0
    while (i < 256) { t(i) = fp8E4m3ToFloatCompute(i.toByte); i += 1 }
    t
  }

  /** FP8 E4M3 bits → fp32 (exact, table lookup). */
  def fp8E4m3ToFloat(b: Byte): Float = fp8Table(b & 0xFF)
}
