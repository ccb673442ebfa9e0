package graft.expr

/** BLAKE2b (RFC 7693) — from-scratch, dependency-free implementation.
  *
  * Needed because the reference's password KDF is Argon2id
  * (`/root/reference/ingestion/crypto_utils.py:57`) whose internal hash is
  * BLAKE2b, and no Argon2/BLAKE2 JVM library is resolvable offline. One-shot
  * API only (Argon2 hashes inputs ≤ ~1 KiB); unkeyed, variable digest length
  * 1..64 bytes, exactly the subset Argon2 requires. Validated against the
  * RFC 7693 Appendix A test vector in `Argon2Spec`.
  */
private[graft] object Blake2b {
  private val IV = Array(
    0x6a09e667f3bcc908L, 0xbb67ae8584caa73bL, 0x3c6ef372fe94f82bL,
    0xa54ff53a5f1d36f1L, 0x510e527fade682d1L, 0x9b05688c2b3e6c1fL,
    0x1f83d9abfb41bd6bL, 0x5be0cd19137e2179L)

  private val SIGMA: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    Array(14, 10, 4, 8, 9, 15, 13, 6, 1, 12, 0, 2, 11, 7, 5, 3),
    Array(11, 8, 12, 0, 5, 2, 15, 13, 10, 14, 3, 6, 7, 1, 9, 4),
    Array(7, 9, 3, 1, 13, 12, 11, 14, 2, 6, 5, 10, 4, 0, 15, 8),
    Array(9, 0, 5, 7, 2, 4, 10, 15, 14, 1, 11, 12, 6, 8, 3, 13),
    Array(2, 12, 6, 10, 0, 11, 8, 3, 4, 13, 7, 5, 15, 14, 1, 9),
    Array(12, 5, 1, 15, 14, 13, 4, 10, 0, 7, 6, 3, 9, 2, 8, 11),
    Array(13, 11, 7, 14, 12, 1, 3, 9, 5, 0, 15, 4, 8, 6, 2, 10),
    Array(6, 15, 14, 9, 11, 3, 0, 8, 12, 2, 13, 7, 1, 4, 10, 5),
    Array(10, 2, 8, 4, 7, 6, 1, 5, 15, 11, 9, 14, 3, 12, 13, 0))

  @inline private def rotr(x: Long, n: Int): Long = (x >>> n) | (x << (64 - n))

  private def compress(h: Array[Long], block: Array[Byte], off: Int,
      t: Long, last: Boolean): Unit = {
    val m = new Array[Long](16)
    var i = 0
    while (i < 16) {
      var w = 0L
      var j = 7
      while (j >= 0) { w = (w << 8) | (block(off + 8 * i + j) & 0xffL); j -= 1 }
      m(i) = w
      i += 1
    }
    val v = new Array[Long](16)
    System.arraycopy(h, 0, v, 0, 8)
    System.arraycopy(IV, 0, v, 8, 8)
    v(12) ^= t // t_hi is always 0 for our input sizes
    if (last) v(14) = ~v(14)

    @inline def g(r: Int, i: Int, a: Int, b: Int, c: Int, d: Int): Unit = {
      val s = SIGMA(r % 10)
      v(a) = v(a) + v(b) + m(s(2 * i))
      v(d) = rotr(v(d) ^ v(a), 32)
      v(c) = v(c) + v(d)
      v(b) = rotr(v(b) ^ v(c), 24)
      v(a) = v(a) + v(b) + m(s(2 * i + 1))
      v(d) = rotr(v(d) ^ v(a), 16)
      v(c) = v(c) + v(d)
      v(b) = rotr(v(b) ^ v(c), 63)
    }
    var r = 0
    while (r < 12) {
      g(r, 0, 0, 4, 8, 12); g(r, 1, 1, 5, 9, 13)
      g(r, 2, 2, 6, 10, 14); g(r, 3, 3, 7, 11, 15)
      g(r, 4, 0, 5, 10, 15); g(r, 5, 1, 6, 11, 12)
      g(r, 6, 2, 7, 8, 13); g(r, 7, 3, 4, 9, 14)
      r += 1
    }
    i = 0
    while (i < 8) { h(i) ^= v(i) ^ v(i + 8); i += 1 }
  }

  /** Unkeyed BLAKE2b of `data` with digest length `outLen` (1..64). */
  def hash(outLen: Int, data: Array[Byte]): Array[Byte] = {
    require(outLen >= 1 && outLen <= 64, s"digest length $outLen")
    val h = IV.clone()
    h(0) ^= 0x01010000L ^ outLen.toLong // param block: depth=1, fanout=1, no key
    val n = data.length
    // full blocks except the last (the final block is always compressed with
    // the finalization flag, zero-padded)
    var off = 0
    while (n - off > 128) {
      compress(h, data, off, off + 128L, last = false)
      off += 128
    }
    val lastBlock = new Array[Byte](128)
    System.arraycopy(data, off, lastBlock, 0, n - off)
    compress(h, lastBlock, 0, n.toLong, last = true)
    val out = new Array[Byte](outLen)
    var i = 0
    while (i < outLen) {
      out(i) = ((h(i / 8) >>> (8 * (i % 8))) & 0xff).toByte
      i += 1
    }
    out
  }
}

/** Argon2 (RFC 9106) — from-scratch, dependency-free implementation of all
  * three variants (d / i / id), version 0x13, with secret (pepper) and
  * associated-data support.
  *
  * This is the reference's actual KDF (`crypto_utils.py:57`: Argon2id,
  * time_cost=3, memory_cost=65536 KiB, parallelism=1) — previously stood in
  * for by PBKDF2 because no Argon2 JVM artifact resolves offline; the
  * algorithm itself is fully specified in RFC 9106, so it is implemented
  * here directly and validated against the RFC §5.1–5.3 test vectors in
  * `Argon2Spec`.
  *
  * Scale note: each hash deliberately costs `m` KiB of memory × `t` passes
  * (the reference's designed bottleneck). Executors run one hash per row
  * inside a nondeterministic UDF; memory per task = m KiB, so at the
  * reference's 64 MiB × 32 local threads = 2 GiB peak, bounded and
  * per-partition — no driver involvement.
  */
private[graft] object Argon2 {
  val TypeD = 0
  val TypeI = 1
  val TypeId = 2
  val Version = 0x13

  private val QwordsInBlock = 128
  private val SyncPoints = 4

  @inline private def rotr(x: Long, n: Int): Long = (x >>> n) | (x << (64 - n))
  // BlaMka: a + b + 2 * low32(a) * low32(b)  (RFC 9106 §3.5)
  @inline private def fBlaMka(x: Long, y: Long): Long =
    x + y + 2L * (x & 0xffffffffL) * (y & 0xffffffffL)

  /** One BlaMka round over 16 qwords of `v` at the given indices. */
  private def round(v: Array[Long], i0: Int, i1: Int, i2: Int, i3: Int,
      i4: Int, i5: Int, i6: Int, i7: Int, i8: Int, i9: Int, i10: Int,
      i11: Int, i12: Int, i13: Int, i14: Int, i15: Int): Unit = {
    @inline def g(a: Int, b: Int, c: Int, d: Int): Unit = {
      v(a) = fBlaMka(v(a), v(b)); v(d) = rotr(v(d) ^ v(a), 32)
      v(c) = fBlaMka(v(c), v(d)); v(b) = rotr(v(b) ^ v(c), 24)
      v(a) = fBlaMka(v(a), v(b)); v(d) = rotr(v(d) ^ v(a), 16)
      v(c) = fBlaMka(v(c), v(d)); v(b) = rotr(v(b) ^ v(c), 63)
    }
    g(i0, i4, i8, i12); g(i1, i5, i9, i13)
    g(i2, i6, i10, i14); g(i3, i7, i11, i15)
    g(i0, i5, i10, i15); g(i1, i6, i11, i12)
    g(i2, i7, i8, i13); g(i3, i4, i9, i14)
  }

  /** next = G(prev, ref) [^ next if withXor] — RFC 9106 §3.5 compression
    * over blocks at qword offsets of flat arrays. `r` and `z` are the
    * caller's scratch blocks, reused across calls. */
  private def fillBlock(prev: Array[Long], prevOff: Int, ref: Array[Long],
      refOff: Int, next: Array[Long], nextOff: Int, withXor: Boolean,
      r: Array[Long], z: Array[Long]): Unit = {
    var i = 0
    while (i < QwordsInBlock) {
      r(i) = prev(prevOff + i) ^ ref(refOff + i); z(i) = r(i); i += 1
    }
    i = 0
    while (i < 8) { // rows: qwords [16i, 16i+15]
      val b = 16 * i
      round(z, b, b + 1, b + 2, b + 3, b + 4, b + 5, b + 6, b + 7,
        b + 8, b + 9, b + 10, b + 11, b + 12, b + 13, b + 14, b + 15)
      i += 1
    }
    i = 0
    while (i < 8) { // columns: 2-qword registers down the matrix
      val b = 2 * i
      round(z, b, b + 1, b + 16, b + 17, b + 32, b + 33, b + 48, b + 49,
        b + 64, b + 65, b + 80, b + 81, b + 96, b + 97, b + 112, b + 113)
      i += 1
    }
    i = 0
    if (withXor) while (i < QwordsInBlock) {
      next(nextOff + i) ^= r(i) ^ z(i); i += 1
    }
    else while (i < QwordsInBlock) {
      next(nextOff + i) = r(i) ^ z(i); i += 1
    }
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  /** Variable-length hash H' (RFC 9106 §3.3): BLAKE2b chained for > 64 B. */
  private def hPrime(outLen: Int, input: Array[Byte]): Array[Byte] = {
    val prefixed = le32(outLen) ++ input
    if (outLen <= 64) Blake2b.hash(outLen, prefixed)
    else {
      val out = new Array[Byte](outLen)
      var v = Blake2b.hash(64, prefixed)
      var pos = 0
      var remaining = outLen
      while (remaining > 64) {
        System.arraycopy(v, 0, out, pos, 32)
        pos += 32
        remaining -= 32
        if (remaining > 64) v = Blake2b.hash(64, v)
      }
      val tail = Blake2b.hash(remaining, v)
      System.arraycopy(tail, 0, out, pos, remaining)
      out
    }
  }

  private def blockToBytes(b: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](1024)
    var i = 0
    while (i < QwordsInBlock) {
      var j = 0
      while (j < 8) { out(8 * i + j) = ((b(i) >>> (8 * j)) & 0xff).toByte; j += 1 }
      i += 1
    }
    out
  }

  /** Little-endian qwords of a 1024-byte block into `mem` at `off`. */
  private def bytesToBlock(bytes: Array[Byte], mem: Array[Long], off: Int)
      : Unit = {
    var i = 0
    while (i < QwordsInBlock) {
      var w = 0L
      var j = 7
      while (j >= 0) { w = (w << 8) | (bytes(8 * i + j) & 0xffL); j -= 1 }
      mem(off + i) = w
      i += 1
    }
  }

  /** Raw Argon2 tag (RFC 9106 §3). `mKib` is memory in KiB; `t` passes;
    * `p` lanes. */
  def hash(ty: Int, t: Int, mKib: Int, p: Int, password: Array[Byte],
      salt: Array[Byte], secret: Array[Byte] = Array.emptyByteArray,
      ad: Array[Byte] = Array.emptyByteArray, tagLen: Int = 32): Array[Byte] = {
    require(t >= 1 && p >= 1 && mKib >= 8 * p, s"argon2 params t=$t m=$mKib p=$p")
    // H0 (§3.2): parameter+input digest
    val h0input = new java.io.ByteArrayOutputStream()
    h0input.write(le32(p)); h0input.write(le32(tagLen)); h0input.write(le32(mKib))
    h0input.write(le32(t)); h0input.write(le32(Version)); h0input.write(le32(ty))
    h0input.write(le32(password.length)); h0input.write(password)
    h0input.write(le32(salt.length)); h0input.write(salt)
    h0input.write(le32(secret.length)); h0input.write(secret)
    h0input.write(le32(ad.length)); h0input.write(ad)
    val h0 = Blake2b.hash(64, h0input.toByteArray)

    val mPrime = 4 * p * (mKib / (4 * p))
    val laneLen = mPrime / p
    val segLen = laneLen / SyncPoints
    // B[lane][index] as one flat array: block k is qwords [128k, 128k+127]
    val memory = new Array[Long](mPrime * QwordsInBlock)
    def at(block: Int): Int = block * QwordsInBlock
    var lane = 0
    while (lane < p) {
      bytesToBlock(hPrime(1024, h0 ++ le32(0) ++ le32(lane)), memory,
        at(lane * laneLen))
      bytesToBlock(hPrime(1024, h0 ++ le32(1) ++ le32(lane)), memory,
        at(lane * laneLen + 1))
      lane += 1
    }

    // per-hash scratch: the compression's two working blocks and the
    // data-independent addressing's input, address and temporary blocks
    val r = new Array[Long](QwordsInBlock)
    val z = new Array[Long](QwordsInBlock)
    val zeroBlock = new Array[Long](QwordsInBlock)
    val inputBlock = new Array[Long](QwordsInBlock)
    val addressBlock = new Array[Long](QwordsInBlock)
    val tmpBlock = new Array[Long](QwordsInBlock)
    var pass = 0
    while (pass < t) {
      var slice = 0
      while (slice < SyncPoints) {
        lane = 0
        while (lane < p) {
          // segment fill (§3.4); Argon2id: data-independent addressing for
          // the first two slices of the first pass, data-dependent after
          val dataIndependent = ty == TypeI ||
            (ty == TypeId && pass == 0 && slice < 2)
          if (dataIndependent) {
            java.util.Arrays.fill(inputBlock, 0L)
            inputBlock(0) = pass.toLong
            inputBlock(1) = lane.toLong
            inputBlock(2) = slice.toLong
            inputBlock(3) = mPrime.toLong
            inputBlock(4) = t.toLong
            inputBlock(5) = ty.toLong
          }
          def nextAddresses(): Unit = {
            inputBlock(6) += 1
            fillBlock(zeroBlock, 0, inputBlock, 0, tmpBlock, 0,
              withXor = false, r, z)
            fillBlock(zeroBlock, 0, tmpBlock, 0, addressBlock, 0,
              withXor = false, r, z)
          }
          var idx = 0
          if (pass == 0 && slice == 0) {
            idx = 2 // first two blocks are the H' seeds
            if (dataIndependent) nextAddresses()
          }
          while (idx < segLen) {
            if (dataIndependent && idx % QwordsInBlock == 0 &&
                !(pass == 0 && slice == 0 && idx == 2)) {
              nextAddresses()
            }
            val j = slice * segLen + idx
            val prev = lane * laneLen + (if (j == 0) laneLen - 1 else j - 1)
            val pseudoRand =
              if (dataIndependent) addressBlock(idx % QwordsInBlock)
              else memory(at(prev))
            val j1 = pseudoRand & 0xffffffffL
            val refLane =
              if (pass == 0 && slice == 0) lane
              else (((pseudoRand >>> 32) % p).toInt)
            val sameLane = refLane == lane
            // reference area size (§3.4.1.2.4)
            val refAreaSize: Long =
              if (pass == 0) {
                if (slice == 0) idx - 1L
                else if (sameLane) slice.toLong * segLen + idx - 1
                else slice.toLong * segLen + (if (idx == 0) -1 else 0)
              } else {
                if (sameLane) laneLen.toLong - segLen + idx - 1
                else laneLen.toLong - segLen + (if (idx == 0) -1 else 0)
              }
            // x = J1² >> 32; y = (|R|·x) >> 32; z = |R| - 1 - y  (§3.4.1.2.5)
            // j1 < 2^32 so j1*j1 occupies exactly the unsigned 64-bit range:
            // the wrapped signed Long is the correct bit pattern.
            val x = (j1 * j1) >>> 32
            val y = (refAreaSize * x) >>> 32
            val relPos = refAreaSize - 1 - y
            val startPos: Long =
              if (pass == 0) 0
              else if (slice == SyncPoints - 1) 0
              else (slice + 1).toLong * segLen
            val refIdx = ((startPos + relPos) % laneLen).toInt
            val cur = lane * laneLen + j
            fillBlock(memory, at(prev), memory, at(refLane * laneLen + refIdx),
              memory, at(cur), withXor = pass > 0, r, z) // v1.3: XOR later
            idx += 1
          }
          lane += 1
        }
        slice += 1
      }
      pass += 1
    }

    // final block C = XOR of all lanes' last blocks; tag = H'(tagLen, C)
    val c = java.util.Arrays.copyOfRange(memory, at(laneLen - 1), at(laneLen))
    lane = 1
    while (lane < p) {
      val last = at(lane * laneLen + laneLen - 1)
      var i = 0
      while (i < QwordsInBlock) { c(i) ^= memory(last + i); i += 1 }
      lane += 1
    }
    hPrime(tagLen, blockToBytes(c))
  }

  private def b64(x: Array[Byte]): String =
    java.util.Base64.getEncoder.withoutPadding.encodeToString(x)

  /** PHC-format encoded hash, byte-compatible with argon2-cffi's output
    * (`$argon2id$v=19$m=...,t=...,p=...$<salt>$<tag>`). */
  def encoded(ty: Int, t: Int, mKib: Int, p: Int, password: Array[Byte],
      salt: Array[Byte], secret: Array[Byte] = Array.emptyByteArray,
      tagLen: Int = 32): String = {
    val name = ty match {
      case TypeD => "argon2d"; case TypeI => "argon2i"; case TypeId => "argon2id"
    }
    val tag = hash(ty, t, mKib, p, password, salt, secret, Array.emptyByteArray, tagLen)
    s"$$$name$$v=$Version$$m=$mKib,t=$t,p=$p$$${b64(salt)}$$${b64(tag)}"
  }

  /** Recompute-and-compare verification of a PHC-encoded hash. */
  def verify(stored: String, password: Array[Byte],
      secret: Array[Byte] = Array.emptyByteArray): Boolean = {
    val parts = stored.split('$')
    if (parts.length != 6) return false
    val ty = parts(1) match {
      case "argon2d" => TypeD; case "argon2i" => TypeI
      case "argon2id" => TypeId; case _ => return false
    }
    if (parts(2) != s"v=$Version") return false
    val params = parts(3).split(',').map(_.split('=')).map(a => a(0) -> a(1)).toMap
    val salt = java.util.Base64.getDecoder.decode(parts(4))
    val expect = java.util.Base64.getDecoder.decode(parts(5))
    val got = hash(ty, params("t").toInt, params("m").toInt, params("p").toInt,
      password, salt, secret, Array.emptyByteArray, expect.length)
    java.security.MessageDigest.isEqual(got, expect)
  }
}
