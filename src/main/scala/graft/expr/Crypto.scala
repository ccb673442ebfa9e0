package graft.expr

import java.nio.charset.StandardCharsets
import java.security.SecureRandom
import java.util.Base64

import javax.crypto.Mac
import javax.crypto.SecretKeyFactory
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PII-securing expression library — the engine equivalent of the reference's
  * scalar-UDF layer (`/root/reference/ingestion/crypto_utils.py:57-104`,
  * applied row-wise at `transformations.py:59-63`).
  *
  * Determinism contract (SURVEY.md §4.3): `hashPassword` (random salt) and
  * `encrypt` (random IV) are NONDETERMINISTIC and flagged so, or Catalyst
  * may collapse/re-execute them and yield different ciphertexts for the same
  * row within one plan. `blindIndex` is deterministic BY DESIGN — that is
  * the whole point of a blind index (equality search over encrypted data,
  * `crypto_utils.py:103-113`).
  *
  * Scale notes: `blindIndex` is a custom codegen'd Catalyst Expression (stays
  * inside whole-stage codegen; Mac instances are cached per-thread).
  * Encryption uses Spark's built-in `aes_encrypt`/`aes_decrypt` (AES-GCM,
  * random IV — the capability twin of the reference's Fernet token;
  * `crypto_utils.py:84-88`; byte-format parity below). Password hashing is
  * the reference's actual KDF — Argon2id (64 MiB × 3 passes, the designed
  * per-row bottleneck, `crypto_utils.py:57`) — implemented from scratch per
  * RFC 9106 in [[Argon2]] since no JVM Argon2 artifact resolves offline.
  */
object Crypto {

  /** trim + lowercase — reference `normalize_email` (`crypto_utils.py:97-98`). */
  def normalizeEmail(c: Column): Column = lower(trim(c))

  /** Deterministic keyed hash (HMAC-SHA256 hexdigest) for equality search on
    * encrypted columns — reference `blind_index` (`crypto_utils.py:103-104`).
    * Codegen'd custom Expression; see [[HmacSha256Hex]].
    */
  def hmacSha256Hex(data: Column, key: Column): Column =
    ColumnShim.column(
      HmacSha256Hex(ColumnShim.expression(data),
        ColumnShim.expression(key)))

  /** blind index of an email-like column = HMAC(key, lower(trim(s))) —
    * reference composition at `transformations.py:63`. */
  def blindIndex(c: Column, key: String): Column =
    hmacSha256Hex(normalizeEmail(c), lit(key))

  /** AES-GCM encrypt/decrypt (random IV ⇒ encrypt is nondeterministic).
    * Capability parity with the reference's Fernet tokens (authenticated
    * symmetric encryption), not byte-format parity. Built-ins are codegen'd
    * and run fully distributed. Key must be 16/24/32 bytes.
    */
  def encrypt(c: Column, key: String): Column =
    base64(aes_encrypt(c.cast(StringType), lit(key)))
  def decrypt(c: Column, key: String): Column =
    aes_decrypt(unbase64(c), lit(key)).cast(StringType)

  // ---- Fernet token format (BYTE-FORMAT parity with the reference's
  // `cryptography.fernet`, `crypto_utils.py:84-88`) ----
  //
  // Public Fernet spec:
  //   key   = base64url(signing_key[16] || encryption_key[16])
  //   token = base64url(0x80 || ts_be64 || iv[16]
  //                     || AES128-CBC-PKCS7(encryption_key, iv, plaintext)
  //                     || HMAC-SHA256(signing_key, all-preceding-bytes))
  // Every primitive is in the JDK, so format parity needs no external dep:
  // tokens minted here are structurally valid Fernet (the familiar
  // "gAAAAA" prefix = version byte 0x80 + zero high-order timestamp
  // bytes) and tokens from the reference's Python stack decrypt here.

  private def fernetKeys(key: String): (Array[Byte], Array[Byte]) = {
    val raw = Base64.getUrlDecoder.decode(key)
    require(raw.length == 32, "Fernet key must decode to 32 bytes")
    (raw.slice(0, 16), raw.slice(16, 32))
  }

  /** Mint a Fernet key (base64url of 32 random bytes). */
  private[graft] def fernetGenerateKey(rng: SecureRandom): String = {
    val raw = new Array[Byte](32)
    rng.nextBytes(raw)
    Base64.getUrlEncoder.encodeToString(raw)
  }

  /** Deterministic core: encrypt at a pinned timestamp/IV (the testable
    * seam; [[fernetEncrypt]] feeds it clock + random IV). */
  private[graft] def fernetEncryptAt(plaintext: Array[Byte], key: String,
      tsSec: Long, iv: Array[Byte]): String = {
    val (signKey, encKey) = fernetKeys(key)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new SecretKeySpec(encKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val ct = cipher.doFinal(plaintext)
    val body = java.nio.ByteBuffer.allocate(1 + 8 + 16 + ct.length)
      .put(0x80.toByte).putLong(tsSec).put(iv).put(ct).array()
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(signKey, "HmacSHA256"))
    Base64.getUrlEncoder.encodeToString(body ++ mac.doFinal(body))
  }

  /** Verify (constant-time HMAC compare) + decrypt a Fernet token;
    * `ttlSec < 0` disables expiry, mirroring Fernet's optional ttl. */
  private[graft] def fernetDecryptToken(token: String, key: String,
      ttlSec: Long = -1, nowSec: Long = System.currentTimeMillis() / 1000)
      : Array[Byte] = {
    val (signKey, encKey) = fernetKeys(key)
    val raw = Base64.getUrlDecoder.decode(token)
    require(raw.length >= 1 + 8 + 16 + 32 && raw(0) == 0x80.toByte,
      "invalid Fernet token")
    val body = raw.dropRight(32)
    val tag = raw.takeRight(32)
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(signKey, "HmacSHA256"))
    require(java.security.MessageDigest.isEqual(mac.doFinal(body), tag),
      "Fernet HMAC verification failed")
    val ts = java.nio.ByteBuffer.wrap(body, 1, 8).getLong
    require(ttlSec < 0 || nowSec - ts <= ttlSec, "Fernet token expired")
    val iv = java.util.Arrays.copyOfRange(body, 9, 25)
    val ct = java.util.Arrays.copyOfRange(body, 25, body.length)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
      new SecretKeySpec(encKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    cipher.doFinal(ct)
  }

  /** Column-level Fernet encrypt — nondeterministic (random IV + clock),
    * same flagging rationale as [[encrypt]]. */
  def fernetEncrypt(c: Column, key: String): Column = {
    val f = udf { (s: String) =>
      if (s == null) null
      else fernetEncryptAt(s.getBytes(StandardCharsets.UTF_8), key,
        System.currentTimeMillis() / 1000, CryptoRuntime.randomBytes(16))
    }.asNondeterministic()
    f(c)
  }

  /** Column-level Fernet decrypt (deterministic). */
  def fernetDecrypt(c: Column, key: String): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else new String(fernetDecryptToken(t, key), StandardCharsets.UTF_8)
    }
    f(c)
  }

  // ---- password hashing (Argon2id, RFC 9106 — the reference's actual KDF,
  // `crypto_utils.py:57`: time_cost=3, memory_cost=65536 KiB, parallelism=1,
  // over password ∥ PEPPER). Implemented from scratch in [[Argon2]] (no JVM
  // Argon2 artifact resolves offline; the algorithm is public spec) and
  // validated against the RFC 9106 test vectors in Argon2Spec. PBKDF2
  // retained below as the earlier documented stand-in (still exercised in
  // CryptoSpec; verifyPassword dispatches on the PHC prefix). ----

  /** Argon2id PHC-encoded hash of password ∥ pepper with a fresh random
    * salt — the reference's `hash_password` (`crypto_utils.py:73-75`).
    * Cost knobs default to the reference's profile; catalog queries size
    * them to their row counts (the reference hashes 10 rows/run at 64 MiB —
    * a query hashing 150k rows sizes the knob down, same as any KDF).
    */
  private[graft] def argon2idHash(password: String, pepper: String,
      timeCost: Int, memoryKib: Int, salt: Array[Byte]): String =
    Argon2.encoded(Argon2.TypeId, timeCost, memoryKib, p = 1,
      (password + pepper).getBytes(StandardCharsets.UTF_8), salt)

  /** Salted+peppered Argon2id password hash as a nondeterministic UDF. */
  def hashPassword(c: Column, pepper: String, timeCost: Int = 3,
      memoryKib: Int = 65536): Column = {
    val f = udf { (pw: String) =>
      if (pw == null) null
      else argon2idHash(pw, pepper, timeCost, memoryKib,
        CryptoRuntime.randomBytes(16))
    }.asNondeterministic()
    f(c)
  }

  // ---- PBKDF2 (earlier stand-in, kept as an alternative KDF) ----

  /** PHC-style record: pbkdf2-sha512$<iters>$<saltB64>$<dkB64>. */
  private[graft] def pbkdf2Hash(password: String, pepper: String,
      iterations: Int, salt: Array[Byte]): String = {
    val spec = new PBEKeySpec((password + pepper).toCharArray, salt,
      iterations, 256)
    val dk = SecretKeyFactory.getInstance("PBKDF2WithHmacSHA512")
      .generateSecret(spec).getEncoded
    val b64 = Base64.getEncoder
    s"pbkdf2-sha512$$$iterations$$${b64.encodeToString(salt)}$$${b64.encodeToString(dk)}"
  }

  /** Verify against either PHC format this library has ever minted. */
  private[graft] def verifyPassword(password: String, pepper: String,
      stored: String): Boolean =
    if (stored.startsWith("$argon2")) {
      Argon2.verify(stored, (password + pepper).getBytes(StandardCharsets.UTF_8))
    } else stored.split('$') match {
      case Array("pbkdf2-sha512", iters, saltB64, _) =>
        val salt = Base64.getDecoder.decode(saltB64)
        val again = pbkdf2Hash(password, pepper, iters.toInt, salt)
        java.security.MessageDigest.isEqual(
          stored.getBytes(StandardCharsets.UTF_8),
          again.getBytes(StandardCharsets.UTF_8))
      case _ => false
    }
}

/** HMAC-SHA256 hexdigest as a native Catalyst expression with code
  * generation: the hot path stays inside whole-stage codegen (a Scala UDF
  * here would break the codegen span and add ser/de per row — measurable at
  * 100 TB). Deterministic and foldable-safe; null-intolerant (null in →
  * null out).
  */
case class HmacSha256Hex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hmac_sha256_hex"

  override def nullSafeEval(data: Any, key: Any): Any =
    CryptoRuntime.hmacSha256Hex(data.asInstanceOf[UTF8String],
      key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (d, k) =>
      s"graft.expr.CryptoRuntime.hmacSha256Hex($d, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HmacSha256Hex =
    copy(left = newLeft, right = newRight)
}

/** Static runtime for codegen'd calls and UDF bodies. Mac instances are
  * cached per thread per key (Mac is not thread-safe; init dominates cost
  * otherwise).
  */
object CryptoRuntime {
  /** The one source of salts and IVs in this JVM. A UDF closure must not
    * capture its own generator: Spark serializes the closure into every
    * task, and a deserialized copy of a seeded generator (`SHA1PRNG`)
    * repeats the stream of every other copy. */
  private val random = new SecureRandom()

  /** `n` fresh random bytes (SecureRandom is safe across threads). */
  def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    random.nextBytes(b)
    b
  }

  private val macs = new ThreadLocal[java.util.HashMap[String, Mac]] {
    override def initialValue() = new java.util.HashMap[String, Mac]()
  }
  private val HEX = "0123456789abcdef".toCharArray

  def hmacSha256Hex(data: UTF8String, key: UTF8String): UTF8String = {
    val keyStr = key.toString
    var mac = macs.get.get(keyStr)
    if (mac == null) {
      mac = Mac.getInstance("HmacSHA256")
      mac.init(new SecretKeySpec(keyStr.getBytes(StandardCharsets.UTF_8),
        "HmacSHA256"))
      macs.get.put(keyStr, mac)
    }
    val raw = mac.doFinal(data.getBytes)
    val out = new Array[Char](raw.length * 2)
    var i = 0
    while (i < raw.length) {
      out(2 * i) = HEX((raw(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(raw(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }
}
