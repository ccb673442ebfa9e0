package graft

import graft.expr.Crypto
import org.apache.spark.sql.functions._

class CryptoSpec extends SparkSpec {
  import spark.implicits._

  test("hmacSha256Hex matches RFC 4231 test case 2") {
    // key = "Jefe", data = "what do ya want for nothing?"
    val expected =
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"
    val got = Seq("what do ya want for nothing?").toDF("d")
      .select(Crypto.hmacSha256Hex(col("d"), lit("Jefe")).as("h"))
      .head().getString(0)
    assert(got == expected)
  }

  test("blindIndex is deterministic and normalizes first") {
    val df = Seq(" Ada@Example.COM ", "ada@example.com").toDF("email")
      .select(Crypto.blindIndex(col("email"), "k").as("bidx"))
    val vals = df.collect().map(_.getString(0))
    assert(vals(0) == vals(1)) // same after normalize
    assert(vals(0).length == 64 && vals(0).matches("[0-9a-f]{64}"))
  }

  test("hmac expression survives codegen on a non-trivial plan") {
    // filter + agg around the expression keeps it inside a codegen stage
    val n = spark.range(1000)
      .select(Crypto.hmacSha256Hex(concat(lit("u"), col("id")), lit("k")).as("h"))
      .filter(substring(col("h"), 1, 1) =!= "z") // never true for hex
      .distinct().count()
    assert(n == 1000) // distinct inputs → distinct HMACs (no collision at this size)
  }

  test("encrypt/decrypt round-trips; ciphertexts differ per row (random IV)") {
    val key = "0123456789abcdef"
    val df = Seq("alice", "alice", "bob").toDF("s")
      .withColumn("enc", Crypto.encrypt(col("s"), key))
      .withColumn("dec", Crypto.decrypt(col("enc"), key))
    val rows = df.collect()
    assert(rows.forall(r => r.getString(2) == r.getString(0)))
    // same plaintext, different token: IV is random per evaluation
    assert(rows(0).getString(1) != rows(1).getString(1))
  }

  test("password hash verifies and is salted (distinct per call)") {
    // PBKDF2 alternative format still verifies
    val h1 = Crypto.pbkdf2Hash("hunter2", "pepper", 1000,
      Array.fill[Byte](16)(1))
    assert(Crypto.verifyPassword("hunter2", "pepper", h1))
    assert(!Crypto.verifyPassword("hunter3", "pepper", h1))
    assert(!Crypto.verifyPassword("hunter2", "wrong-pepper", h1))

    // primary format: Argon2id (RFC 9106) PHC records
    val hashes = Seq("pw", "pw").toDF("p")
      .select(Crypto.hashPassword(col("p"), "pepper", 1, 64).as("h"))
      .collect().map(_.getString(0))
    assert(hashes.forall(_.startsWith("$argon2id$v=19$m=64,t=1,p=1$")))
    assert(hashes(0) != hashes(1)) // random salt
    assert(hashes.forall(h => Crypto.verifyPassword("pw", "pepper", h)))
    assert(!Crypto.verifyPassword("pw2", "pepper", hashes(0)))
  }

  test("null in, null out") {
    val row = Seq((Option.empty[String], "x")).toDF("a", "b")
      .select(
        Crypto.hmacSha256Hex(col("a"), lit("k")).as("h"),
        Crypto.hashPassword(col("a"), "p", 1, 64).as("ph"))
      .head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  // ---- Fernet byte-format parity ----

  private val fernetKey = java.util.Base64.getUrlEncoder
    .encodeToString("ABCDEFGHIJKLMNOPABCDEFGHIJKLMNOP".getBytes("US-ASCII"))

  test("Fernet: pinned-timestamp/IV token has the spec's exact byte layout") {
    val iv = Array.tabulate[Byte](16)(_.toByte)
    val token = Crypto.fernetEncryptAt(
      "hello fernet".getBytes("UTF-8"), fernetKey, tsSec = 1700000000L, iv)
    val raw = java.util.Base64.getUrlDecoder.decode(token)
    assert(raw(0) == 0x80.toByte)                      // version
    assert(java.nio.ByteBuffer.wrap(raw, 1, 8).getLong == 1700000000L)
    assert(raw.slice(9, 25).toSeq == iv.toSeq)          // IV as given
    assert((raw.length - 57) % 16 == 0)                 // CBC whole blocks
    assert(token.startsWith("gAAAAA"))                  // canonical prefix
    val back = Crypto.fernetDecryptToken(token, fernetKey)
    assert(new String(back, "UTF-8") == "hello fernet")
  }

  test("Fernet: tampering any byte fails HMAC verification") {
    val iv = new Array[Byte](16)
    val token = Crypto.fernetEncryptAt("x".getBytes, fernetKey, 0L, iv)
    val raw = java.util.Base64.getUrlDecoder.decode(token)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 1).toByte
    val bad = java.util.Base64.getUrlEncoder.encodeToString(raw)
    intercept[IllegalArgumentException] {
      Crypto.fernetDecryptToken(bad, fernetKey)
    }
  }

  test("Fernet: ttl expiry honored; disabled ttl never expires") {
    val iv = new Array[Byte](16)
    val token = Crypto.fernetEncryptAt("x".getBytes, fernetKey,
      tsSec = 1000L, iv)
    assert(new String(Crypto.fernetDecryptToken(token, fernetKey,
      ttlSec = 60, nowSec = 1030L)) == "x")
    intercept[IllegalArgumentException] {
      Crypto.fernetDecryptToken(token, fernetKey, ttlSec = 60, nowSec = 2000L)
    }
    assert(new String(Crypto.fernetDecryptToken(token, fernetKey,
      ttlSec = -1, nowSec = Long.MaxValue)) == "x")
  }

  test("Fernet columns: roundtrip, nondeterministic IVs, null passthrough") {
    val df = Seq(Some("secret a"), Some("secret b"), None).toDF("v")
    val out = df.select(col("v"),
      Crypto.fernetEncrypt(col("v"), fernetKey).as("t1"),
      Crypto.fernetEncrypt(col("v"), fernetKey).as("t2"))
      .select(col("v"), col("t1"), col("t2"),
        Crypto.fernetDecrypt(col("t1"), fernetKey).as("back"))
      .collect()
    out.filter(!_.isNullAt(0)).foreach { r =>
      assert(r.getString(3) == r.getString(0)) // roundtrip
      assert(r.getString(1) != r.getString(2)) // fresh IV per encryption
      assert(r.getString(1).startsWith("gAAAAA"))
    }
    assert(out.filter(_.isNullAt(0)).forall(r => r.isNullAt(1) && r.isNullAt(3)))
  }

  test("salts and IVs are distinct across tasks: 16 rows over 4 partitions") {
    // one plaintext for every row, so only the salt and the IV can differ;
    // each partition's task runs its own deserialized copy of the closures
    val out = spark.range(0, 16, 1, 4).select(lit("same").as("v"))
      .select(Crypto.hashPassword(col("v"), "p", 1, 8).as("h"),
        Crypto.fernetEncrypt(col("v"), fernetKey).as("t"))
      .collect()
    assert(out.length === 16)
    val salts = out.map(_.getString(0).split('$')(4)) // $argon2id$v$m,t,p$salt$tag
    val ivs = out.map(r => java.util.Base64.getUrlDecoder.decode(r.getString(1))
      .slice(9, 25).toSeq) // 0x80 | ts[8] | iv[16] | ...
    assert(salts.distinct.length === 16, salts.mkString(","))
    assert(ivs.distinct.length === 16)
  }
}
