package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook exposing the engine's custom expressions to
  * SQL. Activate with
  * `spark.sql.extensions=graft.expr.GraftExtensions` (spark-submit) or
  * [[GraftExtensions.register]] on a live session (tests / Verify).
  *
  * SQL surface:
  *   graft_hmac_sha256_hex(data, key) — deterministic blind index (F4)
  *   graft_array_dot(a, b)            — codegen'd vector dot product
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injected.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private val injected: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_hmac_sha256_hex",
      new ExpressionInfo(classOf[HmacSha256Hex].getName, "graft_hmac_sha256_hex"),
      (args: Seq[Expression]) => HmacSha256Hex(args(0), args(1))),
    ("graft_array_dot",
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_array_dot"),
      (args: Seq[Expression]) => ArrayDotProduct(args(0), args(1))))

  /** Register on an already-running session (FunctionRegistry injection). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    injected.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
    registerUdfs(spark)
  }

  /** UDF-backed SQL surface (UDFs register per-session via the UDF
    * registry, not the FunctionRegistry injection above):
    *   graft_fernet_encrypt(value, key) — spec-conformant Fernet token
    *   graft_fernet_decrypt(token, key) — verify (HMAC) + decrypt
    */
  def registerUdfs(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions.udf
    spark.udf.register("graft_fernet_encrypt", udf { (s: String, key: String) =>
      if (s == null || key == null) null
      else Crypto.fernetEncryptAt(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8), key,
        System.currentTimeMillis() / 1000, CryptoRuntime.randomBytes(16))
    }.asNondeterministic())
    spark.udf.register("graft_fernet_decrypt", udf { (t: String, key: String) =>
      if (t == null || key == null) null
      else new String(Crypto.fernetDecryptToken(t, key),
        java.nio.charset.StandardCharsets.UTF_8)
    })
  }
}
