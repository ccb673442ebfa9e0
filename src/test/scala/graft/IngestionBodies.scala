package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.jobs.{FetchResult, IngestMetrics, IngestionJob, UserFetcher}

/** API response bodies and a quiet ingestion run, shared by the ingestion
  * specs. */
object IngestionBodies {

  val pepper = "pepper"
  val aesKey = "0123456789abcdef"
  val bidxKey = "bidx-key"

  /** Serves one fixed body. */
  final class BodyFetcher(body: String) extends UserFetcher {
    override def describe: String = "spec://batch"
    override def fetch(): FetchResult = FetchResult(body, None, None)
  }

  /** One API user; `uuid = null` gives a user without a key. */
  def user(uuid: String, first: String): String = {
    val key = if (uuid == null) "null" else s""""$uuid""""
    s"""{"name": {"title": "Mx", "first": "$first", "last": "L$first"},
       | "email": "$first@example.com",
       | "login": {"uuid": $key, "username": "u$first", "password": "pw$first"},
       | "dob": {"date": "1990-01-02T03:04:05.000Z", "age": 35},
       | "registered": {"date": "2015-06-07T08:09:10.000Z", "age": 10},
       | "phone": "011-555-$first",
       | "location": {"street": {"number": 1, "name": "$first Road"},
       |   "city": "C", "state": "S", "country": "Country$first",
       |   "postcode": "P"}}""".stripMargin
  }

  def batch(users: String*): String =
    users.mkString("""{"results": [""", ",", "]}")

  /** One run of `body` into `store` under the spec keys, stdout discarded. */
  def run(spark: SparkSession, store: String, body: String): IngestMetrics =
    Console.withOut(new PrintStream(new ByteArrayOutputStream())) {
      IngestionJob.run(spark, new BodyFetcher(body), store, pepper, aesKey,
        bidxKey)
    }
}
