package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of user batches in the `graft-users` record shape
  * (the API response envelope `{"results": [user...]}`).
  *
  * About [[LoadGen.RepeatShare]] of the slots reuse a key that is already
  * stored: drawn from the pre-seeded history when there is one, otherwise
  * from the keys this generator served earlier. About [[LoadGen.DupShare]]
  * of the batches carry a within-batch duplicate: the last slot repeats an
  * earlier slot's key with different person fields, so keep-first has to
  * pick.
  *
  * The sequence depends only on the constructor arguments, so two
  * generators built alike yield byte-identical batches. `expectedRows`
  * tracks how many distinct keys the store should hold after each batch.
  */
final class LoadGen(seed: Long, batchSize: Int, historyRows: Long) {
  import LoadGen.{DupShare, RepeatShare}

  private val rnd = new SplittableRandom(seed)
  private val served = mutable.ArrayBuffer.empty[String]
  private val servedSet = mutable.HashSet.empty[String]
  private var fresh = 0L
  private var newKeys = 0L
  var slots = 0L
  var repeatedSlots = 0L

  /** Rows the store holds once every batch so far has landed. */
  def expectedRows: Long = historyRows + newKeys

  def next(): String = {
    val keys = mutable.ArrayBuffer.empty[String]
    while (keys.size < batchSize) {
      val last = keys.size == batchSize - 1
      val key =
        if (last && keys.nonEmpty && rnd.nextDouble() < DupShare)
          keys(rnd.nextInt(keys.size))
        else if (rnd.nextDouble() < RepeatShare &&
            (historyRows > 0 || served.nonEmpty)) {
          repeatedSlots += 1
          if (historyRows > 0) LoadGen.historyUuid(seed, rnd.nextLong(historyRows))
          else served(rnd.nextInt(served.size))
        } else { fresh += 1; LoadGen.freshUuid(seed, fresh) }
      keys += key
    }
    slots += batchSize
    val users = keys.map(user)
    keys.foreach { k =>
      if (servedSet.add(k) && !LoadGen.isHistory(seed, k)) { newKeys += 1; served += k }
    }
    users.mkString("{\"results\": [", ", ", "]}")
  }

  private def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.size))

  private def user(uuid: String): String = {
    val first = pick(LoadGen.First)
    val last = pick(LoadGen.Last)
    val ageDob = 18 + rnd.nextInt(60)
    val ageReg = 1 + rnd.nextInt(15)
    def date(yearsAgo: Int) = f"${2025 - yearsAgo}%04d-${1 + rnd.nextInt(12)}%02d-" +
      f"${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:" +
      f"${rnd.nextInt(60)}%02d.000Z"
    val country = pick(LoadGen.Countries)
    val n = rnd.nextInt(10000)
    s"""{"name": {"title": "${pick(LoadGen.Titles)}", "first": "$first", "last": "$last"}, """ +
      s""""email": "${first.toLowerCase}.${last.toLowerCase}$n@example.com", """ +
      s""""login": {"uuid": "$uuid", "username": "${last.toLowerCase}$n", """ +
      s""""password": "pw${rnd.nextLong() & 0xffffffffL}"}, """ +
      s""""dob": {"date": "${date(ageDob)}", "age": $ageDob}, """ +
      s""""registered": {"date": "${date(ageReg)}", "age": $ageReg}, """ +
      f""""phone": "0${rnd.nextInt(100)}%02d-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d", """ +
      s""""location": {"street": {"number": ${1 + rnd.nextInt(9999)}, """ +
      s""""name": "${pick(LoadGen.Streets)}"}, "city": "${pick(LoadGen.Cities)}", """ +
      s""""state": "${pick(LoadGen.States)}", "country": "$country", """ +
      s""""postcode": "${10000 + rnd.nextInt(89999)}"}}"""
  }
}

object LoadGen {
  private val RepeatShare = 0.2
  private val DupShare = 0.25

  private def prefix(seed: Long) = f"${seed & 0xffffffffL}%08x"
  /** Key of history row `i`: also what the store seeding writes. */
  def historyUuid(seed: Long, i: Long): String =
    f"${prefix(seed)}-0000-4000-8000-$i%012x"
  def historyUuidPrefix(seed: Long): String = s"${prefix(seed)}-0000-4000-8000-"
  def freshUuid(seed: Long, i: Long): String =
    f"${prefix(seed)}-0001-4000-8000-$i%012x"
  def isHistory(seed: Long, k: String): Boolean =
    k.startsWith(historyUuidPrefix(seed))

  val Titles = Vector("Mr", "Ms", "Mrs", "Dr", "Mx")
  val First = Vector("Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald",
    "Frances", "John", "Radia", "Ken", "Margaret", "Tim", "Shafi", "Leslie")
  val Last = Vector("Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov",
    "Knuth", "Allen", "Backus", "Perlman", "Thompson", "Hamilton", "Lee")
  val Streets = Vector("Park Road", "Kings Parade", "Navy Way", "Mill Lane",
    "High Street", "Station Road", "Church Street", "Victoria Road")
  val Cities = Vector("Leeds", "Cambridge", "Arlington", "Lyon", "Porto",
    "Dresden", "Utrecht", "Turku")
  val States = Vector("West Yorkshire", "Cambridgeshire", "Virginia", "Rhone",
    "Norte", "Saxony", "Utrecht", "Varsinais-Suomi")
  val Countries = Vector("United Kingdom", "United States", "France",
    "Portugal", "Germany", "Netherlands", "Finland")
}
