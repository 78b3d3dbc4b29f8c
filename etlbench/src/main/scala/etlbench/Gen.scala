package etlbench

import java.util.SplittableRandom

/** Seeded workload inputs, and the rows each ETL workload must land,
  * computed here in plain Scala from the same generator — never by
  * asking the program under test.
  */
object Gen {

  private val countries = Array("DE", "FR", "US", "JP", "BR", "IN", "NG", "SE")
  private val statuses = Array("active", "active", "active", "paused",
    "cancelled")
  private val tagWords = Array("new", "vip", "promo", "b2b", "eu", "mobile",
    "web", "retry")

  /** One `etl_fanout` source row: nested user struct and tag array. */
  final case class Order(id: Long, status: String, cents: Long,
      name: String, country: String, tier: Long, tags: Seq[String], ts: Long)

  /** Two-decimal money text; the JSON parser reads it as this double. */
  def money(cents: Long): String = f"${cents / 100}.${cents % 100}%02d"

  def orders(seed: Long, n: Int): Array[Order] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      Order(id = 1000000L + i,
        status = statuses(r.nextInt(statuses.length)),
        cents = r.nextLong(100L, 5000000L),
        name = s"user_${r.nextInt(50000)}",
        country = countries(r.nextInt(countries.length)),
        tier = r.nextInt(1, 6).toLong,
        tags = Seq.fill(r.nextInt(0, 4))(tagWords(r.nextInt(tagWords.length))),
        ts = 1700000000000L + r.nextLong(0L, 86400000L * 30))
    }
  }

  def orderJson(o: Order): String =
    s"""{"id":${o.id},"status":"${o.status}","amount":${money(o.cents)},""" +
      s""""user":{"name":"${o.name}","country":"${o.country}",""" +
      s""""tier":${o.tier}},"tags":[${o.tags.map(t => s""""$t"""").mkString(",")}],""" +
      s""""ts":${o.ts}}"""

  /** The fan-out module's SQL, applied to the generated rows. */
  def fanoutLanded(rows: Array[Order]): (Seq[String], Iterator[Seq[Any]]) =
    (Seq("id", "user_name", "country", "amount", "n_tags"),
      rows.iterator.filter(_.status != "cancelled").map(o =>
        Seq(o.id, o.name, o.country, money(o.cents).toDouble,
          o.tags.size.toLong)))

  /** One `etl_sequential_merge` source row; a key repeated at a
    * higher version is an update the merge must keep.
    */
  final case class Account(id: Long, version: Long, name: String,
      cents: Long, by: String, at: Long)

  /** About `n` rows over `n / 1.4` keys: 40 % of the keys get a
    * second, higher version, and the rows arrive shuffled, so an
    * update can come before or after the row it supersedes.
    */
  def accounts(seed: Long, n: Int): Array[Account] = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val keys = (n / 1.4).toInt
    val rows = Array.newBuilder[Account]
    def one(k: Int, v: Long) = Account(id = 5000000L + k, version = v,
      name = s"acct_${r.nextInt(1000000)}", cents = r.nextLong(0L, 10000000L),
      by = s"svc${r.nextInt(8)}", at = 1700000000L + r.nextLong(0L, 2592000L))
    for (k <- 0 until keys) {
      rows += one(k, 1L)
      if (r.nextInt(100) < 40) rows += one(k, 2L + r.nextInt(5))
    }
    val out = rows.result()
    for (i <- out.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  def accountJson(a: Account): String =
    s"""{"id":${a.id},"version":${a.version},"name":"${a.name}",""" +
      s""""amount":${money(a.cents)},"updated":{"by":"${a.by}","at":${a.at}}}"""

  /** The merge module's SQL: the latest version of every key. */
  def mergeLanded(rows: Array[Account]): (Seq[String], Iterator[Seq[Any]]) =
    (Seq("id", "version", "name", "amount", "updated_by"),
      rows.groupBy(_.id).valuesIterator.map(_.maxBy(_.version)).map(a =>
        Seq(a.id, a.version, a.name, money(a.cents).toDouble, a.by)))

  // ---- analytics corpus -----------------------------------------------

  private val vocab = ("batch part spark line column order small sort fast " +
    "value scan a hash slow group agg filter query big key window row " +
    "table stream merge data vector join the customer").split(' ')

  /** `documents`: 10 to 100 words over a 31-word vocabulary; one in
    * twenty is a near-copy (one to three words changed) of an earlier
    * document, so the near-duplicate operators have real pairs to find.
    */
  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed ^ 0xd0c5L)
    val langs = Array("en", "en", "en", "de", "fr", "zh", "es")
    val texts = new Array[Array[String]](n)
    (0 until n).map { i =>
      val words =
        if (i > 10 && r.nextInt(20) == 0) {
          val w = texts(r.nextInt(i)).clone()
          for (_ <- 0 until r.nextInt(1, 4))
            w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
          w
        } else Array.fill(r.nextInt(10, 101))(vocab(r.nextInt(vocab.length)))
      texts(i) = words
      val text = words.mkString(" ")
      (i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
  }

  /** `embeddings`: unit 64-d vectors around ten weak centres (`label`
    * is the centre), so most pairs are far apart and a few hundred
    * pass a 0.4 cosine.
    */
  def embeddings(seed: Long, n: Int, dim: Int = 64): Seq[(Long, Array[Float], Int)] = {
    val r = new SplittableRandom(seed ^ 0xe3bL)
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val centres = Array.fill(10, dim)(gauss() * 0.01)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      (i.toLong, unit(Array.tabulate(dim)(d => centres(label)(d) + gauss() * 0.125)),
        label)
    }
  }
}
