package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated API event. `promo` is the field that only a few rows
  * after the first page carry, so a schema sampled from the first page
  * never sees it.
  */
final case class Event(eventId: Long, userId: Long, kind: String,
    amountCents: Long, device: String, country: String, city: String,
    tags: Vector[String], promo: Option[String]) {

  def json: String = {
    val sb = new StringBuilder(256)
    sb.append("{\"event_id\":").append(eventId)
      .append(",\"user_id\":").append(userId)
      .append(",\"kind\":\"").append(kind)
      .append("\",\"amount_cents\":").append(amountCents)
      .append(",\"ctx\":{\"device\":\"").append(device)
      .append("\",\"geo\":{\"country\":\"").append(country)
      .append("\",\"city\":\"").append(city).append("\"}}")
      .append(",\"tags\":[")
    tags.iterator.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(t).append('"')
    }
    sb.append(']')
    promo.foreach(p => sb.append(",\"promo\":\"").append(p).append('"'))
    sb.append('}').toString
  }
}

/** Seeded input generator for the HTTP ingest workload. Everything here
  * is a pure function of the seed: the rows, the page bodies and the
  * pages whose first attempt is answered 503.
  */
final class LoadGen(val seed: Long, val rows: Int, val pageSize: Int,
    promoFromRow: Int) {
  import LoadGen._

  val events: Vector[Event] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + rows)
    val users = math.max(rows / 40, 1)
    Vector.tabulate(rows) { i =>
      val k = rnd.nextInt(100)
      val kind =
        if (k < 10) "heartbeat" else if (k < 70) "view"
        else if (k < 92) "click" else "buy"
      val c = rnd.nextInt(Countries.length)
      val nTags = 1 + rnd.nextInt(3)
      val tags = Vector.fill(nTags)(Tags(rnd.nextInt(Tags.length)))
      val promo =
        if (i >= promoFromRow && rnd.nextInt(1000) == 0)
          Some(f"P${rnd.nextInt(100000)}%05d")
        else None
      Event(eventId = i.toLong + 1, userId = 1L + rnd.nextInt(users),
        kind = kind, amountCents = if (kind == "buy") 100L + rnd.nextInt(50000) else 0L,
        device = Devices(rnd.nextInt(Devices.length)),
        country = Countries(c), city = s"${Countries(c).toLowerCase}-${rnd.nextInt(8)}",
        tags = tags, promo = promo)
    }
  }

  val pages: Int = (rows + pageSize - 1) / pageSize

  /** Rows of 0-based page `p` as a JSON array body fragment. */
  private def dataArray(p: Int): String =
    events.slice(p * pageSize, (p + 1) * pageSize).iterator.map(_.json)
      .mkString("[", ",", "]")

  /** `page_number` bodies, 1-based, with the item total the source's
    * `total_items_pointer` reads.
    */
  def renderPaged(): Array[Array[Byte]] =
    Array.tabulate(pages) { p =>
      s"""{"meta":{"total_items":$rows},"data":${dataArray(p)}}""".getBytes(UTF_8)
    }

  def emptyPaged: Array[Byte] =
    s"""{"meta":{"total_items":$rows},"data":[]}""".getBytes(UTF_8)

  /** Whether the first request for 1-based page `p` is answered 503: a
    * seeded two percent of pages, so the retry path runs every run.
    */
  def failsFirst(p: Int): Boolean = java.lang.Long.remainderUnsigned(
    mix(seed ^ 0x5DEECE66DL, p.toLong), 100L) < 2
}

object LoadGen {
  val Countries: Vector[String] =
    Vector("DE", "FR", "US", "BR", "IN", "JP", "NG", "ES", "SE", "MX", "KR", "AU")
  val Devices: Vector[String] = Vector("ios", "android", "web", "tv")
  val Tags: Vector[String] =
    Vector("new", "promo", "mobile", "returning", "sale", "beta", "vip", "gift")

  /** SplitMix64 finaliser over two inputs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
