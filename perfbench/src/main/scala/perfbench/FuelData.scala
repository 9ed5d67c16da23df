package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable
import scala.math.Ordering.Implicits._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One golden station: the fields the dashboard shows, plus its wire line. */
final case class Station(code: String, name: String, brand: String, address: String,
    lat: Double, lon: Double, wire: String)

/** One generated price event. `tenths` is the price in tenths of a cent,
  * so the oracle sums exactly. `lastupdated` (epoch seconds) strictly
  * increases with `seq`.
  */
final case class Event(seq: Long, stationcode: String, fueltype: String, tenths: Int) {
  def price: Double = tenths / 10.0
  def priceText: String = s"${tenths / 10}.${tenths % 10}"
  def lastupdated: Long = FuelData.BaseEpochS + 2 * seq
  def wire: String =
    s"""{"stationcode": "$stationcode", "fueltype": "$fueltype", "price": $priceText, """ +
      s""""lastupdated": "${FuelData.tsText(lastupdated)}", "seq": $seq}"""
}

/** Seeded inputs drawn from the golden snapshot, and a plain-Scala
  * oracle of the three standing queries over them.
  */
object FuelData {
  val BaseEpochS: Long = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  private val tsFormat = DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss").withZone(ZoneOffset.UTC)
  def tsText(epochS: Long): String = tsFormat.format(Instant.ofEpochSecond(epochS))

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)

  def stations(path: String): IndexedSeq[Station] = {
    val om = new ObjectMapper()
    lines(path).map { l =>
      val n = om.readTree(l)
      Station(n.get("code").asText, n.get("name").asText, n.get("brand").asText,
        n.get("address").asText, n.get("location_latitude").asDouble,
        n.get("location_longitude").asDouble, l)
    }.toIndexedSeq
  }

  /** Distinct (stationcode, fueltype) pairs of the golden price table. */
  def pairs(path: String): IndexedSeq[(String, String)] = {
    val om = new ObjectMapper()
    lines(path).map { l =>
      val n = om.readTree(l)
      (n.get("stationcode").asText, n.get("fueltype").asText)
    }.distinct.toIndexedSeq
  }

  /** Event `seq` of the stream seeded by `seed`; independent of any other event. */
  def event(seed: Long, seq: Long, pairs: IndexedSeq[(String, String)]): Event = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + seq)
    val (code, fuel) = pairs(r.nextInt(pairs.size))
    Event(seq, code, fuel, 1500 + r.nextInt(1000))
  }
}

/** The standing queries recomputed in plain Scala as events are added. */
final class Oracle(stations: IndexedSeq[Station]) {
  private val sums = mutable.Map.empty[String, (Long, Long)] // fueltype -> (sum tenths, count)
  private val latest = mutable.Map.empty[(String, String), Event]

  def add(e: Event): Unit = {
    val (s, n) = sums.getOrElse(e.fueltype, (0L, 0L))
    sums(e.fueltype) = (s + e.tenths, n + 1)
    val k = (e.stationcode, e.fueltype)
    latest.get(k) match {
      case Some(prev) if (prev.lastupdated, prev.seq) >= (e.lastupdated, e.seq) => ()
      case _ => latest(k) = e
    }
  }

  /** Exact mean price per fuel type. */
  def bar: Map[String, BigDecimal] =
    sums.map { case (ft, (s, n)) => ft -> BigDecimal(s) / BigDecimal(n) / 10 }.toMap

  /** A reported 2-dp mean agrees with the exact mean when it is a 2-dp
    * value within half a cent of it.
    */
  def barAgrees(fueltype: String, reported: Double): Boolean =
    bar.get(fueltype).exists { exact =>
      val cents = reported * 100
      math.abs(cents - math.rint(cents)) < 1e-6 && (BigDecimal(reported) - exact).abs <= BigDecimal("0.005000001")
    }

  /** Q-map rows: (name, brand, address, lat, lon, sorted fuel info joined by `<br>`). */
  def qmap: Seq[(String, String, String, Double, Double, String)] = {
    val byCode = latest.values.groupBy(e => e.stationcode.toLong)
    stations.flatMap { s =>
      val infos = byCode.getOrElse(s.code.toLong, Nil).map(e => s"${e.fueltype}: ${e.priceText}")
      (if (infos.isEmpty) Seq("") else infos).map(i => (s.name, s.brand, s.address, s.lat, s.lon) -> i)
    }.groupBy(_._1).toSeq.map { case ((n, b, a, la, lo), xs) =>
      (n, b, a, la, lo, xs.map(_._2).sorted.mkString("<br>"))
    }
  }
}
