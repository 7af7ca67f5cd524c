package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One generated CSV batch and the generator's tally of its valid rows:
  * (row count, kWh in hundredths) per key.
  */
final case class Batch(file: String, rows: Long, valid: Long, bytes: Long,
                       home: Map[String, (Long, Long)],
                       homeMonth: Map[String, (Long, Long)],
                       appliance: Map[String, (Long, Long)],
                       season: Map[String, (Long, Long)])

final case class Tallies(dir: String, batches: IndexedSeq[Batch])

object Tallies {
  def load(dir: String): Tallies = {
    val root = new ObjectMapper().readTree(new File(dir, "tallies.json"))
    def counts(n: JsonNode): Map[String, (Long, Long)] =
      n.fields().asScala.map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)).toMap
    val batches = root.get("batches").elements().asScala.map { b =>
      Batch(b.get("file").asText, b.get("rows").asLong, b.get("valid").asLong,
        b.get("bytes").asLong, counts(b.get("home")), counts(b.get("home_month")),
        counts(b.get("appliance")), counts(b.get("season")))
    }.toIndexedSeq
    Tallies(dir, batches)
  }
}

/** Running totals over the batches appended so far. */
final class Running {
  var rows = 0L
  var valid = 0L
  val home = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
  val homeMonth = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
  val appliance = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
  val season = mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))

  def add(b: Batch): Unit = {
    rows += b.rows
    valid += b.valid
    Seq(home -> b.home, homeMonth -> b.homeMonth, appliance -> b.appliance,
      season -> b.season).foreach { case (acc, delta) =>
      delta.foreach { case (k, (n, c)) =>
        val (n0, c0) = acc(k)
        acc(k) = (n0 + n, c0 + c)
      }
    }
  }

  def centi: Long = home.values.map(_._2).sum
}

object Check {
  /** kWh as exact hundredths; every generated value has two decimals. */
  def centi(kwh: Double): Long = math.round(kwh * 100.0)

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
