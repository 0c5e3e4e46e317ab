package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins every key's DuckDB oracle SQL to a sha256 digest, so a refactor
  * that must keep the oracle byte-identical is checked by the suite, not
  * by a manual diff of `oracle_sql.json`.
  *
  * The digests live in `src/test/resources/oracle_sql.sha256`, one
  * `<key> <sha256 hex>` line per key, sorted by key. A change that means
  * to alter an oracle regenerates the file and states why:
  *
  *   sbt "Test/runMain graft.OracleSqlPins src/test/resources/oracle_sql.sha256"
  */
class OracleSqlPinSpec extends AnyFunSuite {
  test("every oracle SQL string matches its pinned digest, with no key missing or extra") {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "src/test/resources/oracle_sql.sha256 is missing")
    val pinned = try OracleSqlPins.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
    val now = OracleSqlPins.digests
    val missing = pinned.keySet -- now.keySet
    val extra = now.keySet -- pinned.keySet
    val changed = pinned.keySet.intersect(now.keySet).filter(k => pinned(k) != now(k))
    assert(missing.isEmpty, s"pinned keys with no oracle: ${missing.toSeq.sorted.mkString(", ")}")
    assert(extra.isEmpty, s"oracle keys with no pin: ${extra.toSeq.sorted.mkString(", ")}")
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted.mkString(", ")}")
  }
}

object OracleSqlPins {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  def digests: Map[String, String] = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }

  def parse(text: String): Map[String, String] =
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(k, d) = line.split("\\s+")
      k -> d
    }.toMap

  def render(pins: Map[String, String]): String =
    pins.toSeq.sortBy(_._1).map { case (k, d) => s"$k $d\n" }.mkString

  /** Writes the current digests to `args(0)`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: OracleSqlPins <out file>")
    Files.write(Paths.get(args(0)), render(digests).getBytes(UTF_8))
    println(s"[oracle-pins] wrote ${digests.size} digests to ${args(0)}")
  }
}
