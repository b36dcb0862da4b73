package graft
package registry

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Guards the query registry: the registered names, a SHA-256 of every
  * static oracle and the trained-oracle names, pinned in
  * `registry/oracle_pins.txt` (`<name> <sha256>` or `<name> trained`).
  * Changing an oracle's SQL means re-pinning it in the same change. */
class RegistrySpec extends AnyFunSuite {

  private val pins: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/registry/oracle_pins.txt"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, pin) = l.split(' ')
      name -> pin
    }.toMap
    finally src.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  private val trainedNames = Registry.specs.collect {
    case QuerySpec(name, _, _: Oracle.Trained) => name
  }.toSet

  test("registers exactly the 331 pinned names, each once") {
    val names = Registry.specs.map(_.name)
    assert(pins.size == 331)
    assert(names.size == 331)
    assert(names.distinct.size == names.size)
    assert(names.toSet == pins.keySet)
    assert(SparkEntry.queries.keySet == pins.keySet)
  }

  test("every static oracle's SQL hashes to its pinned SHA-256") {
    val static = SparkEntry.oracleSql
    assert(static.size == 317)
    val wrong = static.collect {
      case (name, sql) if !pins.get(name).contains(sha256(sql)) => name
    }
    assert(wrong.isEmpty, s"oracle SQL differs from its pin: ${wrong.toSeq.sorted}")
  }

  test("the 14 trained oracles are exactly the pinned trained names") {
    assert(trainedNames.size == 14)
    assert(trainedNames == pins.collect { case (n, "trained") => n }.toSet)
  }

  test("every spec has exactly one oracle: static and trained split the names") {
    assert(Registry.specs.forall(_.oracle != null))
    assert((SparkEntry.oracleSql.keySet & trainedNames).isEmpty)
    assert(SparkEntry.oracleSql.keySet ++ trainedNames == SparkEntry.queries.keySet)
  }

  test("every Bench canary is registered") {
    assert(Bench.Canaries.filterNot(Registry.byName.contains).isEmpty)
  }

  test("a name registered twice fails loudly") {
    val q = Registry.byName("q_asof")
    val e = intercept[IllegalArgumentException](
      Registry.index(Seq(q, Registry.byName("q_vwap"), q)))
    assert(e.getMessage.contains("q_asof"))
    assert(!e.getMessage.contains("q_vwap"))
  }

  test("unknown query names fail loudly, listing every unknown name") {
    val e = intercept[IllegalArgumentException](
      Registry.select(Seq("q_asof", "q_asoff", "q_vwap", "q_nope")))
    assert(e.getMessage.contains("q_asoff, q_nope"))
    assert(!e.getMessage.contains("q_vwap"))
    assert(Registry.select(Seq("q_vwap", "q_asof")).map(_.name) ==
      Seq("q_vwap", "q_asof"))
  }

  test("family files read parquet inputs through graft.io.ParquetInput") {
    // the partitioned round trips: their schema comes from directory names
    // and their output is rewritten on every build
    val allowed = Set("qWriteRoundtrip", "q_write_zorder")
    val owner = "(?:spec\\(\"|def )(\\w+)".r
    val files = new java.io.File("src/main/scala/graft/registry").listFiles()
      .filter(_.getName.endsWith(".scala"))
    assert(files.length >= 9)
    val direct = files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toIndexedSeq finally src.close()
      lines.indices.filter(i => lines(i).contains(".read.parquet(")).map { i =>
        val in = (i to 0 by -1).iterator
          .flatMap(j => owner.findFirstMatchIn(lines(j))).nextOption()
        (s"${f.getName}:${i + 1}", in.map(_.group(1)).getOrElse(""))
      }
    }
    val stray = direct.filterNot { case (_, in) => allowed(in) }
    assert(stray.isEmpty, s"direct .read.parquet( outside ParquetInput: $stray")
    assert(direct.map(_._2).toSet == allowed)
  }

  test("a static oracle's SQL is not evaluated until it is read") {
    val o = new Oracle.Static(sys.error("evaluated"))
    assert(intercept[RuntimeException](o.sql).getMessage == "evaluated")
  }
}
