package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the generated declared-query index (QUERIES.md) and the
  * committed bench ledger (baseline_queries.json): both are derived
  * artifacts that go stale silently when a query lands without
  * regenerating them, and a stale index is worse than none — it tells
  * the next maintainer the key doesn't exist. The spec re-derives the
  * key sets from the query registry itself (the single source of truth
  * the artifacts are generated FROM), so drift fails by name. */
class QueriesIndexSpec extends AnyFunSuite {

  private def fileKeys(path: String, pattern: String): Set[String] = {
    val s = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    pattern.r.findAllMatchIn(s).map(_.group(1)).toSet
  }

  test("QUERIES.md indexes exactly the declared keys") {
    val indexed = fileKeys("QUERIES.md", """(?m)^\| (q\w+) \|""")
    val declared = SparkEntry.queries.keySet
    val missing = declared -- indexed
    val stale = indexed -- declared
    assert(missing.isEmpty && stale.isEmpty,
      s"regenerate QUERIES.md (tools/gen_queries_md.py) — " +
        s"missing=${missing.toSeq.sorted.take(10)} " +
        s"stale=${stale.toSeq.sorted.take(10)}")
  }

  test("QUERIES.md header count matches the declared-query count") {
    // explicit UTF-8: the JVM default charset isn't, on this box, and
    // the header's em-dash would throw MalformedInputException
    val header = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("QUERIES.md")),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.take(5).mkString(" ")
    assert(header.contains(s"${SparkEntry.queries.size} declared"),
      "QUERIES.md headline count drifted — regenerate")
  }

  test("baseline_queries.json carries an entry for every declared key " +
    "(the bench's load-defense band needs one per query)") {
    val ledger = fileKeys("baseline_queries.json", """"(q\w+)":""")
    val declared = SparkEntry.queries.keySet
    val missing = declared -- ledger
    assert(missing.isEmpty,
      s"add landing-time baseline entries for " +
        s"${missing.toSeq.sorted.take(10)}")
    val stale = ledger -- declared
    assert(stale.isEmpty,
      s"ledger keys with no declared query: ${stale.toSeq.sorted.take(10)}")
  }
}
