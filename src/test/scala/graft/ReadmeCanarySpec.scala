package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Doc-drift canary — the rounds 7/8/9 verdicts each caught README gate
  * counts pinned one commit behind the contract (a gate added after the
  * bench-record commit). This spec mechanizes the rule "bench artifact +
  * README move in the same commit as the gate that grew the suite":
  *
  *   - every current-state gate-count claim in README.md must equal
  *     `SparkEntry.queries.size`;
  *   - the committed `bench_out.json` must cover exactly the declared
  *     gate set (so a new gate forces a full re-bench before the suite
  *     goes green — see the memory note: never commit a subset run);
  *   - README's pinned bench record (the LARGEST "N-query suite at T s"
  *     claim — earlier ones are historical narrative) must match that
  *     artifact's count and total.
  */
class ReadmeCanarySpec extends AnyFunSuite {

  private lazy val readme = Files.readString(Paths.get("README.md"))
  private lazy val declared = SparkEntry.queries.keySet
  private lazy val bench = Files.readString(Paths.get("bench_out.json"))

  test("README gate-count claims match SparkEntry.queries.size") {
    val n = declared.size
    val claims =
      raw"contract: (\d+) gate queries".r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq ++
        raw"\((\d+) at this writing".r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(claims.nonEmpty, "README lost its gate-count claims — keep the canary markers")
    assert(claims.forall(_ == n),
      s"README claims gate count(s) ${claims.mkString(", ")} but SparkEntry declares $n — " +
        "update README.md in the same commit as the gate change")
  }

  test("committed bench_out.json covers exactly the declared gate set") {
    val qBlock = bench.substring(bench.indexOf("\"queries\":{"))
    val inner = qBlock.substring("\"queries\":{".length, qBlock.indexOf("}"))
    val benched = raw""""(q[0-9]+[a-zA-Z0-9_]*)":""".r
      .findAllMatchIn(inner).map(_.group(1)).toSet
    val missing = declared -- benched
    val extra = benched -- declared
    def few(s: Set[String]) =
      s"${s.size} (${s.toSeq.sorted.take(5).mkString(", ")}${if (s.size > 5) ", …" else ""})"
    assert(missing.isEmpty && extra.isEmpty,
      s"bench_out.json drifted from the contract — missing=${few(missing)} " +
        s"extra=${few(extra)}; re-run the FULL graft.Bench at sf0.1 and commit " +
        "it with the README numbers (never a subset run)")
  }

  test("README's pinned bench record matches the committed artifact") {
    val records = raw"(\d+)-query suite at ([0-9.]+) s".r.findAllMatchIn(readme)
      .map(m => (m.group(1).toInt, m.group(2).toDouble)).toSeq
    assert(records.nonEmpty, "README lost its bench-record claim")
    val (cnt, total) = records.maxBy(_._1) // earlier, smaller ones are history
    assert(cnt == declared.size,
      s"README pins a $cnt-query bench record but the contract declares ${declared.size}")
    val value = raw""""value":([0-9.]+)""".r.findFirstMatchIn(bench).get.group(1).toDouble
    assert(math.abs(value - total) < 0.1,
      f"README pins the bench record at $total%.1f s but bench_out.json holds $value%.1f s")
  }
}
