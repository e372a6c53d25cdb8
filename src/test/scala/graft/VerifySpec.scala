package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dump` reports the queries that threw instead of only logging
  * them, so a failing query fails the run. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Verify.dump returns and lists a query that fails on a missing sfDir") {
    val root = Files.createTempDirectory("graft_verify_")
    val out = root.resolve("out")
    val failed = Verify.dump(spark, root.resolve("missing").toString,
      out.toString, Set("q01_pruned_scan"))
    assert(failed == Seq("q01_pruned_scan"))
    assert(Files.readString(out.resolve("_FAILED")).linesIterator.toSeq ==
      Seq("q01_pruned_scan"))
    assert(Files.exists(out.resolve("oracle_sql.json")))
  }
}
