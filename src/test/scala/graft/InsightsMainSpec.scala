package graft

import org.scalatest.funsuite.AnyFunSuite

/** The CLI's argument parser, without a Spark session. */
class InsightsMainSpec extends AnyFunSuite {
  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](InsightsMain.parseArgs(args)).getMessage

  test("well-formed --key value pairs parse to a map") {
    assert(InsightsMain.parseArgs(Seq("--csv_file_path", "a.csv", "--output_path", "out",
      "--mode", "compat", "--max_cols", "6")) === Map("csv_file_path" -> "a.csv",
      "output_path" -> "out", "mode" -> "compat", "max_cols" -> "6"))
    assert(InsightsMain.parseArgs(Nil) === Map.empty)
  }

  test("unknown keys, keys without --, and an odd argument count fail with the usage line") {
    val unknown = rejects("--csv_file_path", "a.csv", "--mdoe", "compat")
    assert(unknown.contains("unknown option --mdoe") && unknown.contains("usage: InsightsMain"))
    assert(rejects("--max_groups_per_col", "1000").contains("unknown option --max_groups_per_col"))
    val bare = rejects("csv_file_path", "a.csv")
    assert(bare.contains("expected a --key, got 'csv_file_path'") && bare.contains("usage:"))
    val odd = rejects("--csv_file_path", "a.csv", "--mode")
    assert(odd.contains("got 3 arguments") && odd.contains("usage:"))
  }
}
